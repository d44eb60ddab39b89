"""Make a run's inputs and expected outputs with DuckDB, never with the
program under test.

Runs as a child process of ``run.py`` so DuckDB's memory never counts in
the peak RSS of the Spark driver process:

    python3 perfbench/prepare.py --workload W --sf 0.01 --seed N --out DIR --cache DIR

Writes ``DIR/expected.json`` and, for the pipeline workload, the input CSV
``DIR/entregas.csv``:

- query workloads: the registry's DuckDB oracle for each query, reduced
  to ``oracle.digest``. A query's digest does not depend on the seed, so
  it is kept in the cache directory under a key made of everything it
  does depend on (the oracle SQL, the tables, DuckDB's version and the
  canonicalisation code) and computed again only when one of them changes;
- ``etl_pipeline``: the synthesized entregas frame (``entregas._RAW_SQL``'s
  column mapping over ``lineitem``) with exact duplicate rows injected at
  a seed-drawn rate, plus the DQ ladder and the per-``fecha_proceso`` row
  counts DuckDB derives from that same CSV.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import sys
from pathlib import Path

import duckdb

from oracle import digest
from workloads import BENCH_DIR, DUP_RATE_RANGE, ETL_END, ETL_START, WORKLOADS, sf_dir


def _connect(data: Path, tmp: Path) -> duckdb.DuckDBPyConnection:
    from etl_entregas_pyspark_spark.io.readers import TESTDATA_TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory = '{tmp}'")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data / t}.parquet'")
    return con


def _inputs_sha(data: Path) -> str:
    """Hash of what every oracle digest depends on besides its SQL."""
    h = hashlib.sha256(duckdb.__version__.encode())
    for path in [*sorted(data.glob("*.parquet")), BENCH_DIR / "oracle.py",
                 BENCH_DIR.parent / "tools" / "check_correctness.py"]:
        h.update(path.name.encode())
        h.update(path.read_bytes())
    return h.hexdigest()


def expected_queries(
    con: duckdb.DuckDBPyConnection, prefixes: tuple[str, ...], data: Path, cache: Path
) -> dict:
    from etl_entregas_pyspark_spark.queries import REGISTRY

    cache.mkdir(parents=True, exist_ok=True)
    inputs = _inputs_sha(data)
    out = {}
    for prefix in prefixes:
        (name,) = [n for n in REGISTRY if n.split("_")[0] == prefix]
        sql = REGISTRY[name].oracle
        key = hashlib.sha256(f"{inputs}\n{sql}".encode()).hexdigest()[:24]
        path = cache / f"{name}-{key}.json"
        if path.is_file():
            out[name] = json.loads(path.read_text())
            continue
        res = con.sql(sql)
        out[name] = digest([d[0] for d in res.description], res.fetchall())
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps(out[name]))
        tmp.replace(path)
    return out


def entregas_input(con: duckdb.DuckDBPyConnection, seed: int, csv: Path) -> dict:
    from etl_entregas_pyspark_spark.queries.entregas import _RAW_SQL

    rate = random.Random(seed).uniform(*DUP_RATE_RANGE)
    key = ", ".join(d[0] for d in con.sql(f"SELECT * FROM ({_RAW_SQL}) LIMIT 0").description)
    con.execute(
        f"""
        COPY (
            SELECT {key} FROM ({_RAW_SQL}) raw, range(2) t(copy)
            WHERE copy = 0 OR hash({key}, {seed}) % 1000000 < {int(rate * 1_000_000)}
            ORDER BY hash({key}, copy, {seed} + 1), {key}
        ) TO '{csv}' (HEADER, DELIMITER ',')
        """
    )
    con.execute(
        f"CREATE VIEW src AS SELECT * FROM read_csv('{csv}', header=true, all_varchar=true)"
    )
    p1 = "(material IS NULL OR trim(material) = '')"
    types = "tipo_entrega IN ('ZPRE', 'ZVE1', 'Z04', 'Z05')"
    countries = "upper(pais) IN ('GT', 'SV', 'HN', 'EC', 'PE', 'JM')"
    ladder = con.sql(
        f"""
        WITH kept AS (SELECT * FROM src WHERE NOT {p1} AND {types}),
        uniq AS (SELECT DISTINCT * FROM kept)
        SELECT
            (SELECT count(*) FROM src) AS input_rows,
            (SELECT count(*) FROM src WHERE {p1}) AS null_material_removed,
            (SELECT count(*) FROM src WHERE NOT {p1} AND NOT {types}) AS invalid_type_removed,
            (SELECT count(*) FROM kept) - (SELECT count(*) FROM uniq) AS duplicates_removed,
            (SELECT count(*) FROM uniq WHERE {countries}) AS final_rows
        """
    )
    dq = dict(zip([d[0] for d in ladder.description], map(int, ladder.fetchone())))
    per_fecha = dict(
        con.sql(
            f"""
            SELECT fecha_proceso, count(*) FROM (
                SELECT DISTINCT * FROM src WHERE NOT {p1} AND {types}
            )
            WHERE {countries} AND fecha_proceso BETWEEN '{ETL_START}' AND '{ETL_END}'
            GROUP BY 1
            """
        ).fetchall()
    )
    return {"dup_rate": rate, "data_quality": dq, "per_fecha": per_fecha}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--sf", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--cache", type=Path, required=True, help="where oracle digests are kept")
    args = ap.parse_args(argv)

    w = WORKLOADS[args.workload]
    con = _connect(sf_dir(args.sf), args.out / "duckdb")
    if w.pipeline:
        expected = entregas_input(con, args.seed, args.out / "entregas.csv")
    else:
        expected = expected_queries(con, w.queries, sf_dir(args.sf), args.cache)
    (args.out / "expected.json").write_text(json.dumps(expected))
    return 0


if __name__ == "__main__":
    sys.exit(main())
