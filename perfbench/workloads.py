"""The benchmark's workloads: which public calls one pass makes, and why.

Each workload drives the library through its public functions only: the
registry's ``spec.spark`` builders, the ``ensure_*`` store builders and
``EntregasPipeline.run``. A pass issues its operations one at a time
(closed loop, one client): the cold pass in the listed order, later passes
in an order drawn from the run's seed.

The sizes are set by the run budget, not by the data: every run starts a
fresh JVM (about 8 s on a 4-core VM) and pays the first jobs' warm-up
(about 6 s), and the benchmark's 48 runs must fit in under an hour even
when the host is busy. So there are two workloads, one exercising the
pipeline and bypassing the query registry and one the other way round.
``query_mix`` keeps one query per query module, at sf0.01, where every
operation is still bound by job and stage floors, and builds the stores two
of them read; ``ensure_ivfpq_index`` and its probe q242 would add about
14 s to every run and are left out.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
DATA_DIR = BENCH_DIR / "data"

# the scale the benchmark runs at; the smoke test runs at 0.001
DEFAULT_SF = "0.01"

# the pipeline's date window over the generated input: one quarter of
# ``fecha_proceso`` values, so 91 output partitions, one file each (the
# synthetic shipdates span 1995-2001). On a 4-core VM a steady pass takes
# about 3.5 s, 2.1 s of it in the sink; a two-year window (731 partitions)
# takes 14 s, 12 s in the sink, more than the run budget can carry.
ETL_START, ETL_END = "19960101", "19960331"
# share of input rows that get one exact duplicate: drawn from the seed
# inside this range, so the dedup rule (P3) always has work to do
DUP_RATE_RANGE = (0.50, 0.60)

# store builders, by the name of their public function
STORES = {
    "ensure_signature_store": "etl_entregas_pyspark_spark.queries.lsh_index",
    "ensure_ivf_index": "etl_entregas_pyspark_spark.queries.ivf_index",
}


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    queries: tuple[str, ...] = ()  # registry name prefixes, e.g. "q01"
    stores: tuple[str, ...] = ()  # keys of STORES, built during set-up
    pipeline: bool = False  # one EntregasPipeline.run(write=True) per pass
    # nominal seconds of one warm steady pass on a 4-vCPU VM: ``--seconds``
    # buys ``seconds / pass_s`` steady passes
    pass_s: float = 10.0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_pipeline",
            "the paper's own job: CSV extract, DQ ladder, filters, derive and "
            "the partitioned CSV sink; no registry query runs",
            pipeline=True,
            pass_s=3.0,
        ),
        Workload(
            "query_mix",
            "one query per query module: floor-bound relational to incremental "
            "rows, pair and set joins, and LSH and IVF probes of stores written "
            "in set-up; no pipeline",
            queries=("q01", "q30", "q58", "q59", "q101", "q196", "q158", "q223", "q235", "q151"),
            stores=tuple(STORES),
            pass_s=10.0,
        ),
    )
}


def sf_dir(sf: str) -> Path:
    return DATA_DIR / f"sf{sf}"
