#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload etl_pipeline --seed 1 --seconds 15 --trace 0

Every workload in turn, end-to-end metrics and oracle check included:

    for w in etl_pipeline query_mix; do
        python3 perfbench/run.py --workload $w --seed 1 --seconds 15 --trace 0; done

Run from the root of a checkout. The harness builds the session the
library builds (``session.build_session`` on ``local[nproc]``) and drives
the library through its public functions, one operation at a time.

Every run starts with a cold pass, the first pass in a fresh JVM (what a
one-shot run pays; ``cold_s`` in the record). It collects every result
and checks it against what DuckDB computed from the same inputs
(``prepare.py``); the check itself is not timed. The pipeline's DQ ladder
and row count are checked on every pass, its files read back on the cold
pass. A pass's time is the sum of its operations' spans.

A run with ``--trace 0`` measures, in one fresh JVM:

- ``setup_s``: ``build_session`` plus the workload's store builds, with
  the JVM's launch. It is one sample per run: set-ups repeated on a warm
  JVM take about 0.1 s on ``etl_pipeline`` and do not show the launch;
- ``wall_s``: one steady pass with every operation at its fastest over
  the steady passes after the cold pass. There are ``--seconds /
  pass_s`` of them (``workloads.py``), at least ``MIN_STEADY``: a count
  fixed before the first pass, so a busy host lengthens the run rather
  than thinning the sample or stopping it at another point of the JVM's
  warm-up. On a shared host the fastest timing of an operation is its
  cost with the least interference from the other tenants.

Both are reported in seconds of a reference machine. A shared 4-vCPU VM
runs the same code up to three times slower for minutes at a time, as its
host gets busy, and no sample taken inside one run escapes that. So the
run times a calibration loop (``_reference_s``: fixed work that calls
nothing of the program) before the set-up and before every steady pass,
and divides both figures by the fastest calibration over ``REF_S``. The
record keeps the raw figures, the calibrations, and for every pass the
CPU seconds the run used and the machine used.

A run with ``--trace 1`` reports ``cold_s`` and ``peak_rss_mb`` (the
JVM's ``VmHWM`` plus this Python process's, after the set-up and the cold
pass). Then, on the same JVM, it runs one session with Spark's event log
on and every span under its own job group, and one without; which comes
first alternates with the seed, so JVM warm-up is not counted as tracing
cost. It folds the traced session's event log into per-layer counters and
reports the tracing overhead as traced minus untraced steady pass time,
both in this machine's seconds, as every per-layer figure is.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
``fail_frac`` is ``failed / attempted``. The full record (stamp, per-pass
times, spans, failures) goes to ``.perfbench/records/`` in the checkout
and the oracle digests stay in ``.perfbench/oracle-cache/``; nothing else
outlives the run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path
from random import Random
from typing import Any

from metrics import END_TO_END, PIPELINE_STAGES, per_layer_catalog, per_layer_values
from oracle import digest
from spans import Tracer, fold_event_log
from workloads import BENCH_DIR, DEFAULT_SF, ETL_END, ETL_START, STORES, WORKLOADS, Workload, sf_dir

ROOT = BENCH_DIR.parent
PACKAGE = "etl_entregas_pyspark_spark"
MIN_STEADY = 3
# a traced run splits ``--seconds`` between its two sessions, with at
# least this many steady passes in each
TRACED_STEADY = 2
MB = float(1 << 20)
# the calibration loop: REF_N steps of a fixed integer recurrence, about
# REF_S seconds of one core of a quiet 4-vCPU VM
REF_N = 2_000_000
REF_S = 0.2


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _driver_memory() -> str:
    """A quarter of the machine's RAM, between 1g and 4g."""
    with open("/proc/meminfo") as fh:
        total_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, total_kb // (4 << 20)))}g"


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _host_busy_s() -> float:
    """CPU seconds every process of this machine has used, from ``/proc/stat``."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return (sum(ticks[:8]) - ticks[3] - ticks[4]) / os.sysconf("SC_CLK_TCK")


def _proc_cpu_s(pid: int | str) -> float:
    """User plus system CPU seconds of a process and its reaped children."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return sum(int(x) for x in fields[11:15]) / os.sysconf("SC_CLK_TCK")


def _reference_s() -> float:
    """Time one run of the calibration loop: fixed work in this process that
    calls nothing of the program under test, so its time tracks only how
    fast the machine runs at that moment."""
    t0 = time.perf_counter()
    x = 0
    for i in range(REF_N):
        x = (x * 1103515245 + i) & 0xFFFFFFFF
    return time.perf_counter() - t0


def _tree_mb(path: Path) -> tuple[float, int]:
    files = [p for p in path.rglob("*") if p.is_file() and not p.name.startswith((".", "_"))]
    return sum(p.stat().st_size for p in files) / MB, len(files)


def stamp(workload: str, sf: str, seed: int, trace: int, cpus: int) -> dict[str, Any]:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    h = hashlib.sha256()
    for p in sorted((ROOT / PACKAGE).rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return {
        "workload": workload, "sf": sf, "cpus": cpus, "nproc": os.cpu_count(), "seed": seed,
        "trace": trace, "pyspark": pyspark.__version__, "python": sys.version.split()[0],
        "commit": commit, "source_sha256": h.hexdigest(), "driver_memory": _driver_memory(),
        "utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


class Bench:
    def __init__(self, w: Workload, sf: str, seed: int, seconds: float, run_dir: Path):
        self.w, self.sf, self.seed, self.seconds = w, sf, seed, seconds
        self.run_dir = run_dir
        self.sf_dir = str(sf_dir(sf))
        self.cpus = _cpus()
        self.rng = Random(seed)
        self.expected: dict[str, Any] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[dict[str, Any]] = []
        self.passes: list[dict[str, Any]] = []
        # the run's calibration loop timings
        self.refs: list[float] = []

    # -- inputs ----------------------------------------------------------------
    def prepare(self) -> None:
        """Generate the inputs and the expected results in a child process."""
        subprocess.run(
            [sys.executable, str(BENCH_DIR / "prepare.py"), "--workload", self.w.name,
             "--sf", self.sf, "--seed", str(self.seed), "--out", str(self.run_dir),
             "--cache", str(ROOT / ".perfbench" / "oracle-cache")],
            check=True, timeout=170,
        )
        self.expected = json.loads((self.run_dir / "expected.json").read_text())

    # -- session ---------------------------------------------------------------
    def config(self, event_dir: Path | None) -> dict[str, Any]:
        from etl_entregas_pyspark_spark import load_config

        rd = self.run_dir
        configs = {
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": _driver_memory(),
            "spark.local.dir": str(rd / "local"),
            "spark.sql.warehouse.dir": str(rd / "warehouse"),
            # keep the JVM's temporary files in the run directory too
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={rd / 'tmp'} -XX:-UsePerfData",
            "spark.eventLog.enabled": "true" if event_dir else "false",
        }
        if event_dir:
            configs.update({"spark.eventLog.dir": str(event_dir), "spark.eventLog.compress": "false"})
        return load_config(base={
            "spark": {"master": f"local[{self.cpus}]", "log_level": "ERROR", "configs": configs},
            "paths": {"input_file": str(rd / "entregas.csv"), "output_base": str(rd / "out" / "delivered")},
            "filters": {"start_date": ETL_START, "end_date": ETL_END},
        })

    def setup(self, tracer: Tracer, event_dir: Path | None):
        """``build_session`` plus the workload's store builds; returns the
        session and the set-up wall time."""
        import importlib

        from etl_entregas_pyspark_spark import build_session

        self.cfg = self.config(event_dir)
        t0 = time.perf_counter()
        with tracer.span("session.build_session", phase="setup"):
            spark = build_session(self.cfg)
        if event_dir:
            tracer.attach(spark.sparkContext)
        for store in self.w.stores:
            fn = getattr(importlib.import_module(STORES[store]), store)
            layer = STORES[store].split(".", 1)[1]
            with tracer.span(f"{layer}.{store}", phase="setup") as sp:
                path = self.attempt(store, fn, spark, self.sf_dir, force=True)
            if path:
                sp.attrs["store_mb"] = _tree_mb(Path(path))[0]
        return spark, time.perf_counter() - t0

    # -- operations --------------------------------------------------------------
    def attempt(self, op: str, fn, *args, **kwargs):
        """Run one operation; it fails if it raises or reports a mismatch."""
        self.attempted += 1
        before = len(self.failures)
        try:
            return fn(*args, **kwargs)
        except Exception as exc:  # one failed operation must not stop the run
            self.failures.append({"op": op, "error": f"{type(exc).__name__}: {exc}"[:2000]})
            _log(f"{op} failed:\n{traceback.format_exc()}")
            return None
        finally:
            self.failed += len(self.failures) > before

    def mismatch(self, op: str, what: str) -> None:
        self.failures.append({"op": op, "error": f"mismatch: {what}"[:2000]})
        _log(f"{op} mismatch: {what}")

    def query(self, spark, tracer: Tracer, name: str, verify: bool) -> float:
        """Build and execute one registry query into the noop sink; return
        the timed seconds. With ``verify`` the built frame is collected
        instead, and the rows are checked outside the timed spans."""
        from etl_entregas_pyspark_spark.queries import REGISTRY

        spec = REGISTRY[name]
        layer = spec.spark.__module__.split(".", 1)[1]
        with tracer.span(f"{layer}.build", op=name) as build:
            df = spec.spark(spark, self.sf_dir)
        if verify:
            with tracer.span(f"{layer}.collect", op=name) as execute:
                rows = [tuple(r) for r in df.collect()]
            got = digest(df.columns, rows)
            if got != self.expected[name]:
                self.mismatch(name, f"spark {got} != duckdb {self.expected[name]}")
        else:
            with tracer.span(f"{layer}.exec", op=name) as execute:
                df.write.format("noop").mode("overwrite").save()
        return build.s + execute.s

    def pipeline(self, spark, tracer: Tracer, verify: bool) -> float:
        """One ``EntregasPipeline.run(write=True)`` with each stage in its
        own span; return the timed seconds. Its DQ ladder and row count are
        checked every pass, the files read back with ``verify``."""
        from etl_entregas_pyspark_spark import EntregasPipeline

        pipe = EntregasPipeline(spark, self.cfg)
        for stage in PIPELINE_STAGES:
            setattr(pipe, stage, self._staged(tracer, stage, getattr(pipe, stage)))
        with tracer.span("operators.pipeline.run") as run:
            metrics = pipe.run(write=True)
        out = Path(self.cfg["paths"]["output_base"])
        load = next(s for s in reversed(tracer.spans) if s.name == "operators.pipeline.load")
        load.attrs["output_mb"], load.attrs["output_files"] = _tree_mb(out)
        want = self.expected
        if metrics["data_quality"] != want["data_quality"]:
            self.mismatch("pipeline", f"DQ ladder {metrics['data_quality']} != {want['data_quality']}")
        if metrics["output_rows"] != sum(want["per_fecha"].values()):
            self.mismatch("pipeline", f"output_rows {metrics['output_rows']}")
        if verify:
            got = self._read_back(out)
            if got != want["per_fecha"]:
                diff = sorted(set(got.items()) ^ set(want["per_fecha"].items()))[:5]
                self.mismatch("pipeline", f"per-fecha_proceso rows read back differ: {diff}")
        return run.s

    @staticmethod
    def _staged(tracer: Tracer, stage: str, fn):
        def timed(*args, **kwargs):
            with tracer.span(f"operators.pipeline.{stage}"):
                return fn(*args, **kwargs)

        return timed

    @staticmethod
    def _read_back(out: Path) -> dict[str, int]:
        counts: dict[str, int] = {}
        for part in out.glob("fecha_proceso=*/*.csv"):
            with part.open() as fh:
                rows = sum(1 for _ in fh) - 1  # one header line per file
            key = part.parent.name.split("=", 1)[1]
            counts[key] = counts.get(key, 0) + rows
        return counts

    def one_pass(self, spark, tracer: Tracer, phase: str) -> float:
        """One pass over the workload's operations; returns the sum of their
        timed spans. The cold pass verifies the results and runs the
        operations in the listed order, so every run warms the JVM up the
        same way; later passes run them in an order drawn from the seed."""
        from etl_entregas_pyspark_spark.queries import REGISTRY

        verify = phase == "cold"
        ops = [n for p in self.w.queries for n in REGISTRY if n.split("_")[0] == p]
        if not verify:
            self.rng.shuffle(ops)
        op_s: dict[str, float | None] = {}
        cpu0 = _proc_cpu_s(self._jvm_pid()) + _proc_cpu_s("self")
        host0 = _host_busy_s()
        with tracer.span("pass", phase=phase, **{"pass": len(self.passes)}):
            if self.w.pipeline:
                op_s["pipeline"] = self.attempt("pipeline", self.pipeline, spark, tracer, verify)
            for name in ops:
                op_s[name] = self.attempt(name, self.query, spark, tracer, name, verify)
        # CPU seconds this run's processes used in the pass, and what the
        # whole machine used: the difference is the neighbours' load
        cpu = _proc_cpu_s(self._jvm_pid()) + _proc_cpu_s("self") - cpu0
        record = {
            "phase": phase, "s": sum(v or 0.0 for v in op_s.values()), "op_s": op_s,
            "cpu_s": cpu, "host_cpu_s": _host_busy_s() - host0, "verified": verify,
        }
        self.passes.append(record)
        return record

    def steady(self, spark, tracer: Tracer, least: int, seconds: float, phase: str = "steady") -> float:
        """``seconds / pass_s`` steady passes, at least ``least``, each after
        a calibration; returns the pass time with each operation at its
        fastest.

        The count is fixed before the first pass, so a busy host lengthens
        the run instead of shortening the sample, and every run stops at
        the same point of the JVM's warm-up. The fastest of several timings
        of one operation is its cost with the least interference from the
        machine's other tenants."""
        n = max(least, math.ceil(seconds / self.w.pass_s))
        passes = []
        for _ in range(n):
            self.refs.append(_reference_s())
            passes.append(self.one_pass(spark, tracer, phase))
        best = 0.0
        for op in passes[0]["op_s"]:
            times = [p["op_s"][op] for p in passes if p["op_s"][op] is not None]
            best += min(times, default=0.0)
        return best

    def slowdown(self) -> float:
        """How many times slower than the reference machine this run's
        machine ran: the fastest calibration of the run over ``REF_S``."""
        return min(self.refs) / REF_S

    # -- runs --------------------------------------------------------------------
    def measure(self) -> tuple[dict[str, float], dict[str, Any]]:
        tracer = Tracer()
        self.refs.append(_reference_s())
        spark, setup_s = self.setup(tracer, None)
        try:
            cold_s = self.one_pass(spark, tracer, "cold")["s"]
            rss = self._peak_rss_mb()
            wall_s = self.steady(spark, tracer, MIN_STEADY, self.seconds)
        finally:
            spark.stop()
        raw = {"setup_s": setup_s, "wall_s": wall_s}
        metrics = {k: v / self.slowdown() for k, v in raw.items()}
        return metrics, {"raw": raw, "spans": tracer.dump(), "cold_s": cold_s, "peak_rss_mb": rss}

    def measure_traced(self) -> tuple[dict[str, float], dict[str, Any]]:
        events = self.run_dir / "events"
        events.mkdir()
        tracer = Tracer()
        spark, _ = self.setup(tracer, None)
        try:
            cold_s = self.one_pass(spark, tracer, "cold")["s"]
            rss = self._peak_rss_mb()
        finally:
            spark.stop()

        order = ("traced", "untraced") if self.seed % 2 == 0 else ("untraced", "traced")
        walls: dict[str, float] = {}
        for mode in order:
            spark, _ = self.setup(tracer, events if mode == "traced" else None)
            try:
                walls[mode] = self.steady(spark, tracer, TRACED_STEADY, self.seconds / 2, mode)
            finally:
                tracer.detach()
                spark.stop()
        fold_event_log(events, tracer.spans)
        traced = [i for i, p in enumerate(self.passes) if p["phase"] == "traced"]
        values = per_layer_values(tracer.spans, traced)
        values["cold_s"] = cold_s
        values["peak_rss_mb"] = rss
        values["perfbench.trace.wall_s"] = walls["traced"]
        values["perfbench.trace.overhead_s"] = walls["traced"] - walls["untraced"]
        return values, {"spans": tracer.dump(), "order": order, "steady_walls": walls}

    def _peak_rss_mb(self) -> float:
        """The JVM's ``VmHWM`` plus this Python process's."""
        return _vm_hwm_mb(self._jvm_pid()) + _vm_hwm_mb("self")

    @staticmethod
    def _jvm_pid() -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid


def _descendants(pid: int) -> set[int]:
    children: dict[int, list[int]] = {}
    for stat in Path("/proc").glob("[0-9]*/stat"):
        try:
            fields = stat.read_text().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while we looked
            continue
        children.setdefault(int(fields[1]), []).append(int(stat.parent.name))
    out, todo = set(), [pid]
    while todo:
        for child in children.get(todo.pop(), []):
            out.add(child)
            todo.append(child)
    return out


def _shutdown_jvm() -> None:
    """Stop the gateway JVM this process launched, and wait until it and
    the Python workers it forked have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    workers = _descendants(gw.proc.pid)
    try:
        gw.shutdown()
    finally:
        gw.proc.stdin.close()
        gw.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while any(Path(f"/proc/{p}").exists() for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", default=DEFAULT_SF, help="scale of the vendored tables under perfbench/data")
    ap.add_argument("--record", type=Path, help="where to write the run's record")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        _log(f"no {PACKAGE} package next to {BENCH_DIR.name}/: run from a full checkout")
        return 2
    if not sf_dir(args.sf).is_dir():
        _log(f"no tables at {sf_dir(args.sf)}")
        return 2

    run_dir = ROOT / ".perfbench" / f"run-{os.getpid()}-{time.time_ns()}"
    (run_dir / "tmp").mkdir(parents=True)
    # Python workers import the package; every temporary file, the stores
    # included, lands in the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    tempfile.tempdir = str(run_dir / "tmp")
    sys.path.insert(0, str(ROOT))

    # a terminated run still stops its JVM and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    w = WORKLOADS[args.workload]
    steal0, total0 = _cpu_ticks()
    bench = Bench(w, args.sf, args.seed, args.seconds, run_dir)
    try:
        bench.prepare()
        record = {"stamp": stamp(w.name, args.sf, args.seed, args.trace, bench.cpus)}
        values, detail = bench.measure_traced() if args.trace else bench.measure()
    finally:
        try:
            _shutdown_jvm()
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    catalog = per_layer_catalog() if args.trace else END_TO_END
    result = {
        "correct": not bench.failures,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u, _ in catalog},
    }
    steal1, total1 = _cpu_ticks()
    # a busy host steals CPU from this VM; read the run's figures with it
    record["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    record.update(result, fail_frac=bench.failed / max(1, bench.attempted), passes=bench.passes,
                  ref_s=bench.refs, failures=bench.failures, **detail)
    path = args.record or ROOT / ".perfbench" / "records" / (
        f"{w.name}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    )
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(record, indent=1, default=str))
    _log(f"record: {path}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
