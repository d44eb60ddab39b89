"""The metric catalogue: the names ``BENCHMARK.json`` lists, and the fold of
a traced run's spans into the per-layer values.

Layers are the repository's modules. Per-layer names read
``<module>.<call>.<counter>``. A traced run prints every name
``BENCHMARK.json`` lists, so the layers of the other workload read 0:
``operators.pipeline.*`` on ``query_mix``, ``queries.*`` on
``etl_pipeline``.

Which end-to-end metric each layer should move, and where:

- ``session.build_session.s``: ``setup_s`` on every workload;
- ``queries.*.build.jobs``, ``queries.*.exec.{jobs,stages}``: ``wall_s`` on
  ``query_mix``, whose queries are bound by job floors;
- ``shuffle_write_mb``, ``spill_mb`` and ``executor_cpu_s`` of
  ``similarity``, ``setjoin``, ``advanced`` and ``ivf_index``: ``wall_s``
  on ``query_mix``;
- ``queries.incremental.build.*``, ``queries.lsh_index.build.*`` and
  ``queries.ivf_index.build.*``: ``wall_s`` on ``query_mix``; these builds
  run eager jobs (q151 folds its chunks with ``localCheckpoint``), so
  most of their work shows in ``build``, not ``exec``;
- the store-build spans: ``setup_s`` on ``query_mix``;
- ``operators.pipeline.apply_data_quality.*`` and ``.load.*``: ``wall_s``
  on ``etl_pipeline``, and nothing on ``query_mix``;
- ``gc_s``: ``peak_rss_mb``.
"""

from __future__ import annotations

from statistics import median
from typing import Iterable

from spans import Span
from workloads import STORES

# (name, unit, better). ``cold_s``, the first pass in a fresh JVM, is one
# sample per run and swings with the host's CPU steal (ten-run spread 0.32
# on a shared 4-vCPU VM). ``peak_rss_mb`` moves with the JVM's heap sizing,
# which depends on when the collector runs (five-seed spread 0.19 after
# the cold pass, 0.28 after the steady passes). Both are reported by the
# traced run, beside the layers, where no bound applies.
END_TO_END = (
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
)

PIPELINE_STAGES = (
    "extract", "apply_data_quality", "apply_filters", "transform", "standardize_columns", "load",
)
# the query modules some workload calls into
QUERY_MODULES = (
    "relational", "events", "asof", "timeseries", "advanced",
    "similarity", "setjoin", "ivf_index", "lsh_index", "incremental",
)
# the modules the shuffle- and pair-join-bound rows live in
SPILL_MODULES = ("similarity", "setjoin", "advanced", "ivf_index")
STORE_SPANS = tuple(f"{mod.split('.', 1)[1]}.{fn}" for fn, mod in STORES.items())

_UNIT = {"s": "s", "jobs": "count", "stages": "count", "executor_cpu_s": "s", "gc_s": "s"}
ALL_COUNTERS = (
    "s", "jobs", "stages", "executor_cpu_s", "gc_s", "input_mb", "shuffle_write_mb", "spill_mb",
)
QUERY_BUILD = ("s", "jobs")
QUERY_EXEC = ("s", "jobs", "stages", "executor_cpu_s", "gc_s", "shuffle_write_mb")
# only ``extract`` of the light stages runs a job (the CSV header read);
# the others build lazy plans
LIGHT_STAGE = {"extract": ("s", "jobs")}


def _unit(counter: str) -> str:
    return _UNIT.get(counter, "MB")


def per_layer_catalog() -> list[tuple[str, str, str]]:
    out = [("session.build_session.s", "s", "lower")]
    for stage in PIPELINE_STAGES:
        heavy = stage in ("apply_data_quality", "load")
        for c in ALL_COUNTERS if heavy else LIGHT_STAGE.get(stage, ("s",)):
            out.append((f"operators.pipeline.{stage}.{c}", _unit(c), "lower"))
    out += [
        ("operators.pipeline.load.output_mb", "MB", "lower"),
        ("operators.pipeline.load.output_files", "count", "lower"),
        ("operators.pipeline.run.s", "s", "lower"),
        ("operators.pipeline.run.stage_cover", "ratio", "higher"),
    ]
    for mod in QUERY_MODULES:
        for c in QUERY_BUILD:
            out.append((f"queries.{mod}.build.{c}", _unit(c), "lower"))
        for c in QUERY_EXEC + (("spill_mb",) if mod in SPILL_MODULES else ()):
            out.append((f"queries.{mod}.exec.{c}", _unit(c), "lower"))
    for store in STORE_SPANS:
        out += [(f"{store}.s", "s", "lower"), (f"{store}.store_mb", "MB", "lower")]
    out += [
        ("cold_s", "s", "lower"),
        ("peak_rss_mb", "MB", "lower"),
        ("perfbench.trace.wall_s", "s", "lower"),
        ("perfbench.trace.overhead_s", "s", "lower"),
    ]
    return out


def _value(span: Span, counter: str) -> float:
    if counter == "s":
        return span.s
    if counter in span.counters:
        return span.counters[counter]
    return float(span.attrs.get(counter, 0.0))


def per_layer_values(spans: Iterable[Span], steady_passes: list[int]) -> dict[str, float]:
    """Per-layer values of a traced run: set-up spans as measured in the
    run's first set-up, the fresh-JVM one ``setup_s`` times; pass spans
    summed within each steady pass and reported as the median over those
    passes."""
    spans = list(spans)
    values = dict.fromkeys((n for n, _, _ in per_layer_catalog()), 0.0)
    per_pass: dict[str, list[float]] = {}
    for p in steady_passes:
        sums: dict[str, float] = {}
        in_pass = [s for s in spans if s.attrs.get("pass") == p]
        for sp in in_pass:
            for c in ALL_COUNTERS + ("output_mb", "output_files"):
                key = f"{sp.name}.{c}"
                if key in values:
                    sums[key] = sums.get(key, 0.0) + _value(sp, c)
        stages = sum(s.s for s in in_pass if s.name.rsplit(".", 1)[-1] in PIPELINE_STAGES)
        runs = sum(s.s for s in in_pass if s.name == "operators.pipeline.run")
        if runs:
            sums["operators.pipeline.run.stage_cover"] = stages / runs
        for key, v in sums.items():
            per_pass.setdefault(key, []).append(v)
    for key, vs in per_pass.items():
        values[key] = median(vs)
    seen: set[str] = set()
    for sp in spans:
        if sp.attrs.get("phase") == "setup" and sp.name not in seen:
            seen.add(sp.name)
            for c in ("s", "store_mb"):
                key = f"{sp.name}.{c}"
                if key in values:
                    values[key] = _value(sp, c)
    return values
