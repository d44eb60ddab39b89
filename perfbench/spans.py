"""Spans around calls into the library's layers, and the fold of Spark's
event log into per-span job, stage and task counters.

A span has a name (``<module>.<call>``), a start, an end and a parent; the
spans of one run stay in memory and are written out with the run's record.
When a ``SparkContext`` is attached, every span runs under its own job group
(``setJobGroup``), so the event log names the span each job belongs to.
Jobs that carry no span's group are left out.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Any, Iterator

MB = float(1 << 20)
# counters every span gets from the event log, besides its wall time "s"
EVENT_COUNTERS = (
    "jobs", "stages", "executor_cpu_s", "gc_s", "input_mb", "shuffle_write_mb", "spill_mb",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float  # wall clock, comparable with the event log's timestamps
    end: float = 0.0
    s: float = 0.0  # duration from the monotonic clock
    attrs: dict[str, Any] = field(default_factory=dict)
    counters: dict[str, float] = field(default_factory=lambda: dict.fromkeys(EVENT_COUNTERS, 0.0))


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._sc = None

    def attach(self, sc) -> None:
        """Tag the jobs of every later span with that span's job group."""
        self._sc = sc

    def detach(self) -> None:
        self._sc = None

    def _group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"span-{span.id}", span.name)

    @contextmanager
    def span(self, name: str, **attrs: Any) -> Iterator[Span]:
        parent = self._open[-1] if self._open else None
        if parent is not None:  # a span belongs to its parent's pass and phase
            attrs = {k: parent.attrs[k] for k in ("pass", "phase") if k in parent.attrs} | attrs
        sp = Span(len(self.spans), name, parent.id if parent else None, time.time(), attrs=attrs)
        self.spans.append(sp)
        self._open.append(sp)
        self._group(sp)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.s = time.perf_counter() - t0
            sp.end = time.time()
            self._open.pop()
            self._group(self._open[-1] if self._open else None)

    def dump(self) -> list[dict[str, Any]]:
        return [asdict(s) for s in self.spans]


def _events(log_dir: Path) -> Iterator[dict[str, Any]]:
    # a v2 rolling log is a directory of ``events_<n>_<app>`` files, beside
    # an ``appstatus`` marker and Hadoop's ``.crc`` checksums
    for path in sorted(log_dir.rglob("events_*")):
        with path.open() as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def fold_event_log(log_dir: Path, spans: list[Span]) -> None:
    """Add each job, completed stage and finished task in the (uncompressed)
    event logs under ``log_dir`` to the counters of the span it ran in."""
    by_group = {f"span-{s.id}": s for s in spans}
    stage_span: dict[int, Span] = {}
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            sp = by_group.get(group)
            if sp is None:
                continue
            sp.counters["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_span.setdefault(sid, sp)
        elif kind == "SparkListenerStageCompleted":
            sp = stage_span.get(ev["Stage Info"]["Stage ID"])
            if sp is not None:
                sp.counters["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sp = stage_span.get(ev["Stage ID"])
            m = ev.get("Task Metrics")
            if sp is None or not m:
                continue
            c = sp.counters
            c["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            c["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            c["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            c["shuffle_write_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            )
            c["spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
