"""Smoke test of the benchmark at sf0.001, a few minutes in all:

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload once untraced and once traced, and checks that every
metric ``BENCHMARK.json`` names is printed with its unit, that the outputs
pass the oracle check, that every operation of a traced pass ran at least
one Spark job, and that a shuffle query reports shuffle bytes written.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from compare import comparable  # noqa: E402
from metrics import END_TO_END, per_layer_catalog  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _run(workload: str, trace: int, record: Path) -> dict:
    proc = subprocess.run(
        [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001", "--record", str(record)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_catalogue_matches_benchmark_json():
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["end_to_end"]] == [
        (n, u, b) for n, u, b in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in SPEC["per_layer"]] == per_layer_catalog()
    assert [w["name"] for w in SPEC["workloads"]] == list(WORKLOADS)


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_untraced_run_prints_every_end_to_end_metric(workload, tmp_path):
    result = _run(workload, 0, tmp_path / "r.json")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    assert all(m["value"] > 0 for m in result["metrics"].values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_traced_run_reports_layers(workload, tmp_path):
    result = _run(workload, 1, tmp_path / "r.json")
    assert result["correct"] and result["failed"] == 0
    metrics = result["metrics"]
    assert {n: m["unit"] for n, m in metrics.items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }
    record = json.loads((tmp_path / "r.json").read_text())
    traced = {i for i, p in enumerate(record["passes"]) if p["phase"] == "traced"}
    spans = [s for s in record["spans"] if s["attrs"].get("pass") in traced]
    ops = [s for s in spans if s["name"].endswith(".exec") or s["name"].endswith("pipeline.load")]
    assert ops
    for s in ops:
        assert s["counters"]["jobs"] >= 1, s
    if workload == "query_mix":
        # q01 aggregates through a hash exchange
        q01 = [s for s in ops if s["attrs"].get("op") == "q01_pricing_summary"]
        assert q01 and all(s["counters"]["shuffle_write_mb"] > 0 for s in q01)
        assert metrics["queries.relational.exec.shuffle_write_mb"]["value"] > 0
    if workload == "etl_pipeline":
        assert metrics["operators.pipeline.run.stage_cover"]["value"] >= 0.95
        assert metrics["operators.pipeline.load.output_files"]["value"] >= 1


def test_compare_refuses_unlike_records():
    a = {"stamp": {"workload": "w", "trace": 0, "sf": "0.01", "cpus": 8}}
    assert comparable(a, a) == []
    assert comparable(a, {"stamp": dict(a["stamp"], cpus=32)}) == ["cpus"]
    assert comparable(a, {"stamp": dict(a["stamp"], sf="0.1")}) == ["sf"]
