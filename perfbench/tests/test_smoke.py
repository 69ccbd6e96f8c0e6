"""Smoke self-test of the benchmark: each workload runs once at its
smallest size, untraced and traced, and must print every metric of
``BENCHMARK.json`` by name and unit, with no failed operation.

    python3 -m pytest perfbench/tests -q

Each case starts its own Spark session, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import math
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())

#: per-layer metrics each workload must report as non-zero: the layers it
#: is there to exercise
EXERCISED = {
    "iterative_builders": (
        "build.jobs.hits_hub_authority", "build.s", "catalyst.planning_ms",
        "execute.jobs", "execute.s.label_propagation_communities", "plans.jobs", "plans.compile_s",
    ),
    "stream_merge": (
        "stream.batches", "stream.addBatch_ms", "state.commit_ms", "sink.write_ms",
        "capacity_rows_per_s", "execute.python_run_ms",
    ),
}


def _run(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_workload_prints_every_metric(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in wanted}
    for name, metric in result["metrics"].items():
        assert math.isfinite(metric["value"]), name
        if not trace:
            assert metric["value"] > 0, name
    for name in EXERCISED[workload] if trace else ():
        assert result["metrics"][name]["value"] > 0, name
    assert not (ROOT / ".perfbench_work").exists(), "a run left its scratch directory behind"


def test_fails_without_the_package(tmp_path):
    """In a directory holding only the benchmark, the run must fail
    without printing a result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(tmp_path, SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
