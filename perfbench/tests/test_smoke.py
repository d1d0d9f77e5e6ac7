"""Smoke test of the benchmark itself: every runnable workload at a tiny
size, untraced and traced, must pass its output checks and print
exactly the metric names and units that BENCHMARK.json declares.

    python -m pytest perfbench/tests -q

Each run starts its own Spark driver, so the whole file takes a few
minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
RUN = os.path.join("perfbench", "run.py")

sys.path.insert(0, ROOT)
from perfbench.run import WORKLOADS  # noqa: E402  (every runnable workload)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# Per-layer metrics that must be non-zero on each workload.
ACTIVE = {
    "pages_checkpointed": [
        "functions.extract_python_s", "functions.extract_rows", "pipeline.compile_s",
        "plans.lineage.run_stage_s", "plans.lineage.jobs", "sinks.write_s",
        "operators.aggregate.write_s", "sources.scan_bytes", "spark.jobs", "trace.pass_s",
    ],
    "syslog_udp_daemon": [
        "sources.udp_received", "sources.spool_files", "streaming.batches",
        "streaming.batch_p50_s", "plans.lineage.run_stage_s", "operators.parse.python_s",
        "config.sink_writes", "spark.jobs",
    ],
}


def _run(workload: str, trace: int, cwd: str = ROOT, seconds: str = "2") -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "3", "--seconds", seconds,
         "--trace", str(trace), "--size", "tiny"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_workload_checks_and_metric_names(workload, trace):
    res = _result(_run(workload, trace))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True
    assert res["failed"] == 0 and res["attempted"] >= 1
    declared = SPEC["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], float), name
    if trace:
        idle = [k for k in ACTIVE[workload] if res["metrics"][k]["value"] <= 0]
        assert not idle, idle
    else:
        assert all(m["value"] > 0 for m in res["metrics"].values()), res["metrics"]


def test_listed_workloads_are_runnable():
    assert {w["name"] for w in SPEC["workloads"]} <= set(WORKLOADS)


def test_without_the_engine_exits_nonzero(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(WORKLOADS[0], 0, cwd=str(tmp_path))
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
