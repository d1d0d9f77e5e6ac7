"""Parser for Spark's JSON event log (``spark.eventLog.compress=false``).

Aggregates task metrics and SQL operator metrics per job, so callers
can sum them over any time window (a pass, a micro-batch, a span).
Operator metrics are grouped into the categories the layer metrics
need, keyed by the node that produced them.
"""

from __future__ import annotations

import glob
import json
import os
from collections import Counter
from dataclasses import dataclass, field

# (category, metric name) pairs kept from SQL operator metrics. Python
# UDF nodes split by which UDF they evaluate.
_KEPT = {
    "extract": {
        "time to run Python workers", "time to start Python workers",
        "time to initialize Python workers", "data sent to Python workers",
        "data returned from Python workers", "number of output rows",
    },
    "scan": {"size of files read", "scan time", "number of output rows"},
    "broadcast": {"time to build", "data size"},
    "sort": {"peak memory", "spill size"},
    "exchange": {"shuffle bytes written"},
}
_KEPT["parse"] = _KEPT["extract"]
_PEAK = {"peak memory"}  # reported as the largest single-task value


def _category(node: str, simple: str) -> str | None:
    if node == "ArrowEvalPython":
        return "extract" if "extract_text" in simple else "parse"
    if node.startswith("Scan"):
        return "scan"
    if node == "BroadcastExchange":
        return "broadcast"
    if node == "Sort":
        return "sort"
    if node == "Exchange":
        return "exchange"
    return None


@dataclass
class Job:
    job_id: int
    submit: float  # epoch seconds
    end: float = 0.0
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    delay_s: float = 0.0
    spill_bytes: int = 0
    shuffle_bytes: int = 0
    ops: Counter = field(default_factory=Counter)  # (category, metric) -> sum
    peaks: dict = field(default_factory=dict)  # (category, metric) -> max


class EventLog:
    def __init__(self, eventlog_dir: str, app_id: str):
        self.jobs: dict[int, Job] = {}
        self.driver_ops: list[tuple[float, str, str, float]] = []  # (exec start, cat, metric, value)
        self._accum: dict[int, tuple[int, str, str]] = {}  # id -> (execution, cat, metric)
        self._exec_start: dict[int, float] = {}
        self._stage_job: dict[int, int] = {}
        files = sorted(glob.glob(os.path.join(eventlog_dir, f"*{app_id}*", "events_*")))
        files += sorted(glob.glob(os.path.join(eventlog_dir, f"{app_id}*")))
        if not files:
            raise FileNotFoundError(f"no event log for {app_id} in {eventlog_dir}")
        for path in files:
            if os.path.isdir(path):
                continue
            with open(path, encoding="utf-8") as f:
                for line in f:
                    self._event(json.loads(line))

    def _plan(self, execution: int, info: dict) -> None:
        cat = _category(info.get("nodeName", ""), info.get("simpleString", ""))
        if cat:
            for m in info.get("metrics", []):
                if m["name"] in _KEPT[cat]:
                    self._accum[m["accumulatorId"]] = (execution, cat, m["name"])
        for child in info.get("children", []):
            self._plan(execution, child)

    def _event(self, e: dict) -> None:
        kind = e["Event"].rsplit(".", 1)[-1]
        if kind == "SparkListenerSQLExecutionStart":
            self._exec_start[e["executionId"]] = e["time"] / 1000.0
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == "SparkListenerSQLAdaptiveExecutionUpdate":
            self._plan(e["executionId"], e["sparkPlanInfo"])
        elif kind == "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                meta = self._accum.get(acc_id)
                if meta:
                    start = self._exec_start.get(meta[0], 0.0)
                    self.driver_ops.append((start, meta[1], meta[2], float(value)))
        elif kind == "SparkListenerJobStart":
            job = Job(e["Job ID"], e["Submission Time"] / 1000.0)
            self.jobs[job.job_id] = job
            for sid in e["Stage IDs"]:
                self._stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job:
                job.end = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            self._task(e)

    def _task(self, e: dict) -> None:
        info, tm = e["Task Info"], e.get("Task Metrics") or {}
        job = self.jobs.get(self._stage_job.get(e["Stage ID"], -1))
        if job is None:
            return
        job.tasks += 1
        run_ms = tm.get("Executor Run Time", 0)
        job.run_s += run_ms / 1000.0
        job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
        job.gc_s += tm.get("JVM GC Time", 0) / 1000.0
        duration_ms = info["Finish Time"] - info["Launch Time"]
        busy_ms = (
            run_ms
            + tm.get("Executor Deserialize Time", 0)
            + tm.get("Result Serialization Time", 0)
            + info.get("Getting Result Time", 0)
        )
        job.delay_s += max(0, duration_ms - busy_ms) / 1000.0
        job.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
        job.shuffle_bytes += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        for acc in info.get("Accumulables", []):
            meta = self._accum.get(acc.get("ID"))
            if meta is None or "Update" not in acc:
                continue
            key = (meta[1], meta[2])
            value = float(acc["Update"])
            if meta[2] in _PEAK:
                job.peaks[key] = max(job.peaks.get(key, 0.0), value)
            else:
                job.ops[key] += value

    # -- windows ----------------------------------------------------------

    def window(self, lo: float, hi: float) -> dict:
        """Task, operator and driver metrics of jobs submitted in [lo, hi]."""
        jobs = [j for j in self.jobs.values() if lo <= j.submit <= hi]
        ops: Counter = Counter()
        peaks: dict = {}
        for j in jobs:
            ops.update(j.ops)
            for k, v in j.peaks.items():
                peaks[k] = max(peaks.get(k, 0.0), v)
        for start, cat, metric, value in self.driver_ops:
            if lo <= start <= hi:
                if metric in _PEAK:
                    peaks[(cat, metric)] = max(peaks.get((cat, metric), 0.0), value)
                else:
                    ops[(cat, metric)] += value
        return {"jobs": jobs, "ops": ops, "peaks": peaks}
