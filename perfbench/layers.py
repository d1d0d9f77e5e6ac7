"""Per-layer metrics of a traced run, named by the engine module they
measure. Each value is the median over the run's units of work: the
warm passes of a batch workload, the measured micro-batches of the
daemon. Sources: the spans of :mod:`perfbench.trace`, Spark's event
log (:mod:`perfbench.eventlog`), the daemon's progress records, and the
files each unit left behind.
"""

from __future__ import annotations

import os
import re

from perfbench import harness
from perfbench.harness import median
from perfbench.trace import union_length

MIB = 1024.0 * 1024.0
LINEAGE_TABLES = ("_manifest", "_lineage")
LINEAGE_SPANS = {
    "plans.lineage.run_stage",
    "plans.lineage.read_stage",
    "plans.lineage.pending_partitions",
    "plans.lineage.done_partitions",
}
_SINK_LABEL = re.compile(r"^(routed|config_sink)$")
_LOG_RECORD = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d (\w+) ")

# Every per-layer metric: name -> unit. The traced run prints all of
# them; a layer the workload does not exercise reads 0.
UNITS = {
    "session.get_spark_s": "s",
    "session.ship_package_s": "s",
    "sources.scan_bytes": "B",
    "sources.scan_s": "s",
    "sources.udp_received": "count",
    "sources.udp_lost": "count",
    "sources.spool_files": "count",
    "functions.extract_python_s": "s",
    "functions.extract_worker_start_s": "s",
    "functions.extract_bytes_to_python": "B",
    "functions.extract_bytes_from_python": "B",
    "functions.extract_rows": "count",
    "operators.parse.python_s": "s",
    "operators.parse.worker_start_s": "s",
    "operators.parse.bytes_to_python": "B",
    "operators.parse.rows_per_input_row": "ratio",
    "pipeline.compile_s": "s",
    "operators.enrich.broadcast_build_s": "s",
    "operators.enrich.broadcast_bytes": "B",
    "sinks.write_s": "s",
    "sinks.write_actions": "count",
    "sinks.sort_peak_mb": "MB",
    "sinks.spill_bytes": "B",
    "sinks.files_written": "count",
    "sinks.bytes_written": "B",
    "plans.lineage.run_stage_s": "s",
    "plans.lineage.bookkeeping_s": "s",
    "plans.lineage.read_stage_s": "s",
    "plans.lineage.jobs": "count",
    "plans.lineage.files": "count",
    "plans.lineage.error_log_lines": "count",
    "operators.aggregate.write_s": "s",
    "operators.aggregate.shuffle_bytes": "B",
    "config.compile_s": "s",
    "config.sink_writes": "count",
    "streaming.batches": "count",
    "streaming.batch_p50_s": "s",
    "streaming.add_batch_p50_s": "s",
    "streaming.planning_p50_s": "s",
    "streaming.rows_per_batch_p50": "rows",
    "streaming.drain_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.driver_gap_s": "s",
    "spark.driver_peak_rss_mb": "MB",
    "generator.lag_max_s": "s",
    "trace.pass_s": "s",
    "trace.unattributed_s": "s",
    "trace.overhead_share": "ratio",
}


def error_log_lines(lines: list[str]) -> int:
    """Lines of WARN/ERROR records, stack-trace continuation lines
    included, in a slice of Spark's log."""
    n, in_error = 0, False
    for line in lines:
        m = _LOG_RECORD.match(line)
        if m:
            in_error = m.group(1) in ("WARN", "ERROR")
        if in_error:
            n += 1
    return n


def _unit(tracer, ev, span_ids: list[int], lo: float, hi: float, input_rows: int) -> dict:
    """Span- and event-log metrics of one unit of work in [lo, hi]."""
    S = tracer.spans

    def spans(name):
        return [i for i in span_ids if S[i].name == name]

    def total(ids):
        return sum(S[i].dur for i in ids)

    writes = spans("write")
    sink_writes = [i for i in writes if _SINK_LABEL.match(S[i].label or "")]
    run_stage = spans("plans.lineage.run_stage")
    data_writes = [
        c for i in run_stage for c in S[i].children
        if S[c].name == "write" and S[c].label not in LINEAGE_TABLES
    ]
    win = ev.window(lo, hi)
    ops, peaks = win["ops"], win["peaks"]

    def owner(job):
        idx = tracer.innermost(job.submit, span_ids)
        return None if idx is None else S[idx]

    lineage_jobs = agg_shuffle = 0
    for job in win["jobs"]:
        sp = owner(job)
        if sp is None:
            continue
        if sp.name in LINEAGE_SPANS or (sp.name == "write" and sp.label in LINEAGE_TABLES):
            lineage_jobs += 1
        if sp.name == "write" and sp.label == "agg_counts":
            agg_shuffle += job.shuffle_bytes
    busy = union_length([(j.submit, j.end or hi) for j in win["jobs"]], lo, hi)
    py = {cat: {m: ops[(cat, m)] for (c, m) in ops if c == cat} for cat in ("extract", "parse")}

    def worker_start(cat):
        return (py[cat].get("time to start Python workers", 0) + py[cat].get("time to initialize Python workers", 0)) / 1000.0

    return {
        "sources.scan_bytes": ops[("scan", "size of files read")],
        "sources.scan_s": ops[("scan", "scan time")] / 1000.0,
        "functions.extract_python_s": py["extract"].get("time to run Python workers", 0) / 1000.0,
        "functions.extract_worker_start_s": worker_start("extract"),
        "functions.extract_bytes_to_python": py["extract"].get("data sent to Python workers", 0),
        "functions.extract_bytes_from_python": py["extract"].get("data returned from Python workers", 0),
        "functions.extract_rows": py["extract"].get("number of output rows", 0),
        "operators.parse.python_s": py["parse"].get("time to run Python workers", 0) / 1000.0,
        "operators.parse.worker_start_s": worker_start("parse"),
        "operators.parse.bytes_to_python": py["parse"].get("data sent to Python workers", 0),
        "operators.parse.rows_per_input_row": (
            py["parse"].get("number of output rows", 0) / input_rows if input_rows else 0.0
        ),
        "pipeline.compile_s": total(spans("pipeline.compile_pipeline")),
        "operators.enrich.broadcast_build_s": ops[("broadcast", "time to build")] / 1000.0,
        "operators.enrich.broadcast_bytes": ops[("broadcast", "data size")],
        "sinks.write_s": total(sink_writes),
        "sinks.write_actions": len(sink_writes),
        "sinks.sort_peak_mb": peaks.get(("sort", "peak memory"), 0.0) / MIB,
        "sinks.spill_bytes": sum(j.spill_bytes for j in win["jobs"]),
        "plans.lineage.run_stage_s": total(run_stage),
        "plans.lineage.bookkeeping_s": total(run_stage) - total(data_writes),
        "plans.lineage.read_stage_s": total(spans("plans.lineage.read_stage")),
        "plans.lineage.jobs": lineage_jobs,
        "operators.aggregate.write_s": total([i for i in writes if S[i].label == "agg_counts"]),
        "operators.aggregate.shuffle_bytes": agg_shuffle,
        "config.compile_s": total(spans("config.compile_config")),
        "config.sink_writes": len([i for i in writes if S[i].label == "config_sink"]),
        "spark.jobs": len(win["jobs"]),
        "spark.tasks": sum(j.tasks for j in win["jobs"]),
        "spark.executor_run_s": sum(j.run_s for j in win["jobs"]),
        "spark.executor_cpu_s": sum(j.cpu_s for j in win["jobs"]),
        "spark.gc_s": sum(j.gc_s for j in win["jobs"]),
        "spark.scheduler_delay_s": sum(j.delay_s for j in win["jobs"]),
        "spark.driver_gap_s": (hi - lo) - busy,
        "trace.pass_s": hi - lo,
        "trace.unattributed_s": _unattributed(tracer, span_ids, lo, hi),
    }


def _unattributed(tracer, ids: list[int], lo: float, hi: float) -> float:
    """Time in [lo, hi] that no outermost span of the unit covers."""
    S = tracer.spans
    top = [(S[i].start, S[i].end) for i in ids if S[i].parent is None or S[i].parent not in ids]
    return (hi - lo) - union_length(top, lo, hi)


def _medians(units: list[dict]) -> dict:
    return {k: median(u[k] for u in units) for k in units[0]} if units else {}


def _setup_spans(tracer) -> dict:
    S = tracer.spans
    gs = [s.dur for s in S if s.name == "session.get_spark" and s.pass_id is None]
    sp = [s.dur for s in S if s.name == "session.ship_package" and s.pass_id is None]
    return {"session.get_spark_s": sum(gs), "session.ship_package_s": sum(sp)}


def batch_layers(env, tracer, ev, out) -> tuple[dict, list[dict]]:
    """Per-layer metrics of a batch workload, plus per-pass detail."""
    units, detail = [], []
    for rec in out.passes[out.facts["first_measured_pass"]:]:
        if not rec.ok:
            continue
        ids = tracer.in_pass(rec.pass_id)
        u = _unit(tracer, ev, ids, rec.start, rec.end, out.input_rows)
        sink_dirs = [d for d in os.listdir(rec.out_root) if _SINK_LABEL.match(d)]
        files = size = 0
        for d in sink_dirs:
            f, b = harness.tree_bytes(os.path.join(rec.out_root, d))
            files, size = files + f, size + b
        u["sinks.files_written"], u["sinks.bytes_written"] = files, size
        u["plans.lineage.files"] = sum(
            harness.tree_bytes(os.path.join(rec.out_root, t))[0] for t in LINEAGE_TABLES
        )
        u["plans.lineage.error_log_lines"] = error_log_lines(env.log_lines_since(*rec.log_span))
        units.append(u)
        detail.append(_pass_detail(tracer, rec.pass_id, ids, rec.start, rec.end))
    layer = {**_setup_spans(tracer), **_medians(units)}
    layer["spark.driver_peak_rss_mb"] = out.facts["peak_rss_mb"]
    return layer, detail


def daemon_layers(env, tracer, ev, out) -> tuple[dict, list[dict]]:
    """Per-layer metrics of the daemon, per measured micro-batch."""
    measured = set(out.facts["measured_batch_ids"])
    batches = [b for b in out.batches if b["batch_id"] in measured]
    units, detail = [], []
    for b in batches:
        ids = tracer.within(b["start"], b["end"])
        u = _unit(tracer, ev, ids, b["start"], b["end"], b["rows"])
        units.append(u)
        detail.append(_pass_detail(tracer, f"batch{b['batch_id']}", ids, b["start"], b["end"]))
    layer = {**_setup_spans(tracer), **_medians(units)}
    n = max(1, sum(1 for b in out.batches if b["rows"]))  # every batch that wrote files
    out_root = out.facts["out_root"]
    files, size = harness.tree_bytes(os.path.join(out_root, "config_sink"))
    layer.update({
        "sources.udp_received": out.facts["received"],
        "sources.udp_lost": out.facts["sent"] - out.facts["received"] + out.facts["dropped_overload"],
        "sources.spool_files": out.facts["spool_files"],
        "sinks.files_written": files / n,
        "sinks.bytes_written": size / n,
        "plans.lineage.files": sum(harness.tree_bytes(os.path.join(out_root, t))[0] for t in LINEAGE_TABLES) / n,
        "plans.lineage.error_log_lines": error_log_lines(env.log_lines_since(*out.facts["log_span"])),
        "streaming.batches": len(batches),
        "streaming.batch_p50_s": median(b["end"] - b["start"] for b in batches),
        "streaming.add_batch_p50_s": median(b["add_batch_s"] for b in batches),
        "streaming.planning_p50_s": median(b["planning_s"] for b in batches),
        "streaming.rows_per_batch_p50": median(b["rows"] for b in batches),
        "streaming.drain_s": out.facts["drain_s"],
        "generator.lag_max_s": out.facts["lag_max_s"],
        "spark.driver_peak_rss_mb": out.facts["peak_rss_mb"],
    })
    return layer, detail


def _pass_detail(tracer, unit_id: str, ids: list[int], lo: float, hi: float) -> dict:
    """Self time per span name in one unit; with the unattributed
    remainder the entries sum to the unit's wall time."""
    S = tracer.spans
    self_by_name: dict[str, float] = {}
    for i in ids:
        key = S[i].name if S[i].label is None else f"{S[i].name}:{S[i].label}"
        self_by_name[key] = self_by_name.get(key, 0.0) + tracer.self_time(i)
    return {
        "unit": unit_id,
        "wall_s": hi - lo,
        "self_s": dict(sorted(self_by_name.items(), key=lambda kv: -kv[1])),
        "unattributed_s": _unattributed(tracer, ids, lo, hi),
    }


def finish(layer: dict) -> dict:
    """All per-layer metrics with units; layers the workload never
    reached read 0."""
    return {name: {"value": float(layer.get(name, 0.0)), "unit": unit} for name, unit in UNITS.items()}
