"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload pages_checkpointed --seed 1 --seconds 16 --trace 0

Run from the root of a checkout that holds ``beholder_spark``. The last
line of standard output is::

    {"correct": true, "attempted": 4, "failed": 0,
     "metrics": {"rows_per_s": {"value": 5711.2, "unit": "rows/s"}, ...}}

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics (perfbench/README.md defines both). Exits non-zero
without a result line if the engine is missing or a workload cannot run.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "rows_per_s": "rows/s",
    "cold_s": "s",
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_p99_s": "s",
    "out_bytes_per_row": "B/row",
}
WORKLOADS = ("pages_checkpointed", "syslog_udp_daemon")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True, help="length of the measured window")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; tiny is for the smoke test")
    return ap.parse_args(argv)


def overhead_share(results_path: str, traced_unit_s: float) -> float:
    """Traced median unit time (a pass, or a micro-batch on the daemon)
    over the median of the same figure in the untraced runs of this
    workload and size recorded in this checkout, minus 1."""
    try:
        with open(results_path) as f:
            untraced = [json.loads(line)["unit_p50_s"] for line in f if line.strip()]
    except FileNotFoundError:
        return 0.0
    base = statistics.median(untraced) if untraced else 0.0
    return traced_unit_s / base - 1.0 if base > 0 else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "beholder_spark", "__init__.py")):
        print(f"perfbench: no beholder_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import harness, layers, workloads
    from perfbench.eventlog import EventLog
    from perfbench.trace import Tracer

    t_start = time.time()
    with harness.RunEnv(ROOT, args.workload, args.seed, bool(args.trace)) as env:
        tracer = Tracer()
        if args.trace:
            tracer.install()
        runner = getattr(workloads, args.workload)
        spark, out = runner(env, tracer, args.seed, args.seconds, args.size)
        app_id = spark.sparkContext.applicationId
        harness.stop_jvm(spark)
        tracer.uninstall()

        results = os.path.join(env.work, "results", f"{args.workload}-{args.size}.jsonl")
        if args.trace:
            ev = EventLog(env.eventlog_dir, app_id)
            build = layers.daemon_layers if args.workload == "syslog_udp_daemon" else layers.batch_layers
            layer, detail = build(env, tracer, ev, out)
            layer["trace.overhead_share"] = overhead_share(results, layer.get("trace.pass_s", 0.0))
            metrics = layers.finish(layer)
            with open(env.path("trace.json"), "w") as f:
                json.dump({"units": detail, "spans": tracer.dump()}, f)
        else:
            metrics = {k: {"value": float(out.metrics[k]), "unit": u} for k, u in END_TO_END_UNITS.items()}
            os.makedirs(os.path.dirname(results), exist_ok=True)
            with open(results, "a") as f:
                f.write(json.dumps({"seed": args.seed, "unit_p50_s": out.facts["unit_p50_s"]}) + "\n")
        result = {
            "correct": bool(out.correct),
            "attempted": int(out.attempted),
            "failed": int(out.failed),
            "metrics": metrics,
        }
        with open(env.path("result.json"), "w") as f:
            json.dump({**result, "notes": out.notes,
                       "passes": [vars(p) for p in out.passes], "batches": out.batches,
                       "facts": out.facts, "run_s": time.time() - t_start}, f, indent=1)
        env.remove(keep=("result.json", "trace.json"))
        for note in out.notes:
            print(f"perfbench: {note}", file=sys.stderr)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
