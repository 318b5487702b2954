#!/usr/bin/env python3
"""Cold-process benchmark of the transcript knowledge-graph pipeline.

    python3 kgbench/run.py --workload kg_turns --seed 1 --seconds 60 --trace 0

Each invocation is one fresh process with a fresh Spark driver JVM. It
generates the workload's inputs from ``--seed``, builds the triple table with
``Pipeline.run(force=True)`` into an empty warehouse (the JVM's first
pipeline), exports it once with ``operators.sinks.write_nt`` and checks the
outputs. After that JVM has exited, a timed run sets up twice more, each
time in a new JVM, and reports the median set-up time. ``--trace 0`` prints
the end-to-end metrics. ``--trace 1`` runs the same build with spans and
Spark's event log on, times six exports, follows them with per-layer
replays and prints the per-layer metrics; ``trace.build_s`` minus the
untraced ``build_s`` is the tracing overhead. The last line of standard
output is one JSON object; the exit code is non-zero when a check fails.

Everything a run writes lives under ``.kgbench_runs/<run>/`` in the current
directory (inputs, warehouse, exports, ``SPARK_LOCAL_DIRS``, event log) and
is deleted when the run ends; a traced run keeps its spans and per-job-group
event-log totals in ``.kgbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from kgbench import harness, layers  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)
WORKLOADS = [w["name"] for w in BENCHMARK["workloads"]]
END_TO_END = {m["name"]: m["unit"] for m in BENCHMARK["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in BENCHMARK["per_layer"]}
TRACE_DIR = ".kgbench_traces"


def result_line(metrics: dict, units: dict, failures: dict) -> dict:
    """The result object printed as the last line; ``failures`` maps each
    checked operation to its list of mismatches."""
    failed = sum(1 for f in failures.values() if f)
    return {
        "correct": failed == 0,
        "attempted": len(failures),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


def timed_run(args, run_dir: str) -> tuple[dict, dict, dict]:
    spark, inp, first = harness.setup(args.workload, args.seed, run_dir)
    try:
        out = harness.build_and_export(spark, inp, args.seed, run_dir)
    finally:
        stopping = time.perf_counter()
        harness.stop_spark(spark)
    stop_s = time.perf_counter() - stopping
    setups = [first] + harness.repeat_setups(args.workload, args.seed, run_dir, harness.SETUPS - 1)
    out["setup_s"] = statistics.median(w["session_s"] + w["inputs_s"] for w in setups)
    detail = {
        "session_s": " ".join(f"{w['session_s']:.2f}" for w in setups),
        "inputs_s": " ".join(f"{w['inputs_s']:.2f}" for w in setups),
    }
    detail |= {f"{k}_s": v["wall_s"] for k, v in out["stages"].items() if isinstance(v, dict)}
    detail |= {"export_s": out["export_walls"][0], "check_s": out["check_s"], "stop_s": stop_s}
    return result_line(out, END_TO_END, out["failures"]), out["failures"], detail


def traced_run(args, run_dir: str) -> tuple[dict, dict, dict]:
    trace_path = os.path.join(os.getcwd(), TRACE_DIR, f"{args.workload}-seed{args.seed}.json")
    out = layers.traced(args.workload, args.seed, run_dir, trace_path)
    return result_line(out["metrics"], PER_LAYER, out["failures"]), out["failures"], {"trace_file": trace_path}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=60.0,
                    help="nominal measuring time; a run always measures one cold build "
                    "and three set-ups")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(os.getcwd(), ".kgbench_runs",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}")
    os.makedirs(os.path.join(run_dir, "local"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # a terminated run still removes its directory (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        res, failures, detail = (traced_run if args.trace else timed_run)(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print("detail: " + ", ".join(f"{k} {v:.2f}" if isinstance(v, float) else f"{k} {v}"
                                 for k, v in detail.items()))
    for op, msgs in failures.items():
        for m in msgs:
            print(f"FAILED {op}: {m}")
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{res['failed']}/{res['attempted']} operations failed "
          f"(failed share {res['failed'] / res['attempted']:.2f})")
    for name, m in res["metrics"].items():
        target = f"  -> {layers.target(name)}" if args.trace else ""
        value = f"{m['value']:>16d}" if isinstance(m["value"], int) else f"{m['value']:>16.4f}"
        print(f"  {name:28s} {value} {m['unit']:6s}{target}")
    if args.trace:
        print("tracing overhead: trace.build_s minus the median build_s of --trace 0 runs "
              "of the same workload")
    print(json.dumps(res))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
