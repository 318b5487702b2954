"""Session set-up, the measured build and export, and helpers shared by
the timed and the traced run."""

from __future__ import annotations

import os
import shutil
import time

from pyspark import SparkContext

from anything2rdf_spark.operators import sinks
from anything2rdf_spark.plans.pipeline import Pipeline
from anything2rdf_spark.session import get_spark
from anything2rdf_spark.session import stop_spark as reset_session

from kgbench import checks, inputs
from kgbench.trace import NullSpans

DRIVER_MEMORY = "2g"
N_BUCKETS = 32  # Pipeline's default, as bench.py uses it
SETUPS = 3  # setup_s is the median of this many set-ups, each in a fresh JVM


def task_threads() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def start_spark(workload: str, run_dir: str, event_log: str | None = None):
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "true",
        }
    return get_spark(master=f"local[{task_threads()}]", app_name=f"kgbench-{workload}", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit; the next
    ``start_spark`` in this process launches a fresh JVM."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    reset_session(spark)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001


def setup(workload: str, seed: int, run_dir: str, spans=None, event_log: str | None = None):
    """One set-up: start the session, then generate the inputs from the
    seed under ``run_dir``. Returns the session, the inputs and the walls."""
    spans = spans or NullSpans()
    t0 = time.perf_counter()
    with spans.span("setup.session"):
        spark = start_spark(workload, run_dir, event_log)
    spans.sc = spark.sparkContext  # tag the jobs of the spans from here on
    t1 = time.perf_counter()
    with spans.span("setup.inputs"):
        inp = inputs.GENERATORS[workload](spark, seed, os.path.join(run_dir, "in"))
    t2 = time.perf_counter()
    return spark, inp, {"session_s": t1 - t0, "inputs_s": t2 - t1}


def repeat_setups(workload: str, seed: int, run_dir: str, n: int) -> list[dict]:
    """The walls of ``n`` more set-ups, each in a fresh JVM that is stopped
    again, with its inputs deleted, before the next one starts."""
    walls = []
    for k in range(n):
        sub = os.path.join(run_dir, f"setup{k}")
        os.makedirs(os.path.join(sub, "local"))
        spark, _, w = setup(workload, seed, sub)
        stop_spark(spark)
        shutil.rmtree(sub)
        walls.append(w)
    return walls


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def parquet_bytes(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet files under ``path``."""
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def build_and_export(spark, inp, seed: int, run_dir: str, spans=None, exports: int = 1) -> dict:
    """Build the triple table from ``inp`` into an empty warehouse, export
    it ``exports`` times and check the outputs. Returns the build wall, the
    export walls, the stage metrics ``Pipeline.run`` returned, the check
    failures per operation, and the pipeline for replays."""
    spans = spans or NullSpans()
    out: dict = {}
    pipe = Pipeline(spark, os.path.join(run_dir, "wh"), n_buckets=N_BUCKETS)
    with spans.span("build"):
        t = time.perf_counter()
        out["stages"] = pipe.run(**inp.pipeline_args(spark), force=True)
        out["build_s"] = time.perf_counter() - t
    n_triples = pipe.catalog.row_count("triples")
    walls, export_failures = [], []
    for k in range(exports):
        nt = os.path.join(run_dir, f"export{k}.nt")
        with spans.span("export"):
            t = time.perf_counter()
            sinks.write_nt(pipe.triples(), nt)
            walls.append(time.perf_counter() - t)
        # check and delete each export before the next one starts, so the
        # exports do not share the disk with earlier outputs
        lines, out["nt_bytes"] = checks.text_lines(nt)
        export_failures += checks.check_nt(lines, n_triples)
        shutil.rmtree(nt)
    out["export_walls"] = walls
    out["peak_rss_mb"] = peak_rss_mb(spark)
    out["wh_bytes_per_input_byte"] = (
        parquet_bytes(pipe.catalog.warehouse)[0] / parquet_bytes(inp.transcripts)[0]
    )

    t = time.perf_counter()
    with spans.span("check"):
        triples = pipe.triples()
        out["failures"] = {
            "build": checks.check_turn_sample(spark, triples, inp, seed)
            + checks.check_sameas(triples, inp),
            "export": export_failures,
        }
    out["check_s"] = time.perf_counter() - t
    out["pipeline"] = pipe
    return out
