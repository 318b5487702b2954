"""Extra benchmarks (guide §1.4): noop-sink isolation of each operator in
the driver-timed legs. NOT part of the frozen measurement contract —
bench.py stays the artifact of record; this file exists so optimization
claims in OPTIMIZATION_r06.md can cite per-operator numbers.

Usage (pin externally, e.g. `taskset -c 8-15 python bench_extra.py curate`):

    python bench_extra.py curate   # curate_corpus component breakdown
    python bench_extra.py emit     # extraction emit kernel variants
    python bench_extra.py scan     # mention scan at 10^2..10^5 surfaces
    python bench_extra.py cc       # connected components at 10^3..10^6 edges
    python bench_extra.py plans OUT.txt  # stage-table write plans, sf0.001
    python bench_extra.py storage WORKLOAD SEED  # bytes/files/codec per table
    python bench_extra.py startup  # session start and class loading, archive off/on
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, df, reps=2, action="noop"):
    walls = []
    for _ in range(reps):
        spark.sparkContext.setJobDescription(label)
        t0 = time.time()
        if action == "noop":
            noop(df)
        else:
            df.count()
        walls.append(round(time.time() - t0, 2))
        spark.sparkContext.setJobDescription(None)
    print(json.dumps({"label": label, "walls_s": walls, "best_s": min(walls)}), flush=True)
    return min(walls)


def curate_docs(spark, rep=16):
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).select("doc_id", "text")
    if rep > 1:
        docs = docs.select(
            F.explode(F.sequence(F.lit(1), F.lit(rep))).alias("_k"), "*"
        ).select(
            (F.col("doc_id") * rep + F.col("_k")).alias("doc_id"),
            F.concat("text", F.lit(" v"), F.col("_k").cast("string")).alias("text"),
        )
    return docs


def main_curate():
    from anything2rdf_spark.operators.curation import curate_corpus
    from anything2rdf_spark.operators.dedupe import normalized_text
    from anything2rdf_spark.operators.textstats import (
        lang_id,
        quality_score,
        redact_pii,
        ws_token_count,
    )
    from anything2rdf_spark.session import get_spark

    spark = get_spark(master="local[4]", app_name="a2r-bx-curate", shuffle_partitions=4)
    docs = curate_docs(spark)
    # warm-up (JIT) on a slice, as bench.py does
    curate_corpus(docs.filter(F.pmod("doc_id", F.lit(50)) == 0), langs=("en",)).count()
    timed(spark, "base_scan", docs)
    timed(spark, "norm_hash_only", docs.select("doc_id", F.sha2(normalized_text("text"), 256).alias("h")))
    timed(spark, "lang_id_only", docs.select("doc_id", lang_id("text").alias("l")))
    timed(spark, "quality_only", docs.select("doc_id", F.round(quality_score("text"), 6).alias("q")))
    timed(spark, "ws_tokens_only", docs.select("doc_id", ws_token_count("text").alias("n")))
    timed(spark, "redact_pii_only", docs.select("doc_id", redact_pii("text").alias("c")))
    timed(spark, "full_chain_count", curate_corpus(docs, langs=("en",), min_quality=0.5), action="count")
    timed(spark, "full_chain_noop", curate_corpus(docs, langs=("en",), min_quality=0.5))
    spark.stop()


def bench_input(spark, replicate=12):
    path = os.path.join("/tmp", "a2r_bench_input_sf0.1")
    base = spark.read.parquet(path)
    if replicate > 1:
        ts = base.select(
            F.explode(F.sequence(F.lit(1), F.lit(replicate))).alias("_k"), "*"
        ).withColumn("conv_id", F.concat_ws("#", "conv_id", "_k")).drop("_k")
    else:
        ts = base
    return base, ts


def main_emit():
    from anything2rdf_spark.operators.extract import extract_triples
    from anything2rdf_spark.session import get_spark

    master = os.environ.get("BX_MASTER", "local[4]")
    n = int(master[master.find("[") + 1 : master.find("]")])
    rep = int(os.environ.get("BX_REPLICATE", "12"))
    spark = get_spark(master=master, app_name="a2r-bx-emit", shuffle_partitions=n)
    base, ts = bench_input(spark, replicate=rep)
    warm = base.filter(F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(40)) == 0)
    extract_triples(warm).count()
    timed(spark, f"emit_count_{master}_rep{rep}", extract_triples(ts), action="count")
    timed(spark, f"emit_noop_{master}_rep{rep}", extract_triples(ts))
    spark.stop()


SCAN_SIZES = (100, 1_000, 10_000, 100_000)


def main_scan():
    """Scaling of the native mention scan with dictionary size:
    ``extract_mentions`` over 2,000 synth conversations whose turns each
    name one synthetic surface, at each of ``SCAN_SIZES`` surfaces (the 24
    stock names plus ``entity{i:05d} name{i % 97}``). Per size, one JSON
    line: the expression build (Python-side alternation and canon map,
    py4j, analysis), the planning (optimizer and physical plan) and the
    best of two noop executions."""
    import shutil
    import tempfile

    from anything2rdf_spark.operators.extract import extract_mentions
    from anything2rdf_spark.session import get_spark
    from anything2rdf_spark.sources import synth

    spark = get_spark(master="local[4]", app_name="a2r-bx-scan", shuffle_partitions=4)
    tmp = tempfile.mkdtemp(prefix="a2r_bx_scan_")
    try:
        for n in SCAN_SIZES:
            i = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(n - 24))
            path = os.path.join(tmp, f"t{n}")
            synth.transcripts(spark, n_convs=2000, seed=42).withColumn(
                "text",
                F.concat(
                    "text", F.lit(" about entity"), F.lpad(i.cast("string"), 5, "0"),
                    F.lit(" name"), F.pmod(i, F.lit(97)).cast("string"),
                ),
            ).write.parquet(path)
            ts = spark.read.parquet(path)
            surfaces = list(synth.ALL_MENTION_NAMES) + [
                f"entity{k:05d} name{k % 97}" for k in range(n - 24)
            ]
            t0 = time.time()
            df = extract_mentions(ts, surfaces)
            build_s = time.time() - t0
            t0 = time.time()
            df._jdf.queryExecution().executedPlan()  # noqa: SLF001
            plan_s = time.time() - t0
            noop(df)  # warm-up: JIT and the per-task pattern compile path
            best = timed(spark, f"scan_noop_{n}", df)
            print(json.dumps({
                "surfaces": n, "build_s": round(build_s, 2), "plan_s": round(plan_s, 2),
                "noop_s": best, "mentions": df.count(),
            }), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


CC_SIZES = (1_000, 10_000, 100_000, 1_000_000)


def _cc_edges(n: int, seed: int = 7):
    """``n`` alias edges as a pyarrow table: a chain over half of them
    whose ids are in shuffled order, the rest trees of 2-6 nodes (each node
    hooked to a random earlier one), every id ``n%07d`` of a random
    permutation. Returns the table and its component count."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    chain = n // 2
    src, dst = [np.arange(chain)], [np.arange(1, chain + 1)]
    nxt, trees, left = chain + 1, 1, n - chain
    while left > 0:
        k = min(int(rng.integers(2, 7)), left + 1)
        kid = np.arange(1, k)
        src.append(nxt + kid)
        dst.append(nxt + (rng.random(k - 1) * kid).astype(np.int64))
        nxt, trees, left = nxt + k, trees + 1, left - (k - 1)
    perm = rng.permutation(nxt)
    names = np.char.add("n", np.char.zfill(perm.astype(str), 7))
    return pa.table({
        "src_id": names[np.concatenate(src)], "dst_id": names[np.concatenate(dst)],
    }), trees


def main_cc():
    """Connected components at ``CC_SIZES`` edges (``_cc_edges``: a
    shuffled-id chain plus 2-6-node trees, read from parquet). Per size, one
    JSON line: the default call's wall (edge collect, the driver's
    union-find and the local relation) and its kernel alone, the driver
    Python process's peak RSS after it, and the checkpointed loop's wall
    (``driver_max_edges=0``) or the error it raised."""
    import resource
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from anything2rdf_spark.operators import canonicalize as CN
    from anything2rdf_spark.session import get_spark

    spark = get_spark(master="local[4]", app_name="a2r-bx-cc", shuffle_partitions=4)
    tmp = tempfile.mkdtemp(prefix="a2r_bx_cc_")
    try:
        for n in CC_SIZES:
            table, n_comp = _cc_edges(n)
            path = os.path.join(tmp, f"e{n}.parquet")
            pq.write_table(table, path)
            edges = spark.read.parquet(path)
            t0 = time.time()
            cm = CN.connected_components(edges)
            call_s = time.time() - t0
            rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            t0 = time.time()
            CN._min_id_components(table["src_id"].combine_chunks(), table["dst_id"].combine_chunks())  # noqa: SLF001
            kernel_s = time.time() - t0
            ok = cm.select("canonical_id").distinct().count() == n_comp
            t0 = time.time()
            try:
                loop = CN.connected_components(edges, driver_max_edges=0)
                loop_out = "ok" if loop.select("canonical_id").distinct().count() == n_comp else "wrong"
            except RuntimeError as e:
                loop_out = str(e)
            print(json.dumps({
                "edges": n, "components": n_comp, "driver_ok": ok,
                "driver_call_s": round(call_s, 2), "kernel_s": round(kernel_s, 2),
                "driver_peak_rss_mb": round(rss_mb), "loop_s": round(time.time() - t0, 2),
                "loop": loop_out,
            }), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


def _write_plans(event_log: str, root: str) -> dict[str, str]:
    """{table: final formatted plan} of every parquet write under
    ``root``/wh in a Spark event log, in table-name order: the plan of the
    last adaptive update of each SQL execution (the start event's plan when
    AQE never re-planned it). The pipeline writes independent tables
    concurrently, so execution ids do not give a stable order."""
    import re

    plans: dict[int, str] = {}
    with open(event_log) as f:
        for line in f:
            ev = json.loads(line)
            if ev["Event"].endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                plans[ev["executionId"]] = ev["physicalPlanDescription"]
    out: dict[str, str] = {}
    for _, text in sorted(plans.items()):
        m = re.search(r"Arguments: file:" + re.escape(root) + r"/wh/(\w+),", text)
        if m:
            # expression ids, plan ids and the scratch root differ between
            # runs
            text = re.sub(r"#\d+", "#n", re.sub(r"plan_id=\d+", "plan_id=n", text))
            out[m.group(1)] = text.replace("file:" + root, "<tmp>").replace(root, "<tmp>")
    return dict(sorted(out.items()))


def table_storage(warehouse: str) -> dict[str, dict]:
    """{table: bytes, files and codecs} of every table directory in a
    warehouse: the parquet files' sizes, and the compression codecs of all
    their column chunks, read from the footers."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for table in sorted(os.listdir(warehouse)):
        root = os.path.join(warehouse, table)
        if not os.path.isdir(root):
            continue
        size = files = 0
        codecs: set[str] = set()
        for d, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    fp = os.path.join(d, n)
                    size += os.path.getsize(fp)
                    files += 1
                    md = pq.ParquetFile(fp).metadata
                    codecs.update(
                        md.row_group(g).column(c).compression
                        for g in range(md.num_row_groups)
                        for c in range(md.num_columns)
                    )
        out[table] = {"bytes": size, "files": files, "codecs": sorted(codecs)}
    return out


def main_storage():
    """Parquet bytes, file count and column-chunk codecs of each checkpoint
    table after one cold build of a kgbench workload's seeded input
    (``storage kg_turns 4501``), in a session set up as the benchmark sets
    it up. Prints one JSON line per table, then the totals."""
    import shutil
    import tempfile

    from anything2rdf_spark.plans.pipeline import Pipeline
    from kgbench import harness

    workload, seed = sys.argv[2], int(sys.argv[3])
    tmp = tempfile.mkdtemp(prefix="a2r_bx_storage_")
    try:
        os.makedirs(os.path.join(tmp, "local"))
        spark, inp, _ = harness.setup(workload, seed, tmp)
        wh = os.path.join(tmp, "wh")
        try:
            Pipeline(spark, wh, n_buckets=harness.N_BUCKETS).run(
                **inp.pipeline_args(spark), force=True
            )
        finally:
            harness.stop_spark(spark)
        tables = table_storage(wh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    for table, st in tables.items():
        print(json.dumps({"table": table} | st), flush=True)
    print(json.dumps({
        "total_bytes": sum(st["bytes"] for st in tables.values()),
        "total_files": sum(st["files"] for st in tables.values()),
    }), flush=True)


def _sf0001_input(spark, root: str) -> str:
    """bench.py's sf0.001 transcripts (100 conversations), written as
    parquet under ``root``; returns the path."""
    from anything2rdf_spark.sources import synth

    inp = os.path.join(root, "transcripts")
    synth.transcripts(spark, n_convs=100, seed=42).repartition(32).write.parquet(inp)
    return inp


def _sf0001_build(spark, root: str, inp: str) -> None:
    """One ``Pipeline.run`` of the transcripts at ``inp`` with the synth
    dictionary, code tables and a 2,000-node alias chain, into ``root``/wh."""
    from anything2rdf_spark.plans.pipeline import Pipeline
    from anything2rdf_spark.sources import synth

    Pipeline(spark, os.path.join(root, "wh"), n_buckets=32).run(
        transcripts=spark.read.parquet(inp),
        dictionary=synth.entity_dictionary(spark),
        code_tables=synth.code_tables(spark),
        alias_edges=synth.alias_edges(spark, big_chain=2000),
        dictionary_surfaces=synth.ALL_MENTION_NAMES,
        force=True,
    )


def main_plans():
    """Formatted physical plans of the stage-table writes of one
    ``Pipeline.run`` on bench.py's sf0.001 input (100 conversations), taken
    from Spark's event log, written to the file named by argv[2]. Snapshots
    live under plans/; diff two of them to see what a change did to a plan."""
    import glob
    import shutil
    import tempfile

    from anything2rdf_spark.session import get_spark

    out_path = sys.argv[2]
    tmp = tempfile.mkdtemp(prefix="a2r_bx_plans_")
    logs = os.path.join(tmp, "eventlog")
    os.makedirs(logs)
    spark = get_spark(
        master="local[4]", app_name="a2r-bx-plans", shuffle_partitions=4,
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": logs,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        },
    )
    try:
        _sf0001_build(spark, tmp, _sf0001_input(spark, tmp))
    finally:
        spark.stop()
    try:
        (log,) = glob.glob(os.path.join(logs, "*"))
        plans = _write_plans(log, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    with open(out_path, "w") as f:
        for table, text in plans.items():
            f.write(f"==== {table} ====\n{text.rstrip()}\n\n")
    print(json.dumps({"plans": out_path, "tables": list(plans)}), flush=True)


def _class_load_sources(log: str, skip: int = 0) -> tuple[dict[str, int], int]:
    """Counts of the ``-Xlog:class+load`` lines of ``log`` after the first
    ``skip``, by where the class came from: ``archive`` (a class-data
    archive, the JDK's or the dynamic one), ``jar``, ``jrt`` (the JDK's
    modules) or ``generated`` (defined at run time: lambdas, proxies,
    reflection accessors, Janino's classes). Also returns the line count."""
    counts = dict.fromkeys(("archive", "jar", "jrt", "generated"), 0)
    with open(log) as f:
        lines = [ln for ln in f if "[class,load]" in ln]
    for ln in lines[skip:]:
        src = ln.partition(" source: ")[2]
        kind = ("archive" if src.startswith("shared objects file")
                else "jrt" if src.startswith("jrt:")
                else "jar" if ".jar" in src
                else "generated")
        counts[kind] += 1
    return counts, len(lines)


def main_startup():
    """Where a fresh driver JVM's start goes, without and with the class
    archive (``session.get_spark``). Per side, three fresh JVMs one after
    another, each with the benchmark's 2 GB heap, each running one
    ``Pipeline.run`` on bench.py's sf0.001 input (100 conversations). Per
    JVM, one JSON line: the session-start wall, whether the archive is
    mapped (read from /proc/<pid>/maps) or recorded at exit, the build and
    stop walls, and the classes loaded by the start and by the build, by
    source (``_class_load_sources``). The "off" side passes its own
    ``spark.driver.extraJavaOptions``, which leaves the archive out. The
    class-load log is turned on through ``JAVA_TOOL_OPTIONS``, which is not
    part of the archive's key. On an empty cache the first "on" JVM records
    the archive and maps nothing."""
    import shutil
    import tempfile

    from anything2rdf_spark.session import get_spark
    from kgbench import harness

    tmp = tempfile.mkdtemp(prefix="a2r_bx_startup_")
    gc_opts = os.environ.get("SPARK_GC_OPTS", "-XX:+UseParallelGC")
    try:
        for side in ("off", "on"):
            for k in range(3):
                run = os.path.join(tmp, f"{side}{k}")
                os.makedirs(os.path.join(run, "local"))
                os.environ["JAVA_TOOL_OPTIONS"] = f"-Xlog:class+load=info:file={run}/classes-%p.log"
                conf = {"spark.driver.memory": harness.DRIVER_MEMORY,
                        "spark.local.dir": os.path.join(run, "local")}
                if side == "off":
                    conf["spark.driver.extraJavaOptions"] = gc_opts
                t0 = time.perf_counter()
                spark = get_spark(master=f"local[{harness.task_threads()}]",
                                  app_name="a2r-bx-startup", extra_conf=conf)
                session_s = time.perf_counter() - t0
                pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
                with open(f"/proc/{pid}/maps") as f:
                    mapped = any(ln.rstrip().endswith(".jsa") and "anything2rdf_spark" in ln for ln in f)
                with open(f"/proc/{pid}/cmdline") as f:
                    recording = "-XX:ArchiveClassesAtExit=" in f.read()
                log = os.path.join(run, f"classes-{pid}.log")
                start, _ = _class_load_sources(log)
                inp = _sf0001_input(spark, run)
                _, n_input = _class_load_sources(log)
                t0 = time.perf_counter()
                _sf0001_build(spark, run, inp)
                build_s = time.perf_counter() - t0
                build, _ = _class_load_sources(log, n_input)
                t0 = time.perf_counter()
                harness.stop_spark(spark)
                print(json.dumps({
                    "side": side, "jvm": k + 1, "session_s": round(session_s, 2),
                    "archive_mapped": mapped,
                    "recording": recording, "build_s": round(build_s, 2),
                    "stop_s": round(time.perf_counter() - t0, 2),
                    "classes_start": start, "classes_build": build,
                }), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    which = sys.argv[1] if len(sys.argv) > 1 else "curate"
    {
        "curate": main_curate, "emit": main_emit, "scan": main_scan, "cc": main_cc,
        "plans": main_plans, "storage": main_storage, "startup": main_startup,
    }[which]()
