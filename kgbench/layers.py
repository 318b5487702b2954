"""The traced run: a cold build with spans and Spark's event log on, then
per-layer replays of the build's public operators on the warm session.

Every stage table is replayed twice from the build's checkpointed inputs,
once into Spark's ``noop`` sink (compute only) and once through
``Catalog.write`` into a scratch catalog (compute + checkpoint write), which
splits each stage into compute and write without touching ``Pipeline``.
Curation runs over the workload's own turn texts, one scalar at a time into
the noop sink as ``bench_extra.py curate`` isolates them, then as the whole
``curate_corpus`` chain.
"""

from __future__ import annotations

import os
import statistics
import time

from pyspark.sql import functions as F

from anything2rdf_spark.operators import canonicalize as CN
from anything2rdf_spark.operators import extract as EX
from anything2rdf_spark.operators import link as LK
from anything2rdf_spark.operators import windows as WD
from anything2rdf_spark.operators.curation import curate_corpus
from anything2rdf_spark.operators.dedupe import normalized_text
from anything2rdf_spark.operators.textstats import lang_id, quality_score, redact_pii, ws_token_count
from anything2rdf_spark.plans.pipeline import STAGES
from anything2rdf_spark.sources.catalog import Catalog

from kgbench import harness
from kgbench.trace import Spans, event_log_files, parse_event_log

# the end-to-end metric each layer's metrics should move, by metric-name
# prefix (the names and units are in BENCHMARK.json)
TARGETS = {
    "pipeline.": "build_s on both kg workloads",
    "catalog.": "build_s and wh_bytes_per_input_byte on kg_turns; little on kg_entities",
    "windows.": "build_s on kg_turns",
    "extract.": "build_s on kg_turns",
    "mentions.": "build_s on kg_entities; flat on kg_turns",
    "link.": "build_s on kg_entities",
    "canon.": "build_s on kg_entities",
    "sinks.": "none: no export is timed end to end (see the README)",
    "curate.": "a curation job's wall (no curation workload is timed)",
    "spark.": "build_s on the traced workload",
    "trace.": "none: trace.build_s - build_s is the tracing overhead",
}


# sinks.export_s is the median of this many exports of the triple table,
# after one untimed export: the first export after the build runs 20-40%
# slower while the write path's code is still cold
EXPORTS = 5


def target(metric: str) -> str:
    return next(t for prefix, t in TARGETS.items() if metric.startswith(prefix))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _stage_tables(spark, cat: Catalog, inp) -> list[tuple[str, str | None, object]]:
    """(table, bucket column, operator) for every stage table, each operator
    reading its inputs from the build's checkpoints, as ``Pipeline.run``
    wires them."""
    args = inp.pipeline_args(spark)
    t, dictionary = args["transcripts"], args["dictionary"]
    surfaces = spark.sparkContext.broadcast(list(inp.surfaces))

    def candidate():
        norm = cat.read("transcripts_norm")
        return (
            EX.extract_triples(norm)
            .unionByName(EX.code_table_triples(args["code_tables"]))
            .unionByName(WD.next_turn_triples_join(norm))
        )

    def materialize():
        data = cat.read("triples_candidate").unionByName(cat.read("triples_mentions"))
        data = data.unionByName(cat.read("triples_dictionary"))
        data = CN.rewrite_triples(data, CN.canonical_rewrite_map(cat.read("canonical_map")))
        return EX.dedup_triples(data.unionByName(cat.read("triples_sameas")))

    return [
        ("transcripts_norm", "conv_id", lambda: WD.ordered_turns_skew_safe(EX.admissible(t))),
        ("transcripts_quarantine", "conv_id", lambda: EX.quarantined(t)),
        ("triples_candidate", "conv_id", candidate),
        ("mentions", "conv_id", lambda: EX.extract_mentions(cat.read("transcripts_norm"), surfaces)),
        ("mentions_linked", "conv_id", lambda: LK.link_mentions(cat.read("mentions"), dictionary)),
        ("triples_mentions", "conv_id", lambda: LK.mention_triples(cat.read("mentions_linked"))),
        ("triples_dictionary", None, lambda: LK.dictionary_triples(dictionary)),
        ("entities_new", None, lambda: LK.new_entities(cat.read("mentions_linked"))),
        ("canonical_map", None, lambda: CN.connected_components(args["alias_edges"])),
        ("triples_sameas", None, lambda: CN.sameas_triples(cat.read("canonical_map"))),
        ("triples", "conv_id", materialize),
    ]


def _replay(spark, spans: Spans, cat: Catalog, inp, scratch: str) -> tuple[dict[str, dict], float]:
    """Per stage table: noop (compute) and ``Catalog.write`` walls; plus the
    wall of the canonical rewrite alone."""
    out_cat = Catalog(spark, scratch, n_buckets=harness.N_BUCKETS)
    walls: dict[str, dict] = {}
    for table, bucket_col, op in _stage_tables(spark, cat, inp):
        with spans.span(f"compute:{table}"):
            t = time.perf_counter()
            _noop(op())
            compute = time.perf_counter() - t
        with spans.span(f"write:{table}"):
            t = time.perf_counter()
            out_cat.write(op(), table, bucket_col=bucket_col)
            write = time.perf_counter() - t
        walls[table] = {"compute_s": compute, "write_s": write}
    with spans.span("rewrite"):
        t = time.perf_counter()
        data = cat.read("triples_candidate").unionByName(cat.read("triples_mentions"))
        _noop(CN.rewrite_triples(data, CN.canonical_rewrite_map(cat.read("canonical_map"))))
        rewrite_s = time.perf_counter() - t
    return walls, rewrite_s


def _curate(spark, spans: Spans, inp, scratch: str) -> tuple[dict, list[str]]:
    """Curation layer over the turn texts as documents; returns metrics and
    the curated output's invariant failures."""
    docs = (
        spark.read.parquet(inp.transcripts)
        .filter(F.col("text").isNotNull())
        .select(F.concat_ws("#", "conv_id", "turn_idx").alias("doc_id"), "text")
    )
    m: dict = {}
    for name, col in [
        ("norm_hash", F.sha2(normalized_text("text"), 256)),
        ("lang_id", lang_id("text")),
        ("quality", F.round(quality_score("text"), 6)),
        ("ws_tokens", ws_token_count("text")),
        ("redact_pii", redact_pii("text")),
    ]:
        with spans.span(f"curate:{name}"):
            t = time.perf_counter()
            _noop(docs.select("doc_id", col.alias("v")))
            m[f"curate.{name}_s"] = time.perf_counter() - t
    path = os.path.join(scratch, "curated")
    with spans.span("curate:corpus"):
        t = time.perf_counter()
        curate_corpus(docs, langs=("en",), min_quality=0.5).write.parquet(path)
        m["curate.corpus_s"] = time.perf_counter() - t
    cur = spark.read.parquet(path)
    n_docs, n_out = docs.count(), cur.count()
    m["curate.keep_share"] = n_out / n_docs
    m["curate.input_partitions"] = docs.rdd.getNumPartitions()
    bad = cur.agg(
        F.countDistinct("doc_id").alias("ids"),
        F.sum((F.col("lang_guess") != "en").cast("int")).alias("lang"),
        F.sum((F.col("quality") < 0.5).cast("int")).alias("quality"),
    ).first()
    failures = []
    if n_out == 0:
        failures.append("curate_corpus kept no documents")
    if bad["ids"] != n_out:
        failures.append(f"{n_out - bad['ids']} duplicate doc_id")
    if bad["lang"]:
        failures.append(f"{bad['lang']} documents with lang_guess != 'en'")
    if bad["quality"]:
        failures.append(f"{bad['quality']} documents with quality < 0.5")
    return m, failures


def traced(workload: str, seed: int, run_dir: str, trace_path: str) -> dict:
    """Run the traced build and replays; return per-layer metrics, check
    failures per operation, and write spans plus event-log totals to
    ``trace_path``."""
    spans = Spans(run_id=os.path.basename(run_dir))
    event_dir = os.path.join(run_dir, "eventlog")
    scratch = os.path.join(run_dir, "replay")
    spark, inp, _ = harness.setup(workload, seed, run_dir, spans, event_log=event_dir)
    try:
        out = harness.build_and_export(spark, inp, seed, run_dir, spans, exports=1 + EXPORTS)
        cat = out["pipeline"].catalog
        walls, rewrite_s = _replay(spark, spans, cat, inp, scratch)
        curate, curate_failures = _curate(spark, spans, inp, scratch)
        rows = {t: cat.row_count(t) for t in walls}
        matched = cat.read("mentions_linked").filter("matched").count()
    finally:
        harness.stop_spark(spark)
    groups = parse_event_log(event_log_files(event_dir))

    build = groups["build"]
    wh_bytes, wh_files = harness.parquet_bytes(cat.warehouse)
    dedup_in = sum(rows[t] for t in ("triples_candidate", "triples_mentions", "triples_dictionary", "triples_sameas"))
    m = {f"pipeline.{s}_s": out["stages"][s]["wall_s"] for s in STAGES}
    m |= {
        # what Catalog.write adds over computing the same table (the noop
        # replay), summed over the stage tables
        "catalog.write_s": sum(w["write_s"] - w["compute_s"] for w in walls.values()),
        "catalog.bytes_written": wh_bytes,
        "catalog.files_written": wh_files,
        "catalog.rows_written": sum(rows.values()),
        "windows.normalize_compute_s": walls["transcripts_norm"]["compute_s"],
        "extract.triples_compute_s": walls["triples_candidate"]["compute_s"],
        "extract.dedup_compute_s": walls["triples"]["compute_s"],
        "extract.dedup_drop_share": 1 - rows["triples"] / dedup_in,
        "mentions.compute_s": walls["mentions"]["compute_s"],
        "mentions.rows": rows["mentions"],
        "mentions.surfaces": len(set(inp.surfaces)),
        "link.compute_s": walls["mentions_linked"]["compute_s"],
        "link.matched_share": matched / max(1, rows["mentions_linked"]),
        "canon.cc_s": walls["canonical_map"]["compute_s"],
        "canon.cc_jobs": groups["compute:canonical_map"]["jobs"],
        "canon.nodes": rows["canonical_map"],
        "canon.rewrite_s": rewrite_s,
        "sinks.export_s": statistics.median(out["export_walls"][1:]),
        "sinks.nt_bytes": out["nt_bytes"],
        "spark.jobs": build["jobs"],
        "spark.shuffle_write_bytes": build["shuffle_write_bytes"],
        "spark.shuffle_read_bytes": build["shuffle_read_bytes"],
        "spark.spill_bytes": build["spill_bytes"],
        "spark.gc_s": build["gc_s"],
        "spark.executor_cpu_s": build["executor_cpu_s"],
        "spark.cpu_busy_share": build["executor_cpu_s"] / (out["build_s"] * harness.task_threads()),
        "trace.build_s": out["build_s"],
    } | curate
    failures = out["failures"] | {"curate": curate_failures}
    spans.write(trace_path, workload=workload, seed=seed, job_groups=groups, replay_walls=walls,
                metrics=m, targets={k: target(k) for k in m}, failures=failures)
    return {"metrics": m, "failures": failures}
