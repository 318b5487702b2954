"""Pipeline end-to-end + idempotent-resume tests (SURVEY §5.2 item 3:
kill after stage k, re-run, byte-identical output)."""

import itertools
import json
import os
import shutil
import sys
import threading

import pytest
from pyspark.sql import functions as F

from anything2rdf_spark.operators import link as LK
from anything2rdf_spark.plans.pipeline import STAGES, Pipeline
from anything2rdf_spark.sources import synth


@pytest.fixture()
def inputs(spark):
    return {
        "transcripts": synth.transcripts(spark, n_convs=30, seed=21),
        "dictionary": synth.entity_dictionary(spark),
        "code_tables": synth.code_tables(spark),
        "alias_edges": synth.alias_edges(spark, big_chain=50),
        "dictionary_surfaces": synth.ALL_MENTION_NAMES,
    }


def _triple_set(df):
    return {
        (r["subj"], r["pred"], r["obj_iri"], r["obj_lit"], r["obj_lang"], r["obj_dtype"])
        for r in df.collect()
    }


def test_pipeline_end_to_end_and_resume(spark, tmp_path, inputs):
    wh = str(tmp_path / "wh")
    p = Pipeline(spark, wh, n_buckets=8)
    m1 = p.run(**inputs, fingerprint="fp1")
    assert all(m1[s]["status"] == "done" for s in ["normalize", "extract", "link", "canonicalize", "materialize"])
    t1 = _triple_set(p.triples())
    assert len(t1) > 0

    # full re-run: everything skips, output unchanged
    p2 = Pipeline(spark, wh, n_buckets=8)
    m2 = p2.run(**inputs, fingerprint="fp1")
    assert all(m2[s]["status"] == "skipped" for s in ["normalize", "extract", "link", "canonicalize", "materialize"])
    assert _triple_set(p2.triples()) == t1

    # kill-after-stage-k: wipe stages 4-5 outputs, resume recomputes only them
    shutil.rmtree(f"{wh}/canonical_map")
    shutil.rmtree(f"{wh}/triples")
    p3 = Pipeline(spark, wh, n_buckets=8)
    m3 = p3.run(**inputs, fingerprint="fp1")
    assert m3["normalize"]["status"] == "skipped"
    assert m3["extract"]["status"] == "skipped"
    assert m3["link"]["status"] == "skipped"
    assert m3["canonicalize"]["status"] == "done"
    assert m3["materialize"]["status"] == "done"
    assert _triple_set(p3.triples()) == t1  # byte-identical semantics

    # fingerprint change forces recompute
    m4 = Pipeline(spark, wh, n_buckets=8).run(**inputs, fingerprint="fp2")
    assert m4["normalize"]["status"] == "done"


def test_pipeline_failed_stage_leaves_trace(spark, tmp_path, inputs, monkeypatch):
    """A table whose build raises leaves a failed row for its stage and
    starts none of its dependents, while independent stages finish; run()
    raises that error, and a resumed run recomputes only what is missing."""

    class LinkBroke(RuntimeError):
        pass

    def broken(*args, **kwargs):
        raise LinkBroke("link_mentions failed")

    clean = Pipeline(spark, str(tmp_path / "clean"), n_buckets=4)
    clean.run(**inputs, fingerprint="fp")

    wh = str(tmp_path / "wh")
    p = Pipeline(spark, wh, n_buckets=4)
    with monkeypatch.context() as mp:
        mp.setattr(LK, "link_mentions", broken)
        with pytest.raises(LinkBroke):
            p.run(**inputs, fingerprint="fp")
    rows = [r for r in p.registry.metrics() if r["partition_id"] is None]
    assert [(r["stage"], r["error"]) for r in rows if r["status"] == "failed"] == [
        ("link", "LinkBroke")
    ]
    done = {r["stage"] for r in rows if r["status"] == "done"}
    assert "link" not in done and "materialize" not in done
    assert "canonicalize" in done
    # tables that do not read the failed one still commit; its readers
    # never start
    assert p.catalog.exists("triples_dictionary")
    assert not any(
        p.catalog.exists(t) for t in ("triples_mentions", "entities_new", "triples")
    )

    m = Pipeline(spark, wh, n_buckets=4).run(**inputs, fingerprint="fp")
    assert {s: m[s]["status"] for s in STAGES} == {
        "normalize": "skipped", "extract": "skipped", "link": "done",
        "canonicalize": "skipped", "materialize": "done",
    }
    assert _triple_set(p.triples()) == _triple_set(clean.triples())


def test_pipeline_canonicalization_rewrites_mentions(spark, tmp_path):
    """Alias edges between entity ids must rewrite mention triples to the
    canonical IRI and emit owl:sameAs."""
    ts = spark.createDataFrame(
        [("c1", 0, "user", "Ada Lovelace wrote notes", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    d = synth.entity_dictionary(spark)
    # p000 (Ada) asserted-same as p001: canonical = min(p000, p001) = p000
    edges = spark.createDataFrame([("p001", "p000")], "src_id string, dst_id string")
    p = Pipeline(spark, str(tmp_path / "wh2"), n_buckets=4)
    p.run(
        transcripts=ts, dictionary=d, alias_edges=edges,
        dictionary_surfaces=synth.ALL_MENTION_NAMES, fingerprint="x",
    )
    triples = p.triples()
    sameas = triples.filter(F.col("pred").contains("sameAs")).collect()
    assert len(sameas) == 1
    assert sameas[0]["subj"].endswith("entity_p000") and sameas[0]["obj_iri"].endswith("entity_p001")
    # dictionary triples for p001 were rewritten to p000
    assert triples.filter(F.col("subj").endswith("entity_p001")).count() == 0


def test_pipeline_run_with_empty_and_null_labels(spark, tmp_path):
    """A dictionary row whose alt_labels hold an empty string and a NULL
    runs through every stage: blank labels are dropped before the scan is
    built, and the other labels still link."""
    from anything2rdf_spark.operators.extract import P_MENTIONS

    ts = spark.createDataFrame(
        [("c1", 0, "user", "Ada Lovelace wrote notes", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    blank = spark.createDataFrame(
        [("x998", "Blank Alias", ["", None], "concept", "en")],
        "entity_id string, pref_label string, alt_labels array<string>, kind string, lang string",
    )
    d = synth.entity_dictionary(spark).unionByName(blank)
    p = Pipeline(spark, str(tmp_path / "whblank"), n_buckets=4)
    m = p.run(transcripts=ts, dictionary=d, fingerprint="blank")
    assert all(m[s]["status"] == "done" for s in ("extract", "link", "materialize"))
    linked = p.triples().filter(F.col("pred") == P_MENTIONS).collect()
    assert [r["obj_iri"].rsplit("_", 1)[-1] for r in linked] == ["p000"]


def test_lineage_metrics_recorded(spark, tmp_path, inputs):
    wh = str(tmp_path / "wh3")
    p = Pipeline(spark, wh, n_buckets=4)
    m = p.run(**inputs, fingerprint="fp")
    # stage walls overlap; the run's own wall covers every one of them
    assert all(m["total_wall_s"] >= m[s]["wall_s"] > 0 for s in STAGES), m
    rows = p.registry.metrics()
    stages = {r["stage"] for r in rows}
    assert stages == {"normalize", "extract", "link", "canonicalize", "materialize"}
    # stage-level rows carry wall_ms and rows_out
    done = [r for r in rows if r["partition_id"] is None]
    assert all(r["wall_ms"] is not None and r["rows_out"] is not None for r in done)
    # every stage records one row per written partition of its primary
    # table — flat transient tables by write task, the final table by
    # bucket — and they add up to the stage's rows_out
    for r in done:
        parts = [
            x["rows_out"] for x in rows
            if x["stage"] == r["stage"] and x["partition_id"] is not None
        ]
        assert parts, r["stage"]
        assert sum(parts) == r["rows_out"] > 0, r["stage"]
    # only the final triple table is hash-bucketed; the transient stage
    # tables are written flat, as their plans produce them
    bucketed = {
        t for t in os.listdir(wh)
        if os.path.isdir(os.path.join(wh, t))
        and any(d.startswith("pbucket=") for d in os.listdir(os.path.join(wh, t)))
    }
    assert bucketed == {"triples"}
    assert p.catalog.row_count("triples") == p.triples().count()


def test_lineage_record_is_thread_safe(tmp_path):
    """Concurrent records never interleave: each stage row follows its own
    partition rows as one block, even when a record spans many buffered
    writes."""
    from anything2rdf_spark.plans.lineage import LineageRegistry

    reg = LineageRegistry(str(tmp_path / "wh"))
    parts = {pid: pid + 1 for pid in range(1000)}

    def append(k):
        for j in range(5):
            reg.record(f"r{k}-{j}", "link", "fp", None, 1, 1, partition_rows=parts)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=append, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    with open(reg.path) as f:
        run_ids = [json.loads(line)["run_id"] for line in f]
    blocks = [(r, len(list(g))) for r, g in itertools.groupby(run_ids)]
    assert len(blocks) == 40 and all(n == len(parts) + 1 for _, n in blocks)


def test_pipeline_non_default_ns(spark, tmp_path, inputs):
    """ADVICE r1: a Pipeline built with a non-default ns must mint EVERY
    entity IRI (turn/conversation/speaker/role/tool/entity/entity_new/
    sameAs) under that ns — mixed-namespace mints silently broke
    canonicalization's rewrite-map matching."""
    from anything2rdf_spark import NS as DEFAULT_NS
    from anything2rdf_spark import SCHEMA_NS

    other = "http://other.example/kg/"
    p = Pipeline(spark, str(tmp_path / "whns"), ns=other, n_buckets=4)
    p.run(**inputs, fingerprint="fpns")
    triples = p.triples()

    def leaked(col):
        # entity IRIs under the DEFAULT ns (SCHEMA_NS predicates/classes are
        # the engine ontology and stay put by design)
        return triples.filter(
            F.col(col).startswith(DEFAULT_NS) & ~F.col(col).startswith(SCHEMA_NS)
        ).count()

    assert leaked("subj") == 0
    assert leaked("obj_iri") == 0
    assert triples.filter(F.col("subj").startswith(other)).count() > 0
    # canonicalization actually rewrote mention targets into the custom ns
    from anything2rdf_spark.operators.extract import P_MENTIONS

    mentions = triples.filter(F.col("pred") == P_MENTIONS)
    assert mentions.count() > 0
    assert mentions.filter(~F.col("obj_iri").startswith(other)).count() == 0


def _codecs(root):
    """{parquet file: set of its column chunks' codecs}, from the footers."""
    import pyarrow.parquet as pq

    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                md = pq.ParquetFile(os.path.join(d, n)).metadata
                out[os.path.join(d, n)] = {
                    md.row_group(g).column(c).compression
                    for g in range(md.num_row_groups)
                    for c in range(md.num_columns)
                }
    return out


def test_checkpoints_are_zstd(spark, tmp_path, inputs):
    """Every parquet file of every checkpoint, the bucketed triple table
    included, holds only zstd column chunks."""
    wh = str(tmp_path / "whz")
    Pipeline(spark, wh, n_buckets=4).run(**inputs, fingerprint="z")
    codecs = _codecs(wh)
    assert any("pbucket=" in fp for fp in codecs)
    assert {os.path.relpath(fp, wh).split(os.sep)[0] for fp in codecs} >= {
        "transcripts_norm", "triples_candidate", "mentions_linked", "triples"
    }
    assert all(c == {"ZSTD"} for c in codecs.values()), codecs


def test_resume_reads_snappy_checkpoints(spark, tmp_path, inputs):
    """A warehouse whose normalize tables an older build wrote with snappy
    resumes: the stages that read them give the clean run's triples."""
    wh = str(tmp_path / "whs")
    p = Pipeline(spark, wh, n_buckets=4)
    p.run(**inputs, fingerprint="s")
    clean = _triple_set(p.triples())
    for t in ("transcripts_norm", "transcripts_quarantine"):
        path, tmp = p.catalog.path(t), str(tmp_path / f"{t}_snappy")
        p.catalog.read(t).write.option("compression", "snappy").parquet(tmp)
        shutil.copy(os.path.join(path, "_schema.json"), tmp)
        shutil.rmtree(path)
        os.rename(tmp, path)
        assert all(c == {"SNAPPY"} for c in _codecs(path).values())
    for t in ("triples_candidate", "mentions", "mentions_linked", "triples_mentions",
              "entities_new", "triples"):
        p.catalog.drop(t)
    m = Pipeline(spark, wh, n_buckets=4).run(**inputs, fingerprint="s")
    assert {s: m[s]["status"] for s in STAGES} == {
        "normalize": "skipped", "extract": "done", "link": "done",
        "canonicalize": "skipped", "materialize": "done",
    }
    assert _triple_set(p.triples()) == clean


def test_normalize_keeps_every_turn(spark, tmp_path):
    """Each input turn lands in transcripts_norm or transcripts_quarantine,
    whichever of conv_id, turn_idx, role and text is NULL."""
    rows = [
        ("c1", 0, "user", "Ada Lovelace wrote notes", None, None),
        ("c1", 1, "assistant", "noted", None, None),
        (None, 2, "user", "no conversation", None, None),
        ("c1", None, "user", "no index", None, None),
        ("c2", 0, None, "no role", None, None),
        ("c2", 1, "user", None, None, None),
    ]
    ts = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    p = Pipeline(spark, str(tmp_path / "whnull"), n_buckets=4)
    p.run(transcripts=ts, dictionary=synth.entity_dictionary(spark), fingerprint="null")
    cols = ts.columns
    norm = [tuple(r) for r in p.catalog.read("transcripts_norm").select(*cols).collect()]
    quarantine = [tuple(r) for r in p.catalog.read("transcripts_quarantine").collect()]
    assert sorted(norm, key=repr) == sorted(rows[:2], key=repr)
    assert sorted(quarantine, key=repr) == sorted(rows[2:], key=repr)
