"""Extraction stage: golden P/R against the pure-Python reference converter
(SURVEY §5.2: golden-triple fixtures, exact-set equality at unit scale)."""

from pyspark.sql import functions as F

from anything2rdf_spark.operators import extract as EX
from anything2rdf_spark.oracle import reference_converter as REF
from anything2rdf_spark.sources import synth


def _spark_triple_set(df):
    return {
        (r["subj"], r["pred"], r["obj_iri"], r["obj_lit"], r["obj_lang"], r["obj_dtype"])
        for r in df.collect()
    }


def test_extract_exact_set_equality_small(spark):
    ts = synth.transcripts(spark, n_convs=30, seed=7)
    surfaces = synth.ALL_MENTION_NAMES
    got = _spark_triple_set(EX.dedup_triples(EX.extract_triples(ts, dictionary_surfaces=surfaces)))
    rows = [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in ts.collect()
    ]
    expected = REF.convert_all(rows, surfaces)
    p, r = REF.precision_recall(got, expected)
    missing = list(expected - got)[:5]
    extra = list(got - expected)[:5]
    assert p == 1.0 and r == 1.0, (p, r, missing, extra)


def test_extract_admission_predicate(spark):
    df = spark.createDataFrame(
        [("c1", 0, None, "hello", None, None), ("c1", 1, "user", None, None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    assert EX.extract_triples(df).count() == 0
    assert EX.quarantined(df).count() == 2


def test_extract_ane_guards(spark):
    df = spark.createDataFrame(
        [("c1", 0, "user", "   ", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    got = _spark_triple_set(EX.extract_triples(df))
    preds = {t[1] for t in got}
    # blank text → no fulltext/wordCount; blank tool → no usedTool (ANE)
    assert EX.P_FULLTEXT not in preds
    assert EX.P_WORDCOUNT not in preds
    assert EX.P_USED_TOOL not in preds
    assert EX.P_TURN_INDEX in preds


def test_dedup_is_idempotent_set_semantics(spark):
    ts = synth.transcripts(spark, n_convs=10, seed=3)
    t1 = EX.dedup_triples(EX.extract_triples(ts))
    t2 = EX.dedup_triples(t1.unionByName(EX.extract_triples(ts)))  # re-add everything
    assert t1.count() == t2.count()


def test_extract_is_partitioning_invariant(spark):
    ts = synth.transcripts(spark, n_convs=12, seed=5)
    a = _spark_triple_set(EX.dedup_triples(EX.extract_triples(ts.repartition(16))))
    b = _spark_triple_set(EX.dedup_triples(EX.extract_triples(ts.coalesce(1))))
    assert a == b


def test_mentions_extraction(spark):
    df = spark.createDataFrame(
        [("c1", 0, "user", "Ada Lovelace met Charles Babbage in London", None, None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    m = EX.extract_mentions(df, synth.ALL_MENTION_NAMES)
    got = {(r["surface"], r["norm_surface"]) for r in m.collect()}
    assert got == {
        ("Ada Lovelace", "ada lovelace"),
        ("Charles Babbage", "charles babbage"),
        ("London", "london"),
    }


def test_code_table_triples(spark):
    ct = synth.code_tables(spark)
    t = EX.code_table_triples(ct)
    rows = _spark_triple_set(t)
    assert any(p[1].endswith("prefLabel") and p[3] == "Human user" and p[4] == "en" for p in rows)
    assert any(p[1].endswith("#type") and p[2].endswith("Role") for p in rows)


def test_transcripts_generator_contract(spark):
    ts = synth.transcripts(spark, n_convs=200, seed=42)
    total = ts.count()
    hot = ts.filter(F.col("conv_id") == "conv_hot").count()
    assert hot / total >= 0.10  # FIXTURES.md §1: hot conv holds >= 10% of turns
    # determinism across partitioning
    c1 = ts.select(F.sha2(F.concat_ws("|", *ts.columns), 256).alias("h"))
    ts2 = synth.transcripts(spark, n_convs=200, seed=42).repartition(13)
    assert ts.exceptAll(ts2).count() == 0 and ts2.exceptAll(ts).count() == 0
    # ordering comes from turn_idx: each conv has contiguous 0..n-1
    agg = ts.groupBy("conv_id").agg(
        F.min("turn_idx").alias("mn"), F.max("turn_idx").alias("mx"), F.count("*").alias("n")
    )
    bad = agg.filter((F.col("mn") != 0) | (F.col("mx") != F.col("n") - 1)).count()
    assert bad == 0


def test_empty_surface_dictionary_scans_to_nothing(spark):
    """An empty dictionary must produce zero mentions, not a degenerate
    \\b()\\b alternation that matches the empty string — also when its
    only labels are empty or NULL."""
    from anything2rdf_spark.sources import synth

    ts = synth.transcripts(spark, n_convs=3, seed=52)
    assert EX.extract_mentions(ts, []).count() == 0
    assert EX.extract_mentions(ts, ["", None]).count() == 0


def test_attime_literal_is_utc_under_any_session_tz(spark):
    """atTime literals render the UTC instant: a non-UTC session timezone
    must not shift the zone-suffix-free xsd:dateTime output."""
    from anything2rdf_spark.sources import synth

    ts = synth.transcripts(spark, n_convs=3, seed=53)
    want = {(r["subj"], r["obj_lit"]) for r in EX.extract_triples(ts).collect()
            if r["pred"].endswith("atTime")}
    old = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        got = {(r["subj"], r["obj_lit"]) for r in EX.extract_triples(ts).collect()
               if r["pred"].endswith("atTime")}
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert want and got == want
