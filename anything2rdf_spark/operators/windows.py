"""Ordering / window operators (SURVEY §2.8 W1-W5).

The reference has no window functions but plenty of order-dependent logic;
these are the Spark re-expressions. All windows partition by ``conv_id`` —
the skewed-key dimension — so the skew-safe variants matter at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from .. import SCHEMA_NS
from .. import iri
from ..schemas import TRIPLE_COLS

P_NEXT_TURN = SCHEMA_NS + "nextTurn"
P_OCCURS_BEFORE = SCHEMA_NS + "occursBefore"


def ordered_turns(df: DataFrame) -> DataFrame:
    """W1: stable turn ordering — ``row_number`` over
    (conv_id ORDER BY turn_idx). The per-row invariant "per-turn text
    equality under stable turn ordering" (input_hint) is: this ordering is a
    pure function of turn_idx, never of input order (the reference's
    file-order speechId, OBCXML2RDF.scala:170-211, made deterministic)."""
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_rank", F.row_number().over(w))


def ordered_turns_skew_safe(df: DataFrame, bucket_size: int = 4096) -> DataFrame:
    """W1 under skew: the hot conversation (10%+ of all turns, north_rule)
    would serialize a plain conv_id window into one task. Two-phase rank
    salted on ``turn_idx // bucket_size`` (SURVEY §7.2 hard-part 4):

    1. rank within (conv_id, bucket) — parallel across the hot conv's
       buckets;
    2. bucket row-counts (one row per bucket) → cumulative offsets via a
       window over the *tiny* bucket relation;
    3. rank = offset + within-bucket rank.

    Exactly equals ``ordered_turns`` output for rows whose ``conv_id`` and
    ``turn_idx`` are non-NULL (test-enforced). The offsets join on
    ``(conv_id, bucket)`` drops a row with a NULL key, which
    ``ordered_turns`` keeps; the pipeline ranks only ``extract.admissible``
    rows, which have both keys.
    """
    b = (F.col("turn_idx") / bucket_size).cast("long")
    tagged = df.withColumn("_b", b).withColumn(
        "_rn", F.row_number().over(W.partitionBy("conv_id", "_b").orderBy("turn_idx"))
    )
    counts = tagged.groupBy("conv_id", "_b").agg(F.count("*").alias("_n"))
    offsets = counts.withColumn(
        "_off",
        F.coalesce(
            F.sum("_n").over(
                W.partitionBy("conv_id").orderBy("_b").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).drop("_n")
    return (
        tagged.join(offsets, ["conv_id", "_b"])
        .withColumn("turn_rank", (F.col("_off") + F.col("_rn")).cast("int"))
        .drop("_b", "_rn", "_off")
    )


def next_turn_triples(df: DataFrame, ns: str | None = None) -> DataFrame:
    """W2: prev/next chaining — lag/lead edges between consecutive turns
    (the marriage/provenance neighbor links, grandtourjson2rdf.scala:113-135,
    schoenbergcsv2rdf.scala:162-164, as turn succession)."""
    from .. import NS

    ns = ns or NS
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    nxt = F.lead("turn_idx").over(w)
    return (
        df.select("conv_id", "turn_idx", nxt.alias("next_idx"))
        .filter(F.col("next_idx").isNotNull())
        .select(
            iri.turn_iri(ns=ns).alias("subj"),
            F.lit(P_NEXT_TURN).alias("pred"),
            iri.turn_iri("conv_id", "next_idx", ns=ns).alias("obj_iri"),
            F.lit(None).cast("string").alias("obj_lit"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_dtype"),
            "conv_id",
            "turn_idx",
        )
        .select(*TRIPLE_COLS)
    )


def next_turn_triples_join(df: DataFrame, ns: str | None = None) -> DataFrame:
    """Skew-safe W2: successor edges via a self-join on
    ``(conv_id, turn_rank + 1)`` instead of a per-conversation ``lead()``
    window. A hot conversation (10%+ of all turns, the north_rule case)
    serializes a window into ONE task and AQE cannot split windows; the
    composite join key is unique on both sides, so the equi-join has no hot
    partition at any conversation size. Output is identical to
    ``next_turn_triples`` (test-enforced). Input should carry ``turn_rank``
    from ``ordered_turns_skew_safe``; it is computed if absent."""
    from .. import NS

    ns = ns or NS
    if "turn_rank" not in df.columns:
        df = ordered_turns_skew_safe(df)
    cur = df.select("conv_id", "turn_idx", "turn_rank")
    nxt = df.select(
        "conv_id",
        F.col("turn_idx").alias("next_idx"),
        (F.col("turn_rank") - 1).alias("turn_rank"),
    )
    return (
        cur.join(nxt, ["conv_id", "turn_rank"])
        .select(
            iri.turn_iri(ns=ns).alias("subj"),
            F.lit(P_NEXT_TURN).alias("pred"),
            iri.turn_iri("conv_id", "next_idx", ns=ns).alias("obj_iri"),
            F.lit(None).cast("string").alias("obj_lit"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_dtype"),
            "conv_id",
            "turn_idx",
        )
        .select(*TRIPLE_COLS)
    )


def path_prefix_hierarchy(df: DataFrame, col: str, sep: str = "_") -> DataFrame:
    """W3: path-prefix hierarchy — ``a_b_c`` → broader chain a ← a_b ← a_b_c
    (procopecsv2rdf.scala:172-223 foldLeft). Returns (narrower, broader)
    rows via posexplode + prefix reconstruction, all native exprs.
    ``sep`` is a literal separator (regex-escaped for the split)."""
    import re as _re

    parts = F.split(F.col(col), _re.escape(sep))
    n = F.size(parts)
    # prefix i (1-based, ≥2 parts) → (prefix_i, prefix_{i-1})
    pairs = F.transform(
        F.sequence(F.lit(2), n),
        lambda i: F.struct(
            F.array_join(F.slice(parts, 1, i), sep).alias("narrower"),
            F.array_join(F.slice(parts, 1, i - 1), sep).alias("broader"),
        ),
    )
    return (
        df.filter(n >= 2)
        .select(F.explode(pairs).alias("p"))
        .select("p.narrower", "p.broader")
        .distinct()
    )


def numeric_prefix_hierarchy(df: DataFrame, col: str) -> DataFrame:
    """W4: numeric-prefix hierarchy — class number's broader = its prefix of
    length-1 (YKLXML2RDF.scala:50-51). Returns (code, broader)."""
    c = F.col(col)
    return (
        df.select(c.alias("code"))
        .filter(F.length("code") >= 2)
        .select("code", F.expr(f"substring({col}, 1, length({col}) - 1)").alias("broader"))
        .distinct()
    )


def last_marker_propagation(
    lines: DataFrame, marker_col: str, order_col: str, part_col: str | None = None
) -> DataFrame:
    """W5: marker-delimited segmentation — carry the last non-null marker
    forward across ordered lines (ceectsv2rdf.scala:215-227 letter-id
    accumulation), then the caller groups by it. Classic sessionization via
    ``last(ignorenulls)`` over an unbounded-preceding window.

    At scale the order must be within a partitionable unit; pass ``part_col``
    (e.g. file name) — a global orderBy is a single-task window."""
    w = (W.partitionBy(part_col) if part_col else W.partitionBy()).orderBy(order_col).rowsBetween(
        W.unboundedPreceding, 0
    )
    return lines.withColumn("current_marker", F.last(marker_col, ignorenulls=True).over(w))


def _epoch_seconds(df: DataFrame, ts_col: str):
    """Timezone-free epoch seconds for gap arithmetic. A TIMESTAMP (ltz)
    column casts to exact epoch directly; a TIMESTAMP_NTZ column is
    measured against an NTZ epoch literal with ``timestampdiff`` — never
    routed through the session timezone, whose offset is NOT constant
    across a DST transition (a ±1h step would flip session boundaries near
    the gap threshold)."""
    from pyspark.sql.types import TimestampNTZType

    if isinstance(df.schema[ts_col].dataType, TimestampNTZType):
        return F.expr(
            f"timestampdiff(SECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', {ts_col})"
        )
    return F.col(ts_col).cast("timestamp").cast("long")


def sessionize(
    df: DataFrame,
    key: str = "conv_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    id_mode: str = "seq",
) -> DataFrame:
    """Gap-based sessionization within a key: new session when the time gap
    from the previous event exceeds ``gap_minutes`` (lag + cumsum pattern).

    ``id_mode='seq'`` labels sessions ``<key>#<n>`` (1-based sequence);
    ``id_mode='start_ts'`` labels ``<key>#<epoch seconds of the session's
    first event>`` — content-derived ids that stay collision-free even when
    a streaming deployment evicts and recreates per-key state (see
    streaming.stream_extract.streaming_sessionize)."""
    w = W.partitionBy(key).orderBy(ts_col)
    tsec = _epoch_seconds(df, ts_col)
    gap = tsec - F.lag(tsec).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    cum = w.rowsBetween(W.unboundedPreceding, 0)
    if id_mode == "start_ts":
        start = F.max(F.when(is_new == 1, tsec)).over(cum)
        label = start.cast("string")
    else:
        label = F.sum(is_new).over(cum).cast("string")
    return df.withColumn("session_id", F.concat(F.col(key), F.lit("#"), label))


def skew_safe_conv_stats(df: DataFrame, bucket_size: int = 1000) -> DataFrame:
    """Per-conversation aggregates that survive a hot conv_id holding 10%+
    of all turns (SURVEY §7.2 hard-part 4): two-phase aggregation salted on
    ``turn_idx // bucket_size`` — partial per (conv, bucket), then final per
    conv. Returns (conv_id, n_turns, first_ts, last_ts, total_words)."""
    from ..functions.text import wordcount

    partial = (
        df.groupBy("conv_id", (F.col("turn_idx") / bucket_size).cast("long").alias("_b"))
        .agg(
            F.count("*").alias("n"),
            F.min("ts").alias("mn"),
            F.max("ts").alias("mx"),
            F.sum(F.coalesce(wordcount("text"), F.lit(0))).alias("w"),
        )
    )
    return partial.groupBy("conv_id").agg(
        F.sum("n").alias("n_turns"),
        F.min("mn").alias("first_ts"),
        F.max("mx").alias("last_ts"),
        F.sum("w").alias("total_words"),
    )
