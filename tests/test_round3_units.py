"""Round-3 unit tests: portable IVF, grid-plane distinctness, the P6/P7
predicate_choice helper, sessionize id modes, scanner-cache keying."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anything2rdf_spark.functions.predicates import predicate_choice
from anything2rdf_spark.operators import similarity as SM
from anything2rdf_spark.operators.windows import sessionize


def _emb(spark, n=80, dim=16):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda d: (
                F.pmod(F.xxhash64(F.col("id").cast("string"), d, F.lit(5)), F.lit(2000))
                - 1000
            ).cast("double")
            / 1000.0,
        ).alias("embedding"),
    )


def test_grid_planes_distinct_and_bounded():
    planes = SM.grid_planes(16, 11)
    assert len({tuple(p) for p in planes}) == 11  # no duplicate planes
    # and no plane is a cyclic d-shift of another (the mod-7 bug class)
    def shifts(p):
        return {tuple(p[k:] + p[:k]) for k in range(len(p))}

    for i in range(11):
        for j in range(i + 1, 11):
            assert tuple(planes[j]) not in shifts(planes[i])
    with pytest.raises(ValueError):
        SM.grid_planes(16, 12)


def test_ivf_portable_probe_all_equals_exact(spark):
    emb = _emb(spark)
    q = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    cents = SM.ivf_train(emb, nlist=4, iters=2, quantize_scale=1000)
    assert all(isinstance(x, int) for c in cents for x in c)  # integer centroids
    exact = SM.cosine_topk(emb, q, k=5, order_round=6)
    ivf = SM.ivf_topk(emb, q, cents, k=5, nprobe=4, order_round=6, quantize_scale=1000)
    a = sorted((r["query_id"], r["vec_id"], r["rank"]) for r in exact.collect())
    b = sorted((r["query_id"], r["vec_id"], r["rank"]) for r in ivf.collect())
    assert a == b


def test_ivf_portable_partial_probe_subset_of_corpus(spark):
    emb = _emb(spark)
    q = emb.filter("vec_id < 3").select(F.col("vec_id").alias("query_id"), "embedding")
    cents = SM.ivf_train(emb, nlist=4, iters=2, quantize_scale=1000)
    out = SM.ivf_topk(emb, q, cents, k=5, nprobe=1, order_round=6, quantize_scale=1000)
    per_q = out.groupBy("query_id").count().collect()
    assert all(r["count"] <= 5 for r in per_q) and len(per_q) == 3


def test_predicate_choice_first_match_wins(spark):
    df = spark.createDataFrame(
        [("F", "1-URGENT"), ("F", "3-MEDIUM"), ("O", "2-HIGH"), ("P", "5-LOW")],
        "status string, prio string",
    )
    pred = predicate_choice(
        [
            ((F.col("status") == "F") & F.col("prio").startswith("1"), "certain"),
            (F.col("status") == "F", "plain"),
            (F.col("status") == "O", "uncertain"),
        ],
        default="inferred",
    )
    got = [r["p"] for r in df.select(pred.alias("p")).collect()]
    assert got == ["certain", "plain", "uncertain", "inferred"]
    assert df.select(predicate_choice([], "only").alias("p")).first()["p"] == "only"


def test_sessionize_id_modes_agree_on_grouping(spark):
    rows = [
        ("c1", 0, "2024-01-01 00:00:00"),
        ("c1", 1, "2024-01-01 00:10:00"),
        ("c1", 2, "2024-01-01 02:00:00"),  # > 30 min gap → new session
        ("c1", 3, "2024-01-01 02:05:00"),
        ("c2", 0, "2024-01-01 05:00:00"),
    ]
    df = spark.createDataFrame(rows, "conv_id string, turn_idx int, ts string").select(
        "conv_id", "turn_idx", F.col("ts").cast("timestamp").alias("ts")
    )
    seq = sessionize(df, gap_minutes=30, id_mode="seq").collect()
    sts = sessionize(df, gap_minutes=30, id_mode="start_ts").collect()
    by_seq = {}
    by_sts = {}
    for r in seq:
        by_seq.setdefault(r["session_id"], set()).add((r["conv_id"], r["turn_idx"]))
    for r in sts:
        by_sts.setdefault(r["session_id"], set()).add((r["conv_id"], r["turn_idx"]))
    # identical partition into sessions, different labels
    assert sorted(by_seq.values(), key=sorted) == sorted(by_sts.values(), key=sorted)
    # start_ts labels embed the first event's epoch seconds
    assert any(s.endswith(str(1704067200)) for s in by_sts)  # 2024-01-01T00:00:00Z


def test_sessionize_ntz_timestamps(spark):
    df = spark.createDataFrame(
        [("c1", 0, "2024-03-31 01:50:00"), ("c1", 1, "2024-03-31 03:10:00")],
        "conv_id string, turn_idx int, ts string",
    ).select("conv_id", "turn_idx", F.col("ts").cast("timestamp_ntz").alias("ts"))
    # 80-minute wall gap > 30 → two sessions, computed tz-free (no session-tz
    # round trip that a DST transition could shift by ±1h)
    out = sessionize(df, gap_minutes=30)
    assert out.select("session_id").distinct().count() == 2
