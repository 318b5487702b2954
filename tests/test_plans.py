"""Physical-plan structure assertions: the scale claims in docs/DESIGN.md
("extract is one narrow span", "dictionary joins broadcast", "quality
signals ride the scan") as executable tests, so a refactor that silently
introduces a shuffle or drops a pushdown fails CI, not a 100 TB run."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from anything2rdf_spark.operators import canonicalize as CN
from anything2rdf_spark.operators import extract as EX
from anything2rdf_spark.operators import link as LK
from anything2rdf_spark.operators import textstats as TS
from anything2rdf_spark.sources import synth


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def transcripts(spark, tmp_path_factory):
    # materialize to parquet so operator plans are isolated from the
    # generator's own lineage (which contains a sort)
    path = str(tmp_path_factory.mktemp("plans") / "t.parquet")
    synth.transcripts(spark, n_convs=10, seed=7).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def test_extract_is_shuffle_free(spark, transcripts):
    """Triple emission is a narrow select+explode: zero Exchange operators —
    at 100 TB the stage cost is exactly one pass over the input."""
    p = plan(EX.extract_triples(transcripts))
    assert "Exchange" not in p


def test_textstats_ride_the_scan(spark, transcripts):
    """All quality/repetition signals are scan-local expressions (no
    Exchange): adding them to an existing pass costs no extra pass."""
    df = transcripts.select(
        TS.quality_score("text"),
        TS.lang_id("text").alias("lang"),
        TS.dup_ngram_fraction("text", 3),
        TS.doc_fingerprint("text").alias("fp"),
    )
    p = plan(df)
    assert "Exchange" not in p


def test_admission_filter_pushed_to_parquet(spark, transcripts, tmp_path):
    """The admission predicate reaches the parquet scan as PushedFilters —
    quarantined rows are skipped by row-group stats, not read then dropped."""
    path = str(tmp_path / "t.parquet")
    transcripts.write.mode("overwrite").parquet(path)
    p = plan(EX.admissible(spark.read.parquet(path)))
    assert "PushedFilters: [" in p
    assert "IsNotNull" in p.split("PushedFilters:", 1)[1][:200]


def test_dictionary_link_broadcasts(spark, transcripts):
    """The dictionary-side join is a BroadcastHashJoin (no shuffle of the
    mention table) when broadcast_dict=True."""
    mentions = EX.extract_mentions(transcripts, ["alpha", "beta"])
    p = plan(LK.link_mentions(mentions, synth.entity_dictionary(spark)))
    assert "BroadcastHashJoin" in p
    # and the big (mentions) side is not exchanged for the join: the only
    # exchange allowed is the broadcast one
    assert "Exchange hashpartitioning" not in p


# plan budget for the small-dictionary mention path: no Python
# evaluation node and no scan of a driver-built RDD (a local list turned
# into a DataFrame); either one starts Python workers
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "Scan ExistingRDD")


@pytest.fixture(scope="module")
def dictionary(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "d.parquet")
    synth.entity_dictionary(spark).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@pytest.mark.parametrize("n_surfaces", [24, 10_000], ids=["stock", "synthetic_1e4"])
def test_small_dictionary_mention_path_runs_without_python(
    spark, transcripts, dictionary, n_surfaces
):
    """Mention extraction, the surface index and linking plan no Python
    node at any dictionary size: the scan is one native regex and NFC a JVM
    call. Run with the 24 stock surfaces and with 10⁴ synthetic ones."""
    surfaces = sorted(set(synth.ALL_MENTION_NAMES))
    assert len(surfaces) == 24
    surfaces += [f"entity{i:05d} name{i % 97}" for i in range(n_surfaces - len(surfaces))]
    mentions = EX.extract_mentions(transcripts, surfaces)
    for df in (mentions, LK.surface_index(dictionary), LK.link_mentions(mentions, dictionary)):
        p = plan(df)
        assert not [n for n in PYTHON_NODES if n in p], p[:2000]


def test_rewrite_triples_join_strategy_policy(spark):
    """broadcast_map=True plans a broadcast join; False plans a shuffle join
    (the entity-scale path where the canonical map exceeds broadcast range)."""
    triples = synth.transcripts(spark, n_convs=5, seed=3).selectExpr(
        "conv_id AS subj", "'p' AS pred", "text AS obj_iri",
        "CAST(NULL AS STRING) AS obj_lit", "CAST(NULL AS STRING) AS obj_lang",
        "CAST(NULL AS STRING) AS obj_dtype", "conv_id", "turn_idx",
    )
    mapping = spark.createDataFrame([("a", "b")], "from_iri string, to_iri string")
    p_bc = plan(CN.rewrite_triples(triples, mapping, broadcast_map=True))
    p_sj = plan(CN.rewrite_triples(triples, mapping, broadcast_map=False))
    assert "BroadcastHashJoin" in p_bc
    assert "SortMergeJoin" in p_sj or "ShuffledHashJoin" in p_sj


def _n_exchanges(plan_text: str) -> int:
    import re

    return len(re.findall(r"\(\d+\) Exchange", plan_text))


def test_domain_counts_single_shuffle_with_partial_agg(spark, transcripts):
    """URL-domain counting is scan → explode → partial HashAggregate →
    ONE Exchange → final HashAggregate: map-side combine moves
    distinct-domain rows, never URL occurrences, and the scan is pruned
    to the text column."""
    docs = transcripts.select(F.col("conv_id").alias("doc_id"), "text")
    p = plan(TS.domain_counts(docs))
    assert _n_exchanges(p) == 1
    assert "partial_count" in p  # map-side combine below the exchange
    assert "ReadSchema: struct<text:string>" in p


def test_paragraph_duplicates_aggregated_shuffles_only(spark, transcripts):
    """Paragraph dedup plans the standard two-stage exact-distinct shape:
    exactly two exchanges, with a partial aggregate (map-side combine on
    (para_hash, doc_id)) planned below the first — raw paragraph
    occurrences never shuffle."""
    from anything2rdf_spark.operators import dedupe as DD

    docs = transcripts.select(F.col("conv_id").alias("doc_id"), "text")
    p = plan(DD.paragraph_duplicates(docs))
    assert _n_exchanges(p) == 2
    assert "partial_count" in p and "partial_min" in p


def test_curation_chain_single_shuffle(spark, transcripts):
    """curate_corpus's only shuffle exchange is the dedup min-per-hash
    aggregation (map-side combined, so a viral duplicate collapses before
    the shuffle); the canonical side then broadcasts for the composite-key
    semi-join — the corpus itself never shuffles — and lang/quality/PII/
    token steps are scan-local expressions on the surviving rows."""
    from anything2rdf_spark.operators.curation import curate_corpus

    docs = transcripts.select(
        F.abs(F.xxhash64("conv_id", "turn_idx")).alias("doc_id"), "text"
    )
    p = plan(curate_corpus(docs, langs=("en",), min_quality=0.5))
    assert _n_exchanges(p) == 1


def test_lineage_registry_survives_truncated_line(tmp_path):
    """A run killed mid-append leaves a partial trailing JSONL line; the
    registry must skip it, not crash every later resume."""
    from anything2rdf_spark.plans.lineage import LineageRegistry

    reg = LineageRegistry(str(tmp_path))
    reg.record("r1", "extract", "fp1", None, 10, 5)
    with open(reg.path, "a") as f:
        f.write('{"run_id": "r2", "stage": "ext')  # truncated
    assert reg.is_done("extract", "fp1")
    assert len(reg.metrics()) == 1


def test_substring_dedup_plan_shape(spark):
    """substring_duplicate_spans: content-defined selection runs inside the
    scan (no Python anywhere), the pair join is an equi-join (never a
    cartesian product), and the hot-shingle anti-join broadcasts its
    dimension-sized side. strip_duplicate_spans splices natively too."""
    from anything2rdf_spark.operators.dedupe import (
        strip_duplicate_spans,
        substring_duplicate_spans,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    spans = substring_duplicate_spans(docs, shingle_len=32, stride=16)
    p = plan(spans)
    assert "CartesianProduct" not in p
    assert "EvalPython" not in p  # no row-at-a-time or Arrow Python stage
    assert "BroadcastHashJoin" in p  # the df-cap anti-join side
    p2 = plan(strip_duplicate_spans(docs, spans))
    assert "CartesianProduct" not in p2 and "EvalPython" not in p2


def test_semantic_dedup_plan_shape(spark):
    """semantic_duplicates' assignment is a native expression over broadcast
    centroids (no Python), and the within-cluster pair join is an equi-join
    on cluster id — never all-pairs."""
    from anything2rdf_spark.operators.similarity import ivf_train, semantic_duplicates

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cents = ivf_train(emb, nlist=4, iters=1)
    p = plan(semantic_duplicates(emb, centroids=cents, threshold=0.5))
    assert "CartesianProduct" not in p and "EvalPython" not in p


def test_c4_line_filter_is_shuffle_free(spark, transcripts):
    """C4 line cleaning is one scan-local projection (split → higher-order
    filter → array_join → md5): zero Exchange operators, zero Python —
    the whole rule family rides the document scan at any corpus size."""
    from anything2rdf_spark.operators.curation import c4_line_filter

    docs = transcripts.select(
        F.abs(F.xxhash64("conv_id", "turn_idx")).alias("doc_id"), "text"
    )
    p = plan(c4_line_filter(docs))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_mixture_weights_single_shuffle(spark, transcripts):
    """mixture_weights' only exchange is the partial-aggregated per-group
    token count (plus the single-row total broadcast): the corpus never
    shuffles and all weight math happens on the dimension-sized result."""
    from anything2rdf_spark.operators.curation import mixture_weights

    docs = transcripts.select(F.col("role").alias("source"), "text")
    p = plan(mixture_weights(docs, alpha=0.5, budget_tokens=1000))
    # one shuffle for the groupBy; the totals agg over ≤|groups| rows adds
    # its own single-partition exchange — corpus-sized data crosses once
    assert p.count("Exchange hashpartitioning") <= 1


def test_pq_encode_is_shuffle_free(spark):
    """PQ encoding is scan-local: quantize → per-subspace argmin against
    broadcast literal codebooks — zero Exchange, zero Python. The 100-TB
    encode pass must ride the embedding scan."""
    from anything2rdf_spark.operators import similarity as SM

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cbs = SM.pq_train(emb.limit(16), m=4, ksub=4, iters=1)
    p = plan(SM.pq_encode(emb, cbs))
    assert "Exchange" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_seed_lm_logprob_broadcasts_models(spark, transcripts):
    """Both LM model tables (trigram counts, prefix mass) and the alphabet
    scalar reach the scoring join as broadcasts — the corpus side shuffles
    only for the final per-doc aggregate."""
    from anything2rdf_spark.operators.textstats import seed_lm_logprob

    docs = transcripts.select(
        F.abs(F.xxhash64("conv_id", "turn_idx")).alias("doc_id"), "text"
    )
    p = plan(seed_lm_logprob(docs))
    assert p.count("BroadcastExchange") >= 3
    assert "SortMergeJoin" not in p


def test_pq_adc_scan_broadcasts_queries(spark):
    """The ADC scan is corpus-side scan-local (codes computed in the scan)
    with the query table broadcast — no shuffle before the top-k window."""
    from anything2rdf_spark.operators import similarity as SM

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    cbs = SM.pq_train(emb.limit(16), m=4, ksub=4, iters=1)
    q = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    p = plan(SM.pq_adc_topk(emb, q, cbs, k=5))
    assert "BroadcastExchange" in p
    assert "SortMergeJoin" not in p


def _jobs(sc) -> list[tuple[int, str | None, str | None]]:
    """(job id, job group, description) of every job in the app status
    store, read once the listener bus has drained."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    seq = sc._jsc.sc().statusStore().jobsList(None)  # noqa: SLF001

    def opt(o):
        return o.get() if o.isDefined() else None

    return [
        (j.jobId(), opt(j.jobGroup()), opt(j.description()))
        for j in (seq.apply(i) for i in range(seq.size()))
    ]


def _jobs_since(sc, after: int) -> list[tuple[str | None, str | None]]:
    """(job group, description) of every job with an id above ``after``."""
    return [(g, d) for j, g, d in _jobs(sc) if j > after]


def _last_job_id(sc) -> int:
    return max((j for j, _, _ in _jobs(sc)), default=-1)


@contextlib.contextmanager
def _job_group(sc, group: str):
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_canonicalize_job_budget(spark, tmp_path):
    """A pipeline's canonicalize stage over the 1,000-node fixture chain
    runs at most 4 Spark jobs: the edge collect of the driver's union-find
    and the two table writes (the checkpointed loop ran ~80, one per AQE
    query stage of each round). Jobs are counted in the test's own job
    group by the ``canonicalize:<table>`` descriptions the pipeline sets."""
    from anything2rdf_spark.plans.pipeline import Pipeline

    sc = spark.sparkContext
    after = _last_job_id(sc)
    with _job_group(sc, "budget"):
        Pipeline(spark, str(tmp_path / "wh"), n_buckets=4).run(
            transcripts=synth.transcripts(spark, n_convs=5, seed=7),
            dictionary=synth.entity_dictionary(spark),
            alias_edges=synth.alias_edges(spark, big_chain=1000),
            dictionary_surfaces=synth.ALL_MENTION_NAMES,
            force=True,
        )
    jobs = _jobs_since(sc, after)
    assert any(d.startswith("link:") for g, d in jobs if g == "budget")  # the tagging works
    canon = [d for g, d in jobs if g == "budget" and d.startswith("canonicalize:")]
    assert 0 < len(canon) <= 4, canon


def test_pipeline_jobs_keep_callers_group(spark, tmp_path):
    """Every job of a run stays in the job group its caller set, tagged
    with the ``<stage>:<table>`` it builds, and the run leaves the caller's
    own group and description as they were."""
    from anything2rdf_spark.plans.pipeline import Pipeline

    sc = spark.sparkContext
    inputs = {
        "transcripts": synth.transcripts(spark, n_convs=5, seed=7),
        "dictionary": synth.entity_dictionary(spark),
        "code_tables": synth.code_tables(spark),
        "alias_edges": synth.alias_edges(spark, big_chain=50),
        "dictionary_surfaces": synth.ALL_MENTION_NAMES,
    }
    after = _last_job_id(sc)
    with _job_group(sc, "caller"):
        Pipeline(spark, str(tmp_path / "wh"), n_buckets=4).run(**inputs, force=True)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller"
        assert sc.getLocalProperty("spark.job.description") == "caller"
    jobs = _jobs_since(sc, after)
    assert jobs and all(g == "caller" for g, _ in jobs), jobs
    assert {d for _, d in jobs} == {
        "normalize:transcripts_norm", "normalize:transcripts_quarantine",
        "extract:triples_candidate", "extract:mentions",
        "link:mentions_linked", "link:triples_mentions", "link:triples_dictionary",
        "link:entities_new",
        "canonicalize:canonical_map", "canonicalize:triples_sameas",
        "materialize:triples",
    }
