"""Stage 4: canonicalization (SURVEY §2.10 G1-G2, §2.6 J7, §2.7 A2).

The hard core: connected components over an alias-edges DataFrame, the
canonical id of a component being its min id — schoenberg's in-memory
union-find (schoenbergcsv2rdf.scala:105-168: pass-1 min-id map, path
compression, pass-2 substitution + owl:sameAs emission). One regime per
graph size, the rule the mention scan follows:

* **Driver regime** (≤ ``driver_max_edges`` edges, 5M by default — the
  pipeline's broadcast budget for the canonical map, which it would
  collect anyway). One job collects the edges as Arrow; a vectorized
  union-find solves them on the driver (``_min_id_components``: dictionary
  encoding, ids ranked in Spark's order, min-root hooking with
  ``np.minimum.at`` and full pointer jumping, O(log n) passes with no
  per-edge Python); the map returns as a local relation. Any id order
  converges: a shuffled 2,000-node chain is test-enforced.
* **Loop regime** (above the budget): min-label propagation with pointer
  jumping. Each round (1) every node takes the min component label among
  itself and its neighbors, then (2) jumps to its label's label (path
  compression), twice. All are equi-joins; the label distance shrinks
  ~3x per round when ids ascend along a chain, so a chain of length L
  converges in O(log L) rounds — but out-of-order ids can need far more
  rounds than ``max_iter`` (ROADMAP item 6). Every round ends in
  ``localCheckpoint`` to cut lineage (SURVEY §4.2 custom-work item 1); at
  cluster scale this would be an Iceberg temp-table checkpoint instead. A
  checkpoint keeps its source plan's size estimate, and a round's joins
  multiply their inputs' estimates, so each round's checkpoint is given the
  round-0 label table's estimate instead (see ``_with_estimate_of``).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import NS, OWL_SAMEAS
from .. import iri
from ..schemas import TRIPLE_COLS

# edge count up to which connected_components solves the graph on the
# driver; the pipeline's canonical-map broadcast budget has the same default
DRIVER_MAX_EDGES = 5_000_000


def _with_estimate_of(checkpointed: DataFrame, like: DataFrame) -> DataFrame:
    """``checkpointed`` (a ``localCheckpoint``) with ``like``'s size
    estimate in place of the one it inherited from its source plan.

    Every round's label table has one (node, comp) row per node, the shape
    of round 0's, so round 0's estimate is the right one for all rounds.
    Inherited instead, the estimate is the product of the round's join
    inputs and compounds across rounds, until planning a round takes longer
    than running it (a shuffled 16-node chain did not finish in 300 s).
    Only planner metadata changes: the copy is the same ``LogicalRDD`` leaf
    over the same materialized RDD — no job, no Python round trip."""
    lp = checkpointed._jdf.queryExecution().logical()
    session, _, constraints = (lp.otherCopyArgs().apply(i) for i in range(3))
    jvm = checkpointed.sparkSession._jvm
    stats = like._jdf.queryExecution().logical().stats()
    fresh = lp.copy(
        lp.output(), lp.rdd(), lp.outputPartitioning(), lp.outputOrdering(),
        lp.isStreaming(), lp.stream(), session, jvm.scala.Some(stats), constraints,
    )
    jdf = jvm.org.apache.spark.sql.classic.Dataset.ofRows(session, fresh)
    return DataFrame(jdf, checkpointed.sparkSession)


def _min_id_components(src: pa.Array, dst: pa.Array) -> pa.Table:
    """Vectorized union-find over the edge arrays ``src[i]``-``dst[i]``:
    one (node_id, canonical_id) row per distinct id, canonical = the min id
    of its component, rows clustered by canonical_id.

    Ids are ranked by their sorted dictionary (Arrow sorts strings by
    their bytes, Spark's ``min``/``least`` order). Each pass hooks the
    larger root of every edge that still spans two trees onto the smaller
    one (``np.minimum.at`` keeps the smallest candidate), then pointer-jumps
    until every node points at its root. Parents only ever point at smaller
    ranks, so no cycle forms and a root is its component's min. A tree with
    an edge out either hooks, absorbs another, or hooks on the next pass, so
    the number of such trees halves at least every two passes. A NULL id
    joins no edge and maps to NULL, as the loop regime has it."""
    m = len(src)
    enc = pc.dictionary_encode(pa.concat_arrays([src, dst]))
    ids = enc.dictionary  # distinct non-null ids
    order = pc.sort_indices(ids).to_numpy()
    ids = ids.take(order)
    rank = np.empty(len(ids), np.int64)
    rank[order] = np.arange(len(ids))
    codes = pc.fill_null(enc.indices, -1).to_numpy()
    u, v = codes[:m], codes[m:]
    keep = (u >= 0) & (v >= 0) & (u != v)
    u, v = rank[u[keep]], rank[v[keep]]
    parent = np.arange(len(ids))
    while True:
        ru, rv = parent[u], parent[v]
        spans = ru != rv
        if not spans.any():
            break
        u, v, ru, rv = u[spans], v[spans], ru[spans], rv[spans]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    rows = np.argsort(parent, kind="stable")
    node, canon = ids.take(rows), ids.take(parent[rows])
    if (codes < 0).any():
        none = pa.nulls(1, ids.type)
        node, canon = pa.concat_arrays([node, none]), pa.concat_arrays([canon, none])
    return pa.table({"node_id": node, "canonical_id": canon})


def connected_components(
    edges: DataFrame,
    src: str = "src_id",
    dst: str = "dst_id",
    max_iter: int = 50,
    driver_max_edges: int = DRIVER_MAX_EDGES,
) -> DataFrame:
    """Edges → canonical map (node_id, canonical_id) with canonical = min id
    of the component (min-id semantics, schoenbergcsv2rdf.scala:135).

    Isolated nodes (self-loops) map to themselves. Deterministic under any
    partitioning. A graph of at most ``driver_max_edges`` edges is solved on
    the driver: one job collects it, and the map is a local relation, one
    partition per ``driver_max_edges`` rows, clustered by canonical_id.
    Above that the edges are read again by the checkpointed loop, which
    raises if not converged within ``max_iter`` rounds (a 10^12-scale run
    would page instead). The size probe keeps each input partition's first
    ``driver_max_edges + 1`` rows, so above the budget it costs about one
    extra pass over the edges."""
    # both endpoints in the one type the loop's union of them has
    node_type = (
        edges.select(F.col(src).alias("n"))
        .unionByName(edges.select(F.col(dst).alias("n")))
        .schema["n"]
        .dataType
    )
    probe = edges.select(
        F.col(src).cast(node_type).alias("a"), F.col(dst).cast(node_type).alias("b")
    ).limit(driver_max_edges + 1).toArrow()
    if probe.num_rows > driver_max_edges:
        return _components_loop(edges, src, dst, max_iter)
    cm = _min_id_components(probe["a"].combine_chunks(), probe["b"].combine_chunks())
    schema = T.StructType(
        [T.StructField("node_id", node_type), T.StructField("canonical_id", node_type)]
    )
    parts = max(1, -(-cm.num_rows // max(driver_max_edges, 1)))
    return edges.sparkSession.createDataFrame(cm, schema).coalesce(parts)


def _components_loop(edges: DataFrame, src: str, dst: str, max_iter: int) -> DataFrame:
    """The loop regime of ``connected_components``: checkpointed min-label
    propagation with pointer jumping over iterative joins."""
    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    und = und.localCheckpoint()
    parent = parent0 = nodes.select("node", F.col("node").alias("comp")).localCheckpoint()

    from pyspark.sql import Observation

    for _ in range(max_iter):
        # (1) neighbor-min: min component label among self and neighbors.
        # The pre-update label rides along as _old so the convergence check
        # needs NO extra join or job.
        nbr = (
            und.join(parent.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("comp").alias("nbr_comp"))
        )
        p1 = parent.join(nbr, "node", "left").select(
            "node",
            F.col("comp").alias("_old"),
            F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp"),
        )
        # (2) pointer jump: comp := comp(comp)
        lut = p1.select(F.col("node").alias("comp"), F.col("comp").alias("comp2"))
        p2 = p1.join(lut, "comp", "left").select(
            "node",
            "_old",
            F.least("comp", F.coalesce("comp2", "comp")).alias("comp"),
        )
        # (3) second jump per round (round-6): label distance shrinks ~3x
        # per round instead of ~2x, so a chain of length L converges in
        # ~log3(L) rounds — fewer checkpoint barriers for one extra tiny
        # equi-join per round (total join count is a wash: 3·log3 ≈ 2·log2;
        # measured 12 -> 7 rounds and identical output on the bench graph).
        lut2 = p2.select(F.col("node").alias("comp"), F.col("comp").alias("comp3"))
        p2 = p2.join(lut2, "comp", "left").select(
            "node",
            "_old",
            F.least("comp", F.coalesce("comp3", "comp")).alias("comp"),
        )
        # the changed-count observes the SAME job that materializes the
        # checkpoint — one action per round, not two (per-round jobs are
        # the wall-clock driver of the O(log L) loop at any scale)
        obs = Observation()
        p2o = p2.observe(obs, F.count_if(F.col("comp") != F.col("_old")).alias("chg"))
        parent = _with_estimate_of(p2o.select("node", "comp").localCheckpoint(), parent0)
        if obs.get["chg"] == 0:
            return parent.select(F.col("node").alias("node_id"), F.col("comp").alias("canonical_id"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")


def sameas_triples(canonical_map: DataFrame, ns: str = NS) -> DataFrame:
    """owl:sameAs canonical→original for every non-root member
    (schoenbergcsv2rdf.scala:168 emits from the canonical id)."""
    return (
        canonical_map.filter(F.col("node_id") != F.col("canonical_id"))
        .select(
            iri.mint("entity", "canonical_id", ns=ns).alias("subj"),
            F.lit(OWL_SAMEAS).alias("pred"),
            iri.mint("entity", "node_id", ns=ns).alias("obj_iri"),
            F.lit(None).cast("string").alias("obj_lit"),
            F.lit(None).cast("string").alias("obj_lang"),
            F.lit(None).cast("string").alias("obj_dtype"),
            F.lit(None).cast("string").alias("conv_id"),
            F.lit(None).cast("int").alias("turn_idx"),
        )
        .select(*TRIPLE_COLS)
    )


def rewrite_triples(triples: DataFrame, mapping: DataFrame, broadcast_map: bool = True) -> DataFrame:
    """G2: post-hoc triple rewrite — substitute canonical IRIs everywhere a
    mapped IRI appears as subject or object (PNR2RDF.scala:213-226
    ``replaceMap`` semantics: two passes, subject then object, via two left
    joins + coalesce)."""
    m = mapping.select(F.col("from_iri"), F.col("to_iri"))
    if broadcast_map:
        m = F.broadcast(m)
    out = (
        triples.join(m.withColumnRenamed("from_iri", "subj").withColumnRenamed("to_iri", "_s2"), "subj", "left")
        .withColumn("subj", F.coalesce("_s2", "subj"))
        .drop("_s2")
    )
    out = (
        out.join(m.withColumnRenamed("from_iri", "obj_iri").withColumnRenamed("to_iri", "_o2"), "obj_iri", "left")
        .withColumn("obj_iri", F.coalesce("_o2", "obj_iri"))
        .drop("_o2")
    )
    return out.select(*TRIPLE_COLS)


def canonical_rewrite_map(canonical_map: DataFrame, ns: str = NS) -> DataFrame:
    """canonical map → IRI rewrite map (from_iri, to_iri) for G2."""
    return canonical_map.filter(F.col("node_id") != F.col("canonical_id")).select(
        iri.mint("entity", "node_id", ns=ns).alias("from_iri"),
        iri.mint("entity", "canonical_id", ns=ns).alias("to_iri"),
    )


def degree_constrained_merge(
    edges: DataFrame,
    left_key: str,
    right_key: str,
    left_name: str | None = None,
    right_name: str | None = None,
    partnership_col: str | None = None,
) -> DataFrame:
    """J7: FBTEE's 1:1 client↔person merge decision
    (FBTEETSV2RDF.scala:395-431): merge left into right IFF both degrees are
    exactly 1 AND (names equal when given) AND NOT partnership. Returns the
    edge rows with a boolean ``merge`` column — canonicalization decided via
    two group-degree aggregations (A1) + joins, no row-at-a-time logic."""
    # degree = DISTINCT partner count: the same edge row appearing twice
    # must not make a genuinely 1:1 pair look 1:2 and block its merge
    ldeg = edges.groupBy(left_key).agg(F.countDistinct(right_key).alias("_ldeg"))
    rdeg = edges.groupBy(right_key).agg(F.countDistinct(left_key).alias("_rdeg"))
    out = edges.join(ldeg, left_key).join(rdeg, right_key)
    cond = (F.col("_ldeg") == 1) & (F.col("_rdeg") == 1)
    if left_name and right_name:
        # null-safe: a null name means "names do not match", never a null
        # merge flag (a null would leak through ~merge filters downstream)
        cond = cond & F.coalesce(F.col(left_name) == F.col(right_name), F.lit(False))
    if partnership_col:
        cond = cond & (~F.coalesce(F.col(partnership_col), F.lit(False)))
    return out.withColumn("merge", cond).drop("_ldeg", "_rdeg")


def min_dup_map(edges: DataFrame, src: str = "src_id", dst: str = "dst_id") -> DataFrame:
    """A2: per-id minimum duplicate id (schoenbergcsv2rdf.scala:135 pass-1
    map before compression)."""
    return edges.groupBy(src).agg(F.min(dst).alias("min_dup"))
