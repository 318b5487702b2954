"""Union-find / canonicalization tests (FIXTURES.md §3 corpus: chain,
diamond, self-loop, 2-cycle, 1000-node component, isolated nodes) against a
pure-Python union-find oracle."""

from pyspark.sql import functions as F

from anything2rdf_spark import NS, OWL_SAMEAS
from anything2rdf_spark.operators import canonicalize as CN
from anything2rdf_spark.sources import synth


def py_union_find(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    return {x: find(x) for x in parent}


def test_connected_components_fixture(spark):
    edges = synth.alias_edges(spark, big_chain=1000)
    got = {r["node_id"]: r["canonical_id"] for r in CN.connected_components(edges).collect()}
    expected = py_union_find([(r["src_id"], r["dst_id"]) for r in edges.collect()])
    assert got == expected
    # spot semantics: chain compresses to min, self-loops map to self
    assert got["d"] == "a" and got["t2"] == "t1" and got["iso1"] == "iso1"
    assert got["n000999"] == "n000000"


def test_connected_components_iteration_bound(spark):
    # the loop regime (driver_max_edges=0) must converge on a 1000-node
    # chain in O(log n) rounds, not O(n)
    edges = synth.alias_edges(spark, big_chain=1000)
    try:
        CN.connected_components(edges, max_iter=16, driver_max_edges=0)
    except RuntimeError as e:  # pragma: no cover
        raise AssertionError("pointer jumping failed to converge in 16 rounds") from e


def test_sameas_triples(spark):
    edges = spark.createDataFrame([("b", "a"), ("c", "b")], "src_id string, dst_id string")
    cm = CN.connected_components(edges)
    t = CN.sameas_triples(cm)
    rows = {(r["subj"], r["pred"], r["obj_iri"]) for r in t.collect()}
    assert rows == {
        (NS + "entity_a", OWL_SAMEAS, NS + "entity_b"),
        (NS + "entity_a", OWL_SAMEAS, NS + "entity_c"),
    }


def test_rewrite_triples(spark):
    triples = spark.createDataFrame(
        [
            ("ns/e_b", "p", "ns/e_c", None, None, None, None, None),
            ("ns/x", "p", None, "lit", None, None, None, None),
        ],
        "subj string, pred string, obj_iri string, obj_lit string, obj_lang string, obj_dtype string, conv_id string, turn_idx int",
    )
    mapping = spark.createDataFrame(
        [("ns/e_b", "ns/e_a"), ("ns/e_c", "ns/e_a")], "from_iri string, to_iri string"
    )
    out = CN.rewrite_triples(triples, mapping)
    rows = {(r["subj"], r["obj_iri"], r["obj_lit"]) for r in out.collect()}
    assert rows == {("ns/e_a", "ns/e_a", None), ("ns/x", None, "lit")}


def test_degree_constrained_merge(spark):
    # FBTEE semantics: merge iff both degree 1, names equal, not partnership
    edges = spark.createDataFrame(
        [
            ("c1", "p1", "Smith", "Smith", False),   # 1:1, names match → merge
            ("c2", "p2", "Jones", "Other", False),   # names differ → keep
            ("c3", "p3", "Brown", "Brown", True),    # partnership → keep
            ("c4", "p4", "Gray", "Gray", False),     # c4 has degree 2 → keep
            ("c4", "p5", "Gray", "Gray", False),
        ],
        "client string, person string, cname string, pname string, partnership boolean",
    )
    out = CN.degree_constrained_merge(
        edges, "client", "person", "cname", "pname", "partnership"
    )
    got = {(r["client"], r["person"]): r["merge"] for r in out.collect()}
    assert got[("c1", "p1")] is True
    assert got[("c2", "p2")] is False
    assert got[("c3", "p3")] is False
    assert got[("c4", "p4")] is False and got[("c4", "p5")] is False


def test_min_dup_map(spark):
    edges = spark.createDataFrame(
        [("m3", "m1"), ("m3", "m2"), ("m5", "m4")], "src_id string, dst_id string"
    )
    got = {r["src_id"]: r["min_dup"] for r in CN.min_dup_map(edges).collect()}
    assert got == {"m3": "m1", "m5": "m4"}


def test_components_partitioning_invariant(spark):
    edges = synth.alias_edges(spark, big_chain=200).repartition(16)
    a = {
        (r["node_id"], r["canonical_id"])
        for r in CN.connected_components(edges, driver_max_edges=0).collect()
    }
    b = {
        (r["node_id"], r["canonical_id"])
        for r in CN.connected_components(edges.coalesce(1), driver_max_edges=0).collect()
    }
    assert a == b


def test_degree_merge_duplicate_edges_and_null_names(spark):
    """Duplicate edge rows must not inflate degrees past 1 (a true 1:1 pair
    still merges), and a null name yields merge=False, never NULL."""
    edges = spark.createDataFrame(
        [("c1", "p1", "ann", "ann"),
         ("c1", "p1", "ann", "ann"),      # duplicate row
         ("c2", "p2", "bob", None)],      # null right name
        "client string, person string, lname string, rname string",
    )
    out = {(r["client"], r["person"]): r["merge"]
           for r in CN.degree_constrained_merge(
               edges, "client", "person", "lname", "rname").collect()}
    assert out[("c1", "p1")] is True
    assert out[("c2", "p2")] is False  # False, not None


def test_connected_components_shuffled_chain(spark):
    """In the loop regime a chain whose ids are out of order needs several
    rounds; every round's checkpoint must start from a fresh size estimate.
    Inherited, the estimate compounded across rounds and planning a 10-node
    chain's third round did not finish in 300 s."""
    import random
    import time

    ids = [f"n{i:02d}" for i in range(16)]
    random.Random(7).shuffle(ids)
    pairs = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    edges = spark.createDataFrame(pairs, "src_id string, dst_id string")
    t0 = time.time()
    got = {
        r["node_id"]: r["canonical_id"]
        for r in CN.connected_components(edges, driver_max_edges=0).collect()
    }
    assert time.time() - t0 < 120
    assert got == py_union_find(pairs)


def test_connected_components_shuffled_2000_chain(spark):
    """A 2,000-node chain with shuffled ids, through the default call (the
    driver regime): the loop regime raises "did not converge in 50
    iterations" on it; the vectorized union-find needs O(log n) passes
    whatever the id order."""
    import random
    import time

    ids = [f"n{i:04d}" for i in range(2000)]
    random.Random(7).shuffle(ids)
    pairs = [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
    edges = spark.createDataFrame(pairs, "src_id string, dst_id string")
    t0 = time.time()
    got = {
        r["node_id"]: r["canonical_id"] for r in CN.connected_components(edges).collect()
    }
    assert time.time() - t0 < 60
    assert got == py_union_find(pairs)


def test_connected_components_kernel_equals_loop(spark):
    """The driver regime emits exactly the loop regime's rows (forced with
    ``driver_max_edges=0``) on the FIXTURES §3 corpus plus reversed
    duplicates, self-loops, 2-cycles, isolated nodes, NULL ids (no edge;
    the loop keeps one (NULL, NULL) row) and ids whose min depends on
    binary order: "Z" < "a" and "z" < "é" in UTF-8 bytes."""
    extra = spark.createDataFrame(
        [
            ("p", "q"), ("q", "p"), ("p", "q"),   # reversed duplicates
            ("s2", "s2"), ("s2", "u2"),           # self-loop on a member
            ("c1", "c2"), ("c2", "c1"),           # 2-cycle
            ("iso3", "iso3"),                     # isolated
            ("k", None), (None, None), (None, "m"),
            ("a", "Z"), ("é", "z"), ("Zz", "zZ"),
        ],
        "src_id string, dst_id string",
    )
    edges = synth.alias_edges(spark, big_chain=1000).unionByName(extra)
    kernel = CN.connected_components(edges)
    loop = CN.connected_components(edges, driver_max_edges=0)
    assert [f.dataType for f in kernel.schema] == [f.dataType for f in loop.schema]
    got = sorted(map(tuple, kernel.collect()), key=repr)
    assert got == sorted(map(tuple, loop.collect()), key=repr)
    cm = dict(got)
    assert cm["a"] == "Z" and cm["é"] == "z" and cm["zZ"] == "Zz"
    assert cm["k"] == "k" and cm["m"] == "m" and cm[None] is None
    assert cm["q"] == "p" and cm["u2"] == "s2" and cm["n000999"] == "n000000"
    assert sum(1 for n, _ in got if n is None) == 1


def test_connected_components_kernel_integer_ids(spark):
    """Integer ids rank numerically (as ``min`` does), not as strings, and
    keep their type."""
    edges = spark.createDataFrame([(10, 9), (9, 100), (2, 11)], "a long, b long")
    cm = CN.connected_components(edges, src="a", dst="b")
    assert [f.dataType.simpleString() for f in cm.schema] == ["bigint", "bigint"]
    assert dict(map(tuple, cm.collect())) == {9: 9, 10: 9, 100: 9, 2: 2, 11: 2}

