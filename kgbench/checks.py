"""Output checks. Each returns a list of failure messages (empty = correct).

The expected values are computed here in plain Python from the generated
inputs: the per-turn triples by the package's reference converter
(``oracle.reference_converter``), the entity links by a dictionary lookup,
and the ``owl:sameAs`` count by a union-find over the alias edges.
"""

from __future__ import annotations

import os
import random
import re
import unicodedata

import pyarrow.compute as pc
import pyarrow.dataset as ds
from pyspark.sql import functions as F

from anything2rdf_spark import OWL_SAMEAS
from anything2rdf_spark.operators.extract import P_MENTIONS, P_NEXT_TURN
from anything2rdf_spark.oracle import reference_converter as REF

SAMPLE_CONVS = 24


def components(edges) -> dict[str, str]:
    """Union-find over ``(src, dst)`` pairs: node -> min node id of its
    component (the canonical id ``connected_components`` assigns)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def expected_sameas(edges) -> int:
    """Nodes minus components: one ``owl:sameAs`` per non-canonical node."""
    comp = components(edges)
    return len(comp) - len(set(comp.values()))


def _norm(s: str) -> str:
    """Python mirror of ``functions.text.norm_surface``."""
    s = unicodedata.normalize("NFC", s)
    s = re.sub(r"^[\W_]*(.*?)[\W_]*$", r"\1", s, flags=re.S)
    return re.sub(r"\s+", " ", s).strip().lower()


def _entity_lookup(dictionary_rows) -> dict[str, str]:
    """norm surface -> entity id, pref label before alt label, then min id
    (the linker's first-match precedence)."""
    best: dict[str, tuple[bool, str]] = {}
    for entity_id, pref, alts, *_ in dictionary_rows:
        for label, is_alt in [(pref, False)] + [(a, True) for a in alts or []]:
            key = _norm(label)
            if key and (key not in best or (is_alt, entity_id) < best[key]):
                best[key] = (is_alt, entity_id)
    return {k: v[1] for k, v in best.items()}


def expected_turn_triples(rows, dictionary_rows, surfaces, edges) -> set[tuple]:
    """Expected final triples about the turns in ``rows`` (all turns of some
    conversations): the reference converter's per-turn triples, successor
    edges between consecutive admissible turns, and one ``mentions`` link
    per detected surface, resolved through the dictionary and rewritten to
    its component's canonical entity."""
    lookup = _entity_lookup(dictionary_rows)
    canon = components(edges)
    # a surface can only match where each of its words is a whole word of
    # the text, so the others are left out of the (slow, one alternative
    # at a time) reference pattern without changing what it finds
    words = {w for r in rows if r[3] for w in re.findall(r"\w+", r[3].lower())}
    kept = [s for s in surfaces if all(w in words for w in re.findall(r"\w+", s.lower()))]
    pattern = REF.mention_pattern(kept) if kept else None
    out: set[tuple] = set()
    by_conv: dict[str, list] = {}
    for conv_id, turn_idx, role, text, tool, ts in rows:
        out |= REF.convert_turn(conv_id, turn_idx, role, text, tool, ts)
        if role is None or text is None:
            continue
        by_conv.setdefault(conv_id, []).append(turn_idx)
        t = REF.mint("turn", conv_id, turn_idx)
        for m in set(pattern.findall(text)) if pattern else ():
            key = _norm(m)
            entity_id = lookup.get(key)
            if entity_id is None:
                obj = REF.mint("entity-new", key)
            else:
                obj = REF.mint("entity", canon.get(entity_id, entity_id))
            out.add((t, P_MENTIONS, obj, None, None, None))
    for conv_id, idx in by_conv.items():
        idx.sort()
        for a, b in zip(idx, idx[1:]):
            out.add((REF.mint("turn", conv_id, a), P_NEXT_TURN, REF.mint("turn", conv_id, b), None, None, None))
    return out


def check_turn_sample(spark, triples, inputs, seed: int) -> list[str]:
    """Precision and recall 1.0 of the final triples about a seeded sample of
    conversations, plus the hot conversation, against
    ``expected_turn_triples``."""
    # read with pyarrow, not Spark: timestamps stay UTC whatever the local zone
    transcripts = ds.dataset(inputs.transcripts, format="parquet")
    convs = sorted(
        c for c in pc.unique(transcripts.to_table(columns=["conv_id"])["conv_id"]).to_pylist()
        if c != inputs.hot_conv
    )
    sample = random.Random(seed).sample(convs, min(SAMPLE_CONVS, len(convs)))
    sample += [inputs.hot_conv] if inputs.hot_conv else []
    rows = [
        (r["conv_id"], r["turn_idx"], r["role"], r["text"], r["tool"], r["ts"])
        for r in transcripts.to_table(filter=pc.field("conv_id").isin(sample)).to_pylist()
    ]
    expected = expected_turn_triples(rows, inputs.dictionary_rows(), inputs.surfaces, inputs.edges)
    subjects = spark.createDataFrame([(s,) for s in {t[0] for t in expected}], "subj string")
    got = {
        tuple(r)
        for r in triples.join(F.broadcast(subjects), "subj")
        .select("subj", "pred", "obj_iri", "obj_lit", "obj_lang", "obj_dtype")
        .collect()
    }
    p, r = REF.precision_recall(got, expected)
    if p == 1.0 and r == 1.0:
        return []
    return [
        f"turn sample: precision {p:.4f} recall {r:.4f}; "
        f"missing {list(expected - got)[:3]}; extra {list(got - expected)[:3]}"
    ]


def check_sameas(triples, inputs) -> list[str]:
    got = triples.filter(F.col("pred") == OWL_SAMEAS).count()
    want = expected_sameas(inputs.edges)
    return [] if got == want else [f"owl:sameAs count {got} != nodes - components {want}"]


def text_lines(path: str) -> tuple[int, int]:
    """(line count, bytes) of the part files of a text-sink output dir."""
    lines = size = 0
    for name in os.listdir(path):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(path, name), "rb") as f:
            data = f.read()
        lines += data.count(b"\n")
        size += len(data)
    return lines, size


def check_nt(nt_lines: int, n_triples: int) -> list[str]:
    return [] if nt_lines == n_triples else [f"N-Triples lines {nt_lines} != triples rows {n_triples}"]

