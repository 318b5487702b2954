"""Stage 2: per-turn triple extraction (SURVEY §2.5, §3.1).

The Spark re-expression of the OBC transcript converter
(OBCXML2RDF.scala:169-215): admission filter → entity minting → typed/tagged
literal emission → code-table links → mention detection — emitted as ONE
narrow ``select`` + ``explode`` over the transcripts scan (no shuffle until
the stage-final ``dropDuplicates``, which realizes the Jena model's set
semantics, Anything2RDF.scala:126-144 / SURVEY A6).

Rule model: each emission rule is a nullable struct inside one array column;
``explode`` + null-filter turns a turn-row into 5-10 triple rows. All guards
are native ``when`` expressions (ANE semantics, Anything2RDF.scala:101-107).
Mention detection is one native JVM regex scan at every dictionary size
(functions.text.mention_matches): no Python worker on this stage.
"""

from __future__ import annotations

from functools import reduce
from operator import and_, or_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import (
    NS,
    RDF_TYPE,
    SCHEMA_NS,
    SKOS_PREF_LABEL,
    XSD_DATETIME,
    XSD_INTEGER,
)
from .. import iri
from ..functions import text as TX
from ..schemas import TRIPLE_COLS

# Engine ontology (the analog of the reference's per-converter EC/EOP/EDP
# declarations, Anything2RDF.scala:109-123).
C_TURN = SCHEMA_NS + "Turn"
C_CONVERSATION = SCHEMA_NS + "Conversation"
C_SPEAKER = SCHEMA_NS + "Speaker"
C_ROLE = SCHEMA_NS + "Role"
C_TOOL = SCHEMA_NS + "Tool"
P_PART_OF = SCHEMA_NS + "partOfConversation"
P_TURN_INDEX = SCHEMA_NS + "turnIndex"
P_FULLTEXT = SCHEMA_NS + "fulltext"
P_WORDCOUNT = SCHEMA_NS + "wordCount"
P_HAS_SPEAKER = SCHEMA_NS + "hasSpeaker"
P_ROLE = SCHEMA_NS + "hasRole"
P_USED_TOOL = SCHEMA_NS + "usedTool"
P_AT_TIME = SCHEMA_NS + "atTime"
P_MENTIONS_SURFACE = SCHEMA_NS + "mentionsSurface"
P_MENTIONS = SCHEMA_NS + "mentions"
P_NEXT_TURN = SCHEMA_NS + "nextTurn"


def _null_struct():
    return F.lit(None).cast(
        "struct<subj:string,pred:string,obj_iri:string,obj_lit:string,obj_lang:string,obj_dtype:string>"
    )


def _t(subj, pred: str, obj_iri=None, obj_lit=None, lang=None, dtype=None, guard=None):
    """One emission rule → nullable triple struct."""
    null_s = F.lit(None).cast("string")
    s = F.struct(
        subj.alias("subj"),
        F.lit(pred).alias("pred"),
        (obj_iri if obj_iri is not None else null_s).alias("obj_iri"),
        (obj_lit.cast("string") if obj_lit is not None else null_s).alias("obj_lit"),
        (
            F.lit(lang)
            if isinstance(lang, str)
            else (lang if lang is not None else null_s)
        ).alias("obj_lang"),
        (F.lit(dtype) if dtype is not None else null_s).alias("obj_dtype"),
    )
    if guard is not None:
        return F.when(guard, s).otherwise(_null_struct())
    return s


# the columns an admissible turn must have: its key, a role and a text
ADMISSION_COLS = ("conv_id", "turn_idx", "role", "text")


def admissible(df: DataFrame) -> DataFrame:
    """Row admission predicate (P3) — the analog of skipping speeches without
    speaker-id/year (OBCXML2RDF.scala:179): every ``ADMISSION_COLS`` value
    is non-NULL. Inadmissible rows go to the quarantine table, not to
    /dev/null."""
    return df.filter(reduce(and_, [F.col(c).isNotNull() for c in ADMISSION_COLS]))


def quarantined(df: DataFrame) -> DataFrame:
    """The exact complement of ``admissible``: every input row is in one
    of the two."""
    return df.filter(reduce(or_, [F.col(c).isNull() for c in ADMISSION_COLS]))


def extract_triples(transcripts: DataFrame, ns: str = NS, dictionary_surfaces=None) -> DataFrame:
    """Transcripts → candidate triples (pre-linking).

    Emits per admissible turn (OBC semantics, OBCXML2RDF.scala:179-213):
    rdf:type, partOfConversation, turnIndex (xsd:integer), fulltext (ANE
    guard: only non-blank, Anything2RDF.scala:101-103), wordCount
    (separator-count semantics, OBCXML2RDF.scala:210), hasSpeaker +
    speaker rdf:type + hasRole code link, usedTool (ANE guard on nullable
    tool), atTime (xsd:dateTime), conversation rdf:type, and — when a
    dictionary is supplied — mentionsSurface triples from the native
    mention scan (andcsv2rdf.scala:43-47 analog).
    """
    # Hoist every subexpression the rules share into ONE projection below
    # the explode (round-6 optimization; guide §1.2 per-task work).
    # GenerateExec does no common-subexpression elimination, so the previous
    # form — IRI columns referenced directly inside the rule array —
    # re-evaluated url_encode(conv_id) ~12x and the full turn-IRI concat ~8x
    # per input row inside the generator expression. Hoisted columns are
    # computed once per row; the rule structs just reference them (Catalyst
    # has no rule that inlines a Project into a Generate's generator, and
    # tests/test_plans.py pins the stage shape). Values are unchanged:
    # the hoisted expressions are the same expressions.
    t = F.col("_t")
    c = F.col("_c")
    sp = F.col("_sp")
    nonblank = F.col("_nb")
    role_iri = F.col("_role")
    tool_iri = F.col("_tool")
    tool_ok = F.col("_tool_ok")

    rules = [
        _t(t, RDF_TYPE, obj_iri=F.lit(C_TURN)),
        _t(t, P_PART_OF, obj_iri=c),
        _t(t, P_TURN_INDEX, obj_lit=F.col("_ti"), dtype=XSD_INTEGER),
        _t(t, P_FULLTEXT, obj_lit=F.col("text"), guard=nonblank),
        _t(t, P_WORDCOUNT, obj_lit=F.col("_wc"), dtype=XSD_INTEGER, guard=nonblank),
        _t(t, P_HAS_SPEAKER, obj_iri=sp),
        _t(sp, RDF_TYPE, obj_iri=F.lit(C_SPEAKER)),
        _t(sp, P_ROLE, obj_iri=role_iri),
        _t(role_iri, RDF_TYPE, obj_iri=F.lit(C_ROLE)),
        _t(t, P_USED_TOOL, obj_iri=tool_iri, guard=tool_ok),
        # minted tool entities get typed like every other minted entity
        # (Turn/Conversation/Speaker/Role all do) — same ANE guard
        _t(tool_iri, RDF_TYPE, obj_iri=F.lit(C_TOOL), guard=tool_ok),
        _t(
            t,
            P_AT_TIME,
            obj_lit=F.col("_ts_lit"),
            dtype=XSD_DATETIME,
            guard=F.col("_ts_ok"),
        ),
        _t(c, RDF_TYPE, obj_iri=F.lit(C_CONVERSATION)),
    ]

    adm = admissible(transcripts)
    pre = adm.select(
        "conv_id",
        "turn_idx",
        "text",
        iri.turn_iri(ns=ns).alias("_t"),
        iri.conv_iri(ns=ns).alias("_c"),
        iri.speaker_iri(ns=ns).alias("_sp"),
        iri.mint("role", "role", ns=ns).alias("_role"),
        # mint of a NULL tool is NULL (concat null-propagates) — the _tool_ok
        # guard decides emission exactly as before
        iri.mint("tool", "tool", ns=ns).alias("_tool"),
        (F.trim(F.col("text")) != "").alias("_nb"),
        (F.col("tool").isNotNull() & (F.trim(F.col("tool")) != "")).alias("_tool_ok"),
        F.col("turn_idx").cast("string").alias("_ti"),
        TX.wordcount("text").cast("string").alias("_wc"),
        # rendered from the true UTC instant, NOT the session timezone:
        # date_format alone formats in spark.sql.session.timeZone, so
        # identical data would emit different (zone-suffix-free)
        # xsd:dateTime literals across deployments — the same hazard
        # windows._epoch_seconds guards against. Under a UTC session
        # (all tests/oracles) this is a no-op. date_format(NULL) is NULL.
        F.date_format(
            F.to_utc_timestamp(F.col("ts"), F.expr("current_timezone()")),
            "yyyy-MM-dd'T'HH:mm:ss",
        ).alias("_ts_lit"),
        F.col("ts").isNotNull().alias("_ts_ok"),
    )
    base = (
        pre.select(
            "conv_id",
            "turn_idx",
            F.explode(F.array(*rules)).alias("r"),
        )
        .filter(F.col("r").isNotNull())
        .select("r.*", "conv_id", "turn_idx")
        .select(*TRIPLE_COLS)
    )

    # an empty surface list skips the scan
    if dictionary_surfaces:
        mention_triples = (
            adm.select(
                "conv_id",
                "turn_idx",
                F.explode(TX.mention_matches(F.col("text"), dictionary_surfaces)).alias("surface"),
            )
            .select(
                iri.turn_iri(ns=ns).alias("subj"),
                F.lit(P_MENTIONS_SURFACE).alias("pred"),
                F.lit(None).cast("string").alias("obj_iri"),
                F.col("surface").alias("obj_lit"),
                F.lit(None).cast("string").alias("obj_lang"),
                F.lit(None).cast("string").alias("obj_dtype"),
                "conv_id",
                "turn_idx",
            )
        )
        base = base.unionByName(mention_triples)
    return base


def extract_mentions(transcripts: DataFrame, dictionary_surfaces) -> DataFrame:
    """Transcripts → mention rows (conv_id, turn_idx, surface, norm_surface)
    for the linking stage — the turn-level extractor extension point
    (SURVEY §2.12). ``dictionary_surfaces``: list[str]
    (see functions.text.mention_matches).

    norm_surface is computed on each mention row by the same native
    :func:`~anything2rdf_spark.functions.text.norm_surface` expression that
    normalizes the dictionary labels in linking, so the two sides agree by
    construction. At any dictionary size the whole relation is one narrow
    projection over the scan: no Python worker, no join."""
    return admissible(transcripts).select(
        "conv_id",
        "turn_idx",
        F.explode(TX.mention_matches(F.col("text"), dictionary_surfaces)).alias("surface"),
    ).select("conv_id", "turn_idx", "surface", TX.norm_surface("surface").alias("norm_surface"))


_TOKEN_SEP = r"[^\p{L}\p{N}_]+"  # \W+ with unicode letters/digits


def _word_tokens(col):
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), _TOKEN_SEP), lambda t: t != "")


def extract_mentions_join(
    transcripts: DataFrame, surfaces: DataFrame, surface_col: str = "surface"
) -> DataFrame:
    """Join-based mention extraction — the engine for dictionaries too large
    to collect (10⁷+ surface forms), where the scan's driver-collected
    list and driver-built regex stop being viable.
    NOTHING is ever materialized on the driver: the dictionary stays a
    DataFrame end to end.

    Plan (token → surface-first-token index join → span verify → greedy
    leftmost-longest fold, all native exprs):

    1. tokenize each turn into word tokens (unicode ``\\W+`` split, the
       token-level analog of the scan's ``\\b`` boundaries);
    2. join each (turn, token position) against the surface index keyed on
       the surface's FIRST token — the one shuffle; a big dictionary is just
       a bigger join side, planned by AQE (skew-join absorbs a hot first
       token);
    3. verify the full span: the next n_tok turn tokens must equal the
       surface's token sequence;
    4. per turn, fold the verified candidate spans left-to-right with a
       native ``aggregate``: sort by (position, longest-first), keep a span
       when it starts at/after the cursor — exactly the scan's
       leftmost-longest non-overlapping selection, in token space.

    Semantics vs the scan: matching is on token sequences, so it is
    punctuation/whitespace-run insensitive ("New  York" matches surface
    "New York"). On texts and surfaces with single-space word separation the
    output equals ``extract_mentions`` (test-enforced, including overlap
    cases). Output: (conv_id, turn_idx, surface, norm_surface).
    """
    surf = (
        surfaces.select(F.col(surface_col).alias("_surface"))
        .filter(F.col("_surface").isNotNull())
        .select("_surface", _word_tokens("_surface").alias("_stoks"))
        .filter(F.size("_stoks") > 0)
        .select(
            "_surface",
            F.array_join("_stoks", " ").alias("_skey"),
            F.element_at("_stoks", 1).alias("_tok"),
            F.size("_stoks").alias("_ntok"),
        )
        # one winner per distinct token sequence (deterministic min surface:
        # the scan's canon-casing map, made order-independent)
        .groupBy("_skey", "_tok", "_ntok")
        .agg(F.min("_surface").alias("_surface"))
        # norm once per distinct surface (dictionary-sized relation) instead
        # of per selected mention: the dictionary side is orders of
        # magnitude smaller than the mention relation at scale, and the
        # value rides the candidate join and the selection fold
        .withColumn("_norm", TX.norm_surface("_surface"))
    )
    turns = admissible(transcripts).select(
        "conv_id", "turn_idx", _word_tokens("text").alias("_toks")
    )
    cand = (
        turns.select("conv_id", "turn_idx", "_toks", F.posexplode("_toks").alias("_p", "_tok"))
        .join(surf, "_tok")
        .filter(
            F.array_join(F.slice("_toks", F.col("_p") + 1, F.col("_ntok")), " ")
            == F.col("_skey")
        )
        .select("conv_id", "turn_idx", "_p", "_ntok", "_surface", "_norm")
    )
    picked = (
        cand.groupBy("conv_id", "turn_idx")
        .agg(
            # _norm is LAST in the sort struct: rows tying on (p, neglen, n,
            # s) are the same surface, hence the same norm — sort order (and
            # therefore the greedy selection) is unchanged from round 5
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("_p").alias("p"),
                        (-F.col("_ntok")).alias("neglen"),
                        F.col("_ntok").alias("n"),
                        F.col("_surface").alias("s"),
                        F.col("_norm").alias("norm"),
                    )
                )
            ).alias("_ms")
        )
        .select(
            "conv_id",
            "turn_idx",
            F.aggregate(
                "_ms",
                F.struct(
                    F.lit(0).alias("cur"),
                    F.array().cast("array<struct<s:string,norm:string>>").alias("acc"),
                ),
                lambda st, m: F.when(
                    m["p"] >= st["cur"],
                    F.struct(
                        (m["p"] + m["n"]).alias("cur"),
                        F.array_append(
                            st["acc"], F.struct(m["s"].alias("s"), m["norm"].alias("norm"))
                        ).alias("acc"),
                    ),
                ).otherwise(st),
            )["acc"].alias("_sel"),
        )
    )
    return picked.select(
        "conv_id", "turn_idx", F.explode("_sel").alias("m")
    ).select(
        "conv_id",
        "turn_idx",
        F.col("m.s").alias("surface"),
        F.col("m.norm").alias("norm_surface"),
    )


def code_table_triples(code_tables: DataFrame, ns: str = NS) -> DataFrame:
    """E3: code-table dimension → entity triples (rdf:type + skos:prefLabel
    per code; OBCXML2RDF.scala:36-136 code maps as data)."""
    code_iri = iri.mint("code", "table", "code", ns=ns)
    kls = F.concat(F.lit(SCHEMA_NS), iri.camel_case("table"))
    rules = [
        _t(code_iri, RDF_TYPE, obj_iri=kls),
        _t(code_iri, SKOS_PREF_LABEL, obj_lit=F.col("label"), lang=F.col("lang"), guard=F.trim("label") != ""),
    ]
    out = (
        code_tables.select(F.explode(F.array(*rules)).alias("r"))
        .filter(F.col("r").isNotNull())
        .select(
            "r.*",
            F.lit(None).cast("string").alias("conv_id"),
            F.lit(None).cast("int").alias("turn_idx"),
        )
    )
    # carry the label language tag (E5)
    return out.select(*TRIPLE_COLS)


def dedup_triples(df: DataFrame) -> DataFrame:
    """A6: Jena-model set semantics — a re-added statement is a no-op
    (Anything2RDF.scala:126-144). Provenance keeps the minimum
    (conv_id, turn_idx) so dedup output is deterministic."""
    return (
        df.groupBy("subj", "pred", "obj_iri", "obj_lit", "obj_lang", "obj_dtype")
        .agg(
            F.min(F.struct("conv_id", "turn_idx")).alias("_prov"),
        )
        .select(
            "subj", "pred", "obj_iri", "obj_lit", "obj_lang", "obj_dtype",
            F.col("_prov.conv_id").alias("conv_id"),
            F.col("_prov.turn_idx").alias("turn_idx"),
        )
    )
