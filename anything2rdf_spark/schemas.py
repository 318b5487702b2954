"""Canonical schemas for the engine.

The triple relation mirrors the reference's Jena statement model
(Anything2RDF.scala:18; node kinds at Anything2RDF.scala:101-123):
`obj_iri XOR obj_lit` discriminates resource objects from literal objects,
`obj_lang`/`obj_dtype` carry language-tagged (Anything2RDF.scala:105-107,119)
and XSD-typed (FBTEETSV2RDF.scala:346-348) literals. `conv_id`/`turn_idx`
carry provenance of the emitting turn (deterministic identity, SURVEY §1.4).
"""

from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

TRIPLE_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj_iri", T.StringType(), True),
        T.StructField("obj_lit", T.StringType(), True),
        T.StructField("obj_lang", T.StringType(), True),
        T.StructField("obj_dtype", T.StringType(), True),
        T.StructField("conv_id", T.StringType(), True),
        T.StructField("turn_idx", T.IntegerType(), True),
    ]
)

TRIPLE_COLS = [f.name for f in TRIPLE_SCHEMA.fields]
TRIPLE_KEY_COLS = ["subj", "pred", "obj_iri", "obj_lit", "obj_lang", "obj_dtype"]

ENTITY_DICT_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.StringType(), False),
        T.StructField("pref_label", T.StringType(), False),
        T.StructField("alt_labels", T.ArrayType(T.StringType()), True),
        T.StructField("kind", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

ALIAS_EDGES_SCHEMA = T.StructType(
    [
        T.StructField("src_id", T.StringType(), False),
        T.StructField("dst_id", T.StringType(), False),
    ]
)

CODE_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("table", T.StringType(), False),
        T.StructField("code", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("lang", T.StringType(), True),
    ]
)

RELATIONSHIPS_SCHEMA = T.StructType(
    [
        T.StructField("left_id", T.StringType(), False),
        T.StructField("rel_type", T.StringType(), False),
        T.StructField("right_id", T.StringType(), False),
        T.StructField("confidence", T.IntegerType(), True),
        T.StructField("start_year", T.StringType(), True),
        T.StructField("end_year", T.StringType(), True),
        T.StructField("qualifier", T.StringType(), True),
    ]
)

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("surface", T.StringType(), False),
        T.StructField("norm_surface", T.StringType(), False),
        T.StructField("span_start", T.IntegerType(), True),
        T.StructField("span_end", T.IntegerType(), True),
    ]
)

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("input_fingerprint", T.StringType(), True),
        T.StructField("rows_in", T.LongType(), True),
        T.StructField("rows_out", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("finished_at", T.StringType(), True),
    ]
)
