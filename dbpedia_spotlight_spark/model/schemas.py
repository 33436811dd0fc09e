"""Spark schemas for the KG-construction engine.

Data model mapping (SURVEY.md §1): the reference's memory-mapped
struct-of-arrays stores become partitioned Parquet/Iceberg dim and fact
tables; JVM model objects become rows.

Reference citations:
  - documents input: BASELINE.json input_hint (interleaved text+media spans)
  - Text: core/src/main/scala/org/dbpedia/spotlight/model/Text.scala:25-41
  - SurfaceForm: core/.../model/SurfaceForm.scala:22-64
  - DBpediaResource: core/.../model/DBpediaResource.scala:24-47
  - Candidate: core/.../model/Candidate.scala:19-37
  - DBpediaResourceOccurrence: core/.../model/DBpediaResourceOccurrence.scala:20-112
"""

from __future__ import annotations

from pyspark.sql import types as T

# North-rule input table (BASELINE.json input_hint).
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("media_ref", T.StringType()),
        T.StructField("offset", T.IntegerType()),
    ]
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

# Tokenizer output (one row per token; ref Token.scala:7-20).
TOKENS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("span_pos", T.IntegerType(), False),
        T.StructField("sent_id", T.IntegerType(), False),
        T.StructField("token", T.StringType(), False),
        T.StructField("stem", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("is_stopword", T.BooleanType(), False),
        T.StructField("eos", T.BooleanType(), False),
        # Rank by offset within the document; window_id = ordinal // W.
        T.StructField("ordinal", T.IntegerType(), False),
    ]
)

# Spotting output (ref SurfaceFormOccurrence.scala:19-84).
SPOTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("span_pos", T.IntegerType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("surface_form", T.StringType(), False),
        T.StructField("spot_prob", T.DoubleType(), False),
        T.StructField("spot_type", T.StringType(), False),
        # Stems of the spot's own tokens (for NIL P(s|e); the reference slices
        # token_types over [startToken, lastToken) — DBSpotter.scala:82).
        T.StructField("token_stems", T.ArrayType(T.StringType()), False),
        # Ordinal of the last document token at or before the spot's offset
        # (tokenizer.spot_ordinal): the spot's context window follows it.
        T.StructField("ordinal", T.IntegerType(), False),
    ]
)

# Final annotations (ref DBpediaResourceOccurrence TSV dump :91-93).
ANNOTATIONS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("span_pos", T.IntegerType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("surface_form", T.StringType(), False),
        T.StructField("uri", T.StringType(), False),
        T.StructField("similarity_score", T.DoubleType()),
        T.StructField("percentage_second_rank", T.DoubleType()),
        T.StructField("contextual_score", T.DoubleType()),
        T.StructField("types", T.ArrayType(T.StringType())),
        T.StructField("provenance", T.StringType()),
    ]
)

# NIF-style triple output (ref rest/.../NIFOutputFormatter.scala:43-84,
# core/.../util/CreateLexicalizations.scala:40-47).
TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
    ]
)

# Model dim/fact tables (SURVEY.md §1.2)
SURFACE_FORMS_SCHEMA = T.StructType(
    [
        T.StructField("sf_id", T.IntegerType(), False),
        T.StructField("surface_form", T.StringType(), False),
        T.StructField("surface_form_norm", T.StringType(), False),
        T.StructField("annotated_count", T.LongType(), False),
        T.StructField("total_count", T.LongType(), False),
    ]
)

RESOURCES_SCHEMA = T.StructType(
    [
        T.StructField("res_id", T.IntegerType(), False),
        T.StructField("uri", T.StringType(), False),
        T.StructField("support", T.LongType(), False),
        T.StructField("types", T.ArrayType(T.ShortType())),
    ]
)

CANDIDATES_SCHEMA = T.StructType(
    [
        T.StructField("sf_id", T.IntegerType(), False),
        T.StructField("res_id", T.IntegerType(), False),
        T.StructField("pair_count", T.LongType(), False),
    ]
)

TOKEN_TYPES_SCHEMA = T.StructType(
    [
        T.StructField("token_id", T.IntegerType(), False),
        T.StructField("token", T.StringType(), False),
        T.StructField("count", T.LongType(), False),
    ]
)

CONTEXT_COUNTS_SCHEMA = T.StructType(
    [
        T.StructField("res_id", T.IntegerType(), False),
        T.StructField("token_id", T.IntegerType(), False),
        T.StructField("count", T.LongType(), False),
    ]
)

REDIRECTS_SCHEMA = T.StructType(
    [
        T.StructField("src_uri", T.StringType(), False),
        T.StructField("dst_uri", T.StringType(), False),
    ]
)

GOLD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("span_pos", T.IntegerType(), False),
        T.StructField("offset", T.IntegerType(), False),
        T.StructField("surface_form", T.StringType(), False),
        T.StructField("uri", T.StringType(), False),
    ]
)
