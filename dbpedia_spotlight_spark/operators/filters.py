"""Annotation filters — F1-F8 in SURVEY.md §2.5, applied in the reference's
order: coreference -> support -> confidence(similarity) -> confidence(second
rank) -> type -> sparql, then sort by offset
(core/src/main/scala/org/dbpedia/spotlight/util/AnnotationFilter.scala:71-87,
chain built in rest/.../SpotlightInterface.java:159-160).

All are plain relational filters/joins — no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# REST defaults (ref core/.../model/SpotlightConfiguration.java:48-53)
DEFAULT_CONFIDENCE = 0.1
DEFAULT_SUPPORT = 10

# ref ConfidenceFilter.scala:47-63 — simThresholds list from server config;
# the shipped default config uses these four (SpotlightConfiguration).
DEFAULT_SIM_THRESHOLDS = (0.0, 0.1, 0.2, 0.3)


def confidence_filter(
    df: DataFrame,
    confidence: float = DEFAULT_CONFIDENCE,
    sim_thresholds=DEFAULT_SIM_THRESHOLDS,
) -> DataFrame:
    """F1: drop if similarity_score < simThresholds[round((len-1)*confidence)]
    (ref ConfidenceFilter.scala:47-63)."""
    idx = round((len(sim_thresholds) - 1) * confidence)
    threshold = sim_thresholds[int(idx)]
    return df.filter(F.col("similarity_score") >= F.lit(threshold))


def second_rank_filter(df: DataFrame, confidence: float = DEFAULT_CONFIDENCE) -> DataFrame:
    """F2: drop if percentageOfSecondRank > 1 - confidence²
    (ref ConfidenceFilter.scala:26-45; unset values (-1) pass)."""
    limit = 1.0 - confidence * confidence
    return df.filter(F.col("percentage_second_rank") <= F.lit(limit))


def support_filter(df: DataFrame, support: int = DEFAULT_SUPPORT) -> DataFrame:
    """F3: drop if resource support <= target (ref SupportFilter.scala:26-41)."""
    return df.filter(F.col("support") > F.lit(support))


def type_filter(
    df: DataFrame,
    types: list | None,
    policy: str = "whitelist",
    untyped_passes: bool = True,
) -> DataFrame:
    """F4: whitelist/blacklist on ontology type qnames; empty list = pass-all;
    untyped resources pass a whitelist iff UNKNOWN is whitelisted
    (ref TypeFilter.scala:25-66). Expects a `types` array<string> column."""
    if not types:
        return df
    overlap = F.arrays_overlap(
        F.coalesce(F.col("types"), F.array()), F.array(*[F.lit(t) for t in types])
    )
    is_untyped = F.size(F.coalesce(F.col("types"), F.array())) == 0
    if policy == "whitelist":
        cond = overlap | (is_untyped & F.lit(untyped_passes))
        return df.filter(cond)
    return df.filter(~overlap)


def sparql_filter(df: DataFrame, uris: DataFrame, policy: str = "whitelist") -> DataFrame:
    """F5: semi/anti-join vs a provided URI set (we accept a table instead of
    calling an endpoint; ref SparqlFilter.scala)."""
    uri_df = uris.select(F.col(uris.columns[0]).alias("uri"))
    how = "left_semi" if policy == "whitelist" else "left_anti"
    return df.join(F.broadcast(uri_df), "uri", how)


# What a coreferent mention inherits from its antecedent.
INHERITED = (
    "uri",
    "res_id",
    "support",
    "types",
    "similarity_score",
    "percentage_second_rank",
    "contextual_score",
)


def coreference_filter(df: DataFrame) -> DataFrame:
    """F6: single-word surface form whose word appears inside an earlier
    multi-word all-uppercase-initial surface form in the same doc inherits
    that occurrence's resource (ref CoreferenceFilter.scala:28-79).

    Relational form: one window per doc_id, ordered by offset, collects the
    strictly earlier antecedents (across span_pos); a single word takes
    the earliest one whose words contain it. Each antecedent is a struct
    led by its offset, so array_min picks the earliest. Output: doc_id,
    span_pos, offset, surface_form and the INHERITED columns.
    """
    sf = F.col("surface_form")
    words = F.split(sf, " ")
    # multi-word, every word starts uppercase (ref isCoreferent :71-79)
    is_antecedent = sf.contains(" ") & F.forall(words, lambda w: w.rlike("^[A-Z]"))
    antecedent = F.struct(
        F.col("offset"), words.alias("words"), *[F.col(c) for c in INHERITED]
    )
    earlier = (
        Window.partitionBy("doc_id")
        .orderBy("offset")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    antecedents = F.collect_list(F.when(is_antecedent, antecedent)).over(earlier)
    hit = F.when(
        ~sf.contains(" "),
        F.array_min(F.filter(antecedents, lambda a: F.array_contains(a["words"], sf))),
    )
    # not coalesce: an antecedent's null `types` must win
    inherit = [
        F.when(F.col("_hit").isNotNull(), F.col("_hit")[c]).otherwise(F.col(c)).alias(c)
        for c in INHERITED
    ]
    return df.withColumn("_hit", hit).select(
        "doc_id", "span_pos", "offset", "surface_form", *inherit
    )


def apply_default_filter_chain(
    df: DataFrame,
    confidence: float = DEFAULT_CONFIDENCE,
    support: int = DEFAULT_SUPPORT,
    types: list | None = None,
    policy: str = "whitelist",
    coreference: bool = True,
    sparql_uris: DataFrame | None = None,
) -> DataFrame:
    """The REST /annotate filter chain with its default ordering
    (ref AnnotationFilter.scala:71-87)."""
    out = df
    if coreference:
        out = coreference_filter(out)
    out = support_filter(out, support)
    out = confidence_filter(out, confidence)
    out = second_rank_filter(out, confidence)
    out = type_filter(out, types, policy)
    if sparql_uris is not None:
        out = sparql_filter(out, sparql_uris, policy)
    # The reference sorts by offset *within a request's document*
    # (AnnotationFilter.scala:85). A global orderBy would be a total sort
    # (range-partition sampling + full shuffle) across the whole corpus —
    # per-doc clustering + local sort gives the same per-document order for
    # one hash shuffle.
    return out.repartition("doc_id").sortWithinPartitions(
        "doc_id", "span_pos", "offset"
    )
