"""Disambiguation — D1-D13 in SURVEY.md §2.4, entirely DataFrame column math.

Reference semantics reproduced:
  - GenerativeContextSimilarity (Han 2011 generative entity-mention model),
    core/src/main/scala/org/dbpedia/spotlight/db/similarity/GenerativeContextSimilarity.scala:
      lambda=0.2 (:26); pLM(t)=log(count+1)-log(totalTokens+vocab) (:34-40);
      p(t,e)=logsum(log λ + log(c(t,e)/N_e), log(1-λ)+pLM(t)) (:51-60);
      score = Σ_t [log c_t + p(t,e)] (:62-72); nilScore (:74-78).
  - DBTwoStepDisambiguator.bestK_
    (core/.../db/DBTwoStepDisambiguator.scala:120-246):
      P(e)=log(support/totalSupport), P(s|e)=log(pair_count/annotated_count)
      (:207-215); NIL P(e)=log(1/totalAnnotatedCount) (:188);
      UnweightedMixture sum (disambiguate/mixtures/UnweightedMixture.scala:14-17);
      drop NaN / score<=nilScore, top-k (:220-223);
      percentageOfSecondRank=exp(next-score) (:225-229);
      softmax over kept candidates ∪ NIL (:231-238).

Scale design: the context join is driven from the candidate side —
(context,res) candidate pairs ⋈ context_counts on res_id (the fact table is
partitioned by res_id), then ⋈ query vectors on (CTX_KEY, token_id). The
algebraic identity

    score(d,e) = nilScore(d) + Σ_{t: c(t,e)>0} [p(t,e) - (log(1-λ)+pLM(t))]

means only *present* (token, resource) pairs are ever joined — absent pairs
contribute exactly their nilScore term, folded in as a per-context scalar
column.
No cross product, no UDF: the whole scoring stage is joins + groupBy sums
that stay inside whole-stage codegen.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.model.model_tables import SpotlightModel

LAMBDA = 0.2  # ref GenerativeContextSimilarity.scala:26
LOG_LAMBDA = math.log(LAMBDA)
LOG_1M_LAMBDA = math.log(1.0 - LAMBDA)

SPOT_KEY = ["doc_id", "span_pos", "offset"]
# The context a spot is scored against: a D2 window of its document
# (context_window). Whole-document scoring is the one-window case.
CTX_KEY = ["doc_id", "window_id"]


def logaddexp(a: Column, b: Column) -> Column:
    """Numerically stable log(e^a + e^b) (breeze.numerics.logSum twin)."""
    hi, lo = F.greatest(a, b), F.least(a, b)
    return hi + F.log1p(F.exp(lo - hi))


def plm_col(count: Column, total_tokens: float, vocab_size: float) -> Column:
    """Laplace-smoothed LM log-prob (ref GenerativeContextSimilarity.scala:34-40)."""
    return F.log(count + F.lit(1.0)) - F.lit(math.log(total_tokens + vocab_size))


def build_query_vectors(tokens: DataFrame, model: SpotlightModel) -> DataFrame:
    """D1: per-context bag-of-token counts with LM probs.
    -> (doc_id, window_id, token_id, c, plm).
    Tokens absent from the vocabulary are excluded: they cannot appear in
    any context vector, so they shift all candidate scores and the NIL
    score by the same constant — invariant for ranking, filtering and
    softmax (documented deviation)."""
    vocab = F.broadcast(model.token_types.select("token_id", "token", "count"))
    return (
        tokens.filter(~F.col("is_stopword"))
        .join(vocab, tokens["stem"] == vocab["token"], "inner")
        .groupBy(*CTX_KEY, "token_id")
        .agg(
            F.count("*").cast("double").alias("c"),
            F.first("count").alias("_vocab_count"),
        )
        .withColumn(
            "plm",
            plm_col(F.col("_vocab_count"), model.total_token_count, model.vocabulary_size),
        )
        .drop("_vocab_count")
    )


def nil_context_scores(query: DataFrame) -> DataFrame:
    """D5: per-context NIL score Σ_t [log c_t + log(1-λ) + pLM(t)]
    -> (doc_id, window_id, nil_context_score)."""
    return query.groupBy(*CTX_KEY).agg(
        F.sum(F.log("c") + F.lit(LOG_1M_LAMBDA) + F.col("plm")).alias(
            "nil_context_score"
        )
    )


def context_scores(
    query: DataFrame,
    cand_pairs: DataFrame,
    model: SpotlightModel,
) -> DataFrame:
    """D3/D4: P(c|e) per (doc_id, window_id, res_id).

    cand_pairs: distinct (doc_id, window_id, res_id). Resources without any
    context vector score NaN in the reference (0/0 division,
    GenerativeContextSimilarity.scala:53-57) and are later dropped; here they
    get a null p_c (same downstream effect).
    """
    totals = model.resource_token_totals()  # (res_id, total_count)
    nil_doc = nil_context_scores(query)

    present = (
        cand_pairs.join(model.context_counts, "res_id", "inner")
        .join(query, [*CTX_KEY, "token_id"], "inner")
        .join(totals, "res_id", "inner")
    )
    # delta = p(t,e) - (log(1-λ)+pLM): the present-pair correction term
    ml = F.col("count") / F.col("total_count")
    p_te = logaddexp(
        F.lit(LOG_LAMBDA) + F.log(ml), F.lit(LOG_1M_LAMBDA) + F.col("plm")
    )
    deltas = present.withColumn(
        "_delta", p_te - (F.lit(LOG_1M_LAMBDA) + F.col("plm"))
    ).groupBy(*CTX_KEY, "res_id").agg(F.sum("_delta").alias("_sum_delta"))

    has_context = totals.filter(F.col("total_count") > 0).select("res_id")
    return (
        cand_pairs.join(F.broadcast(has_context), "res_id", "left_semi")
        .join(deltas, [*CTX_KEY, "res_id"], "left")
        .join(nil_doc, CTX_KEY, "left")
        .select(
            *CTX_KEY,
            "res_id",
            (
                F.coalesce(F.col("_sum_delta"), F.lit(0.0))
                + F.coalesce(F.col("nil_context_score"), F.lit(0.0))
            ).alias("p_c"),
        )
    )


def nil_spot_scores(spots: DataFrame, model: SpotlightModel) -> DataFrame:
    """NIL P(s|e): nilScore over the spot's own token stems
    (ref DBTwoStepDisambiguator.scala:177-181). Unknown stems use count=0
    (pLM Laplace floor). -> SPOT_KEY + nil_s."""
    vocab = F.broadcast(model.token_types.select("token", "count"))
    exploded = (
        spots.select(*SPOT_KEY, F.explode_outer("token_stems").alias("stem"))
        .join(vocab, F.col("stem") == vocab["token"], "left")
    )
    term = F.when(
        F.col("stem").isNull(), F.lit(0.0)
    ).otherwise(
        # query counts: multiplicity of the stem within this spot
        F.lit(LOG_1M_LAMBDA)
        + plm_col(
            F.coalesce(F.col("count"), F.lit(0.0)),
            model.total_token_count,
            model.vocabulary_size,
        )
    )
    # Σ over the multiset: log(c) for duplicate stems folds in by grouping on
    # stem first; reference getQuery counts duplicates.
    per_stem = (
        exploded.groupBy(*SPOT_KEY, "stem")
        .agg(F.count("stem").cast("double").alias("c"), F.first(term).alias("t"))
        .withColumn(
            "term",
            F.when(F.col("stem").isNull(), F.lit(0.0)).otherwise(
                F.log(F.col("c")) + F.col("t")
            ),
        )
    )
    return per_stem.groupBy(*SPOT_KEY).agg(F.sum("term").alias("nil_s"))


def score_candidates(
    spot_cands: DataFrame,
    tokens: DataFrame | None,
    model: SpotlightModel,
    use_context: bool = True,
) -> DataFrame:
    """D7/D8: attach p_e, p_s_given_e, p_c_given_e and the mixture score; also
    the per-spot NIL mixture score (columns nil_score, nil_context_score).

    spot_cands columns: SPOT_KEY + surface_form, spot_prob, spot_type,
    token_stems, sf_id, annotated_count, total_count, res_id, pair_count;
    with context scoring also window_id, as on `tokens` (context_window).
    """
    res_dim = F.broadcast(
        model.resources.select("res_id", "uri", "support", "types")
    )
    df = spot_cands.join(res_dim, "res_id", "inner")

    p_e = F.log(F.col("support") / F.lit(model.total_support))
    p_s = F.log(F.col("pair_count") / F.col("annotated_count"))
    nil_e = F.lit(math.log(1.0 / model.total_annotated_count))

    df = df.withColumn("p_e", p_e).withColumn("p_s_given_e", p_s)

    if use_context and model.context_counts is not None and tokens is not None:
        query = build_query_vectors(tokens, model)
        cand_pairs = df.select(*CTX_KEY, "res_id").distinct()
        ctx = context_scores(query, cand_pairs, model)
        nil_doc = nil_context_scores(query)
        df = (
            df.join(ctx, [*CTX_KEY, "res_id"], "left")
            .join(nil_doc, CTX_KEY, "left")
            .withColumn("p_c_given_e", F.col("p_c"))
            .withColumn(
                "nil_context_score",
                F.coalesce(F.col("nil_context_score"), F.lit(0.0)),
            )
            .drop("p_c")
        )
        nil_s_df = nil_spot_scores(
            spot_cands.select(*SPOT_KEY, "token_stems").distinct(), model
        )
        df = df.join(nil_s_df, SPOT_KEY, "left").withColumn(
            "nil_s", F.coalesce(F.col("nil_s"), F.lit(0.0))
        )
    else:
        # contextStore == null path (ref DBTwoStepDisambiguator.scala:161-164)
        df = (
            df.withColumn("p_c_given_e", F.lit(0.0))
            .withColumn("nil_context_score", F.lit(0.0))
            .withColumn("nil_s", F.lit(0.0))
        )

    # UnweightedMixture: Σ of the present log features (:14-17). A null
    # p_c_given_e (resource without context vector) nulls the score — the
    # reference's NaN — and is dropped by best_k.
    df = df.withColumn(
        "score", F.col("p_e") + F.col("p_s_given_e") + F.col("p_c_given_e")
    ).withColumn(
        "nil_score", nil_e + F.col("nil_context_score") + F.col("nil_s")
    )
    return df


def best_k(scored: DataFrame, k: int = 20) -> DataFrame:
    """D10-D12: NIL filter, top-k, percentageOfSecondRank, softmax."""
    kept = scored.filter(
        F.col("score").isNotNull()
        & ~F.isnan(F.col("score"))
        & (F.col("score") > F.col("nil_score"))
    )
    w = Window.partitionBy(*SPOT_KEY).orderBy(F.desc("score"), F.asc("res_id"))
    kept = kept.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)

    wp = Window.partitionBy(*SPOT_KEY)
    w_ord = Window.partitionBy(*SPOT_KEY).orderBy(F.desc("score"), F.asc("res_id"))
    # percentage of second rank: exp(next - this); unset (-1.0) for the last
    kept = kept.withColumn(
        "percentage_second_rank",
        F.coalesce(F.exp(F.lead("score").over(w_ord) - F.col("score")), F.lit(-1.0)),
    )

    # softmax over kept candidates ∪ NIL (log-sum-exp via window max)
    def softmax_col(value: Column, nil_value: Column) -> Column:
        m = F.greatest(F.max(value).over(wp), nil_value)
        lse_cands = F.log(F.sum(F.exp(value - m)).over(wp))
        total = m + F.log(F.exp(lse_cands) + F.exp(nil_value - m))
        return F.exp(value - total)

    kept = kept.withColumn(
        "similarity_score", softmax_col(F.col("score"), F.col("nil_score"))
    ).withColumn(
        "contextual_score",
        softmax_col(
            F.coalesce(F.col("p_c_given_e"), F.lit(0.0)),
            F.col("nil_context_score"),
        ),
    )
    return kept


def disambiguate_best(scored_topk: DataFrame) -> DataFrame:
    """D13: best-first — rank 1 per spot, ordered by offset within each
    document (ref DBTwoStepDisambiguator.scala:248-257). Per-doc clustering
    + local sort, not a global total sort (scale: the reference's order is
    per-request; cross-document order is meaningless)."""
    return (
        scored_topk.filter(F.col("rank") == 1)
        .repartition("doc_id")
        .sortWithinPartitions("doc_id", "span_pos", "offset")
    )


# ---------------------------------------------------------------------------
# D2: context windowing (ref DBTwoStepDisambiguator.scala:72,89-119 —
# long documents are sliced into context windows and each spot is
# disambiguated against its own window's context vector). Deviation: the
# windows here are fixed runs of token ordinals, while the reference
# accumulates whole sentences up to MAX_CONTEXT=250 tokens (:102).
# ---------------------------------------------------------------------------

# Window width of whole-document scoring: no document has more tokens.
WHOLE_DOCUMENT = 2**31 - 1


def context_window(max_tokens: int | None) -> Column:
    """window_id of a token or spot from its `ordinal` (TOKENS_SCHEMA,
    SPOTS_SCHEMA): windows of max_tokens consecutive token ordinals. A
    spot's ordinal is that of the last token at or before it, so it is
    scored against the window holding that token. A falsy max_tokens
    means one window per document. It is the same expression with an
    unreachable width, not a literal 0: Catalyst would fold a constant
    out of the context-key joins and plan whole-document scoring apart."""
    width = max_tokens or WHOLE_DOCUMENT
    return F.floor(F.col("ordinal") / F.lit(width)).cast("int")


# ---------------------------------------------------------------------------
# D6: TF-ICF similarity (the legacy Lucene-stack scoring, db variant —
# ref core/.../db/similarity/TFICFSimilarity.scala:25-97): per query and
# candidate set, score(e) = Σ_t tf(t,e)·icf(t) / norm(e) with
# icf(t) = 0 when no candidate context contains t, else
# log(nCand / nCandWithToken) + 1; norm(e) = |distinct tokens in e's
# context vector|; nilScore = 0.
# ---------------------------------------------------------------------------


def tficf_scores(
    query: DataFrame,
    cand_pairs: DataFrame,
    model: SpotlightModel,
) -> DataFrame:
    """-> (doc_id, window_id, res_id, tficf). All relational: the
    per-query candidate statistics (nCand, nCandWithToken) are groupBy
    aggregates over the cand_pairs ⋈ context_counts join — no UDF, no
    cross product."""
    n_cand = cand_pairs.groupBy(*CTX_KEY).agg(
        F.countDistinct("res_id").alias("_n_cand")
    )
    # (ctx, token_id) -> how many of this query's candidates contain t
    cand_tokens = cand_pairs.join(
        model.context_counts.select("res_id", "token_id", "count"), "res_id"
    )
    n_with = cand_tokens.groupBy(*CTX_KEY, "token_id").agg(
        F.countDistinct("res_id").alias("_n_with")
    )
    norm = model.context_counts.groupBy("res_id").agg(
        F.countDistinct("token_id").alias("_norm")
    )
    present = (
        query.select(*CTX_KEY, "token_id")
        .join(cand_tokens, [*CTX_KEY, "token_id"], "inner")
        .join(n_with, [*CTX_KEY, "token_id"], "inner")
        .join(n_cand, CTX_KEY, "inner")
    )
    icf = F.log(F.col("_n_cand") / F.col("_n_with")) + F.lit(1.0)
    summed = present.withColumn(
        "_tficf", F.col("count") * icf
    ).groupBy(*CTX_KEY, "res_id").agg(F.sum("_tficf").alias("_sum"))
    return (
        cand_pairs.join(summed, [*CTX_KEY, "res_id"], "left")
        .join(F.broadcast(norm), "res_id", "left")
        .select(
            *CTX_KEY,
            "res_id",
            (
                F.coalesce(F.col("_sum"), F.lit(0.0))
                / F.greatest(F.col("_norm"), F.lit(1))
            ).alias("tficf"),
        )
    )
