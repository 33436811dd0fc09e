"""The flagship /annotate pipeline as one lazy DataFrame DAG.

Reference lifecycle (SURVEY.md §3.1, rest/.../SpotlightInterface.java:124-172):
    text -> tokenize -> spot -> candidates -> disambiguate -> filter -> output

Spark DAG:
    documents --mapInPandas--> spots          (broadcast dictionary, no shuffle)
    documents --mapInPandas--> tokens         (no shuffle)
    spots ⟕ sf ⟕ normalized sf ⋈ candidates   (broadcast + two-stage skew join)
    pairs ⋈ context_counts ⋈ query -> Σδ      (shuffle on res_id / context)
    candidate rows ⟕ Σδ ⟕ NIL ⟕ res totals    (one left-join chain -> p_c)
    window rank / softmax                     (shuffle on spot key)

The filter step is operators/filters.apply_default_filter_chain, composed
by the caller (api.annotate_endpoint, jobs/annotate_job.py).

The four reference IRs (spot list, candidate map, context scores, ranked
occurrences) are the intermediate DataFrames returned by the helpers, each
checkpointable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.model.model_tables import SpotlightModel
from dbpedia_spotlight_spark.operators.candidates import (
    AUTO_BROADCAST_MAX,
    generate_candidates,
)
from dbpedia_spotlight_spark.operators.disambiguate import (
    best_k,
    context_window,
    disambiguate_best,
    score_candidates,
)
from dbpedia_spotlight_spark.operators.spotter import spot_documents
from dbpedia_spotlight_spark.operators.tokenizer import (
    DEFAULT_STOPWORDS,
    tokenize_documents,
)

ANNOTATION_COLS = [
    "doc_id",
    "span_pos",
    "offset",
    "surface_form",
    "uri",
    "similarity_score",
    "percentage_second_rank",
    "contextual_score",
    "types",
    "res_id",
    "support",
]


def annotate(
    documents: DataFrame,
    model: SpotlightModel,
    use_context: bool = True,
    spotter: str = "fsa",
    k: int = 1,
    stopwords: frozenset = DEFAULT_STOPWORDS,
    max_context_tokens: int | None = 250,
    tokens: DataFrame | None = None,
    spots: DataFrame | None = None,
    dictionary=None,
) -> DataFrame:
    """documents(doc_id, spans) -> annotations (one row per linked mention).

    With k=1 this is the reference `disambiguate` (best per spot, ordered by
    offset); with k>1 the bestK ranked lists (rank column retained). No
    filter runs here: the REST chain (F1-F6) is
    `filters.apply_default_filter_chain(annotate(...), confidence=...,
    support=...)`, as `api.annotate_endpoint` composes it.

    Context scoring (D2, ref DBTwoStepDisambiguator.scala:72,89-119) keys
    every context vector on (doc_id, window_id). A token's window is
    ordinal // max_context_tokens; a spot takes the window of the last
    token at or before its offset. max_context_tokens=None (or 0) puts each
    whole document in window 0 through the same plan (context_window).
    Documents of at most max_context_tokens tokens score exactly as whole
    documents. Deviation: the windows are fixed runs of 250 token
    ordinals by default, while the reference accumulates whole sentences
    until a window holds MAX_CONTEXT=250 tokens
    (DBTwoStepDisambiguator.scala:102).

    `spots` injects a pre-computed spot table (SPOTS_SCHEMA) in place of the
    built-in spotters — the reference's pluggable-Spotter seam
    (rest/.../SpotlightInterface.java:124-137 takes any Spotter impl).
    `tokens` injects the tokens table (TOKENS_SCHEMA). With use_context,
    injected tables must carry `ordinal`: a token's rank by offset within
    its document, and for a spot the ordinal of the last token at or before
    its offset (0 when none). The use_context=False path does not read it.
    `dictionary` injects a persisted SpotterDictionary (built once at
    model-build time, SpotterDictionary.save/load) so repeated annotate
    jobs skip the driver-side FSA build.
    """
    if spots is None:
        spots = spot_documents(
            documents,
            model.surface_forms,
            stopwords=stopwords,
            spotter=spotter,
            dictionary=dictionary,
        )
    # Skew plan (north rule): small candidate tables broadcast whole; big
    # ones switch to the two-stage broadcast(head)+shuffle(tail) join on
    # the cached head-sf statistic.
    heads = (
        model.head_ids() if model.candidates_count > AUTO_BROADCAST_MAX else None
    )
    # The spots/tokens subtrees are consumed by several downstream branches
    # (candidate join, NIL spot scores, context vectors). Without an exchange
    # at the fork, Spark recomputes the Python UDF scan once per branch
    # (~8x measured). A repartition on doc_id makes the fork an Exchange that
    # ReuseExchange can dedupe, and the doc_id clustering feeds the
    # downstream per-doc windows. The dedupe is partial: column pruning
    # pushes each branch's Project below the repartition, so branches that
    # keep different columns get different Exchanges and each runs the UDF
    # (the spotter runs twice and the tokenizer once per job). Any
    # `mapInPandas(...).repartition("doc_id")` read by two branches that
    # prune differently does the same.
    spots = spots.repartition("doc_id")
    spot_cands = generate_candidates(
        spots, model.surface_forms, model.candidates, heads=heads
    )
    if use_context:
        if tokens is None:
            tokens = tokenize_documents(documents, stopwords=stopwords).repartition(
                "doc_id"
            )
        window = context_window(max_context_tokens)
        tokens = tokens.withColumn("window_id", window)
        spot_cands = spot_cands.withColumn("window_id", window)
    else:
        tokens = None
    scored = score_candidates(spot_cands, tokens, model, use_context=use_context)
    ranked = best_k(scored, k=max(k, 1))
    out = ranked if k > 1 else disambiguate_best(ranked)
    return out.select(*[c for c in ANNOTATION_COLS if c in out.columns], "rank")


def verify_span_invariant(documents_in: DataFrame, documents_out: DataFrame) -> bool:
    """Per-row invariant (BASELINE.json input_hint): span-sequence equality on
    (kind, text, media_ref, order). Compares two documents tables."""
    key = F.sha2(
        F.to_json(
            F.transform(
                "spans",
                lambda s: F.struct(s["kind"], s["text"], s["media_ref"]),
            )
        ),
        256,
    )
    a = documents_in.select("doc_id", key.alias("h"))
    b = documents_out.select("doc_id", key.alias("h"))
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
