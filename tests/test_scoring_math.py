"""Disambiguation scoring vs hand-computed log math (SURVEY.md §5.1, D3-D12)."""

import math

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.model.fixtures import build_model
from dbpedia_spotlight_spark.operators.disambiguate import (
    LAMBDA,
    build_query_vectors,
    context_scores,
    context_window,
    nil_context_scores,
)
from dbpedia_spotlight_spark.operators.tokenizer import flat_to_interleaved, tokenize_documents


@pytest.fixture(scope="module")
def model(spark):
    return build_model(spark)


def _hand_scores(model_rows, doc_tokens):
    """Reference formulas, straight port of GenerativeContextSimilarity for
    the test only."""
    token_types, context, totals = model_rows
    T = sum(c for _, c in token_types.values())
    V = len(token_types)

    def plm(tok):
        cnt = token_types.get(tok, (None, 0))[1]
        return math.log(cnt + 1) - math.log(T + V)

    query = {}
    for t in doc_tokens:
        if t in token_types:
            query[t] = query.get(t, 0) + 1

    def score(res):
        s = 0.0
        for t, c in query.items():
            ml = context.get(res, {}).get(t, 0) / totals[res]
            p = math.log(LAMBDA) + math.log(ml) if ml > 0 else -math.inf
            p = _logaddexp(p, math.log(1 - LAMBDA) + plm(t))
            s += math.log(c) + p
        return s

    def nil():
        return sum(
            math.log(c) + math.log(1 - LAMBDA) + plm(t) for t, c in query.items()
        )

    return score, nil


def _logaddexp(a, b):
    if a == -math.inf:
        return b
    hi, lo = max(a, b), min(a, b)
    return hi + math.log1p(math.exp(lo - hi))


def _model_rows(model):
    token_types = {
        r["token"]: (r["token_id"], r["count"]) for r in model.token_types.collect()
    }
    id2tok = {tid: t for t, (tid, _) in token_types.items()}
    context = {}
    for r in model.context_counts.collect():
        context.setdefault(r["res_id"], {})[id2tok[r["token_id"]]] = r["count"]
    totals = {res: sum(v.values()) for res, v in context.items()}
    return token_types, context, totals


def test_context_scores_match_hand_math(spark, model):
    text = "iphone mac company fruit tree celebrity report"
    docs = flat_to_interleaved(spark.createDataFrame([("d1", text)], "doc_id string, text string"))
    tokens = tokenize_documents(docs).withColumn("window_id", context_window(250))
    query = build_query_vectors(tokens, model)

    res = {r["uri"]: r["res_id"] for r in model.resources.collect()}
    cand_pairs = spark.createDataFrame(
        [("d1", 0, res[uri]) for uri in ("Apple_Inc", "Apple", "Paris")],
        "doc_id string, window_id int, res_id int",
    )
    got = {
        r["res_id"]: r["p_c"]
        for r in context_scores(query, cand_pairs, model).collect()
    }
    nil_got = nil_context_scores(query).collect()[0]["nil_context_score"]

    from dbpedia_spotlight_spark.operators.tokenizer import stem

    rows = _model_rows(model)
    doc_tokens = [stem(t) for t in text.split()]
    score, nil = _hand_scores(rows, doc_tokens)

    assert nil_got == pytest.approx(nil(), rel=1e-9)
    for uri in ["Apple_Inc", "Apple", "Paris"]:
        assert got[res[uri]] == pytest.approx(score(res[uri]), rel=1e-9), uri


def test_query_vector_counts(spark, model):
    docs = flat_to_interleaved(
        spark.createDataFrame([("d1", "iphone iphone mac unknownword")],
                              "doc_id string, text string")
    )
    tokens = tokenize_documents(docs).withColumn("window_id", context_window(250))
    q = build_query_vectors(tokens, model).collect()
    by_tok = {}
    vocab = {r["token_id"]: r["token"] for r in model.token_types.collect()}
    for r in q:
        by_tok[vocab[r["token_id"]]] = r["c"]
    assert by_tok == {"iphon": 2.0, "mac": 1.0}  # stems; unknown excluded


def test_softmax_and_second_rank(spark, world):
    from dbpedia_spotlight_spark.pipeline.annotate import annotate

    ranked = annotate(world.documents.limit(10), world.model, k=5)
    rows = ranked.collect()
    # similarity scores within a spot + NIL mass sum to <= 1
    from collections import defaultdict

    by_spot = defaultdict(list)
    for r in rows:
        by_spot[(r["doc_id"], r["span_pos"], r["offset"])].append(r)
    for spot, cands in by_spot.items():
        total = sum(c["similarity_score"] for c in cands)
        assert total <= 1.0 + 1e-9, spot
        ranks = sorted(c["rank"] for c in cands)
        assert ranks == list(range(1, len(cands) + 1))
        top = [c for c in cands if c["rank"] == 1][0]
        if len(cands) > 1:
            second = [c for c in cands if c["rank"] == 2][0]
            assert top["similarity_score"] >= second["similarity_score"]
            assert 0.0 < top["percentage_second_rank"] <= 1.0
        else:
            assert top["percentage_second_rank"] == -1.0
