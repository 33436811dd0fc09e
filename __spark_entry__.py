"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` runs the flagship KG-construction pipeline (interleave ->
spot -> candidate join -> disambiguate -> NIF triples) on sf0.001.

`queries()` exposes one entry per implemented operator family from
SURVEY.md §2, each over the driver's parquet tables; `oracle_sql()` gives
the DuckDB twin. The KG queries share a deterministic micro-world derived
from the `documents` table: a literal surface-form dictionary over the
corpus vocabulary, token-position spotting, and a position-hash candidate
assignment — identical (by construction) in Spark and ANSI SQL, so every
relational stage of the pipeline is oracle-checked end to end.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.datapipe.dedup import (
    exact_duplicates,
    minhash_near_duplicates,
    simhash_buckets,
)
from dbpedia_spotlight_spark.datapipe.similarity import brute_force_topk, lsh_topk
from dbpedia_spotlight_spark.datapipe.textstats import (
    bpe_ish_token_count,
    language_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count,
)
from dbpedia_spotlight_spark.operators.closure import redirect_closure
from dbpedia_spotlight_spark.operators.modelbuild import (
    build_model_from_occurrences,
    cooccurrence_edges,
    occurrences_count,
    pair_counts,
    sf_and_total_counts,
    sorted_occurrences,
    uri_counts,
)
from dbpedia_spotlight_spark.operators.tokenizer import (
    flat_to_interleaved_media,
    tokenize_documents,
)
from dbpedia_spotlight_spark.pipeline.annotate import annotate
from dbpedia_spotlight_spark.pipeline.triples import annotation_triples

# ---------------------------------------------------------------------------
# Deterministic micro-world: surface-form dictionary over the corpus vocab.
# (surface_form, uri, pair_count, cand_rank, n_cands, prior)
# cand_rank orders candidates by pair_count desc, uri asc within each sf.
# ---------------------------------------------------------------------------

DICT = [
    ("spark", "Apache_Spark", 60, 1, 2, 0.75),
    ("spark", "Spark_(fire)", 20, 2, 2, 0.25),
    ("table", "Table_(database)", 50, 1, 2, 0.625),
    ("table", "Table_(furniture)", 30, 2, 2, 0.375),
    ("join", "Join_(SQL)", 40, 1, 2, 0.8),
    ("join", "Join_(topology)", 10, 2, 2, 0.2),
    ("hash", "Hash_function", 45, 1, 2, 0.9),
    ("hash", "Hash_(food)", 5, 2, 2, 0.1),
    ("stream", "Stream_(computing)", 48, 1, 2, 0.8),
    ("stream", "Stream_(river)", 12, 2, 2, 0.2),
    ("window", "Window_(computing)", 30, 1, 2, 0.75),
    ("window", "Window_(building)", 10, 2, 2, 0.25),
    ("batch", "Batch_processing", 20, 1, 1, 1.0),
    ("vector", "Vector_(mathematics)", 30, 1, 2, 0.75),
    ("vector", "Vector_(biology)", 10, 2, 2, 0.25),
    ("column", "Column_(database)", 36, 1, 2, 0.75),
    ("column", "Column_(architecture)", 12, 2, 2, 0.25),
    ("scan", "Image_scanner", 15, 1, 2, 0.75),
    ("scan", "Scan_(medicine)", 5, 2, 2, 0.25),
    ("query", "Query_language", 22, 1, 1, 1.0),
]

# redirect chains for the closure operator (M8): 2-hop, 3-hop, 1-hop
REDIRECTS = [
    ("Apache_Spark_Project", "Apache_Spark"),
    ("Old_Spark", "Spark_Fire"),
    ("Spark_Fire", "Spark_(fire)"),
    ("A", "B"),
    ("B", "C"),
    ("C", "D"),
    ("Lone", "Target"),
]

DOC_PREFIX = "http://example.org/doc/"
_EN_STOP = ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"]


# ---------------------------------------------------------------------------
# Spark-side shared derivations
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _dict_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        DICT,
        "surface_form string, uri string, pair_count long, "
        "cand_rank int, n_cands int, prior double",
    )


def _tok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, toks, pos, token) — 0-based token positions."""
    return _docs(spark, sf_dir).select(
        "doc_id",
        "text",
        F.split("text", " ").alias("toks"),
    ).select("doc_id", "text", "toks", F.posexplode("toks").alias("pos", "token"))


def _spots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary spotting = token ⋈ broadcast dict (P8 relational twin)."""
    d = F.broadcast(_dict_df(spark).select("surface_form", "n_cands").distinct())
    t = _tok(spark, sf_dir)
    return t.join(d, t.token == d.surface_form).select(
        "doc_id", "toks", "pos", "surface_form", "n_cands"
    )


def _occs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wikilink-style gold anchors: spots at pos%3!=0, candidate picked by
    position hash (deterministic, SQL-expressible)."""
    s = _spots(spark, sf_dir).withColumn(
        "pick", F.lit(1) + F.col("pos") % F.col("n_cands")
    )
    d = F.broadcast(_dict_df(spark))
    return (
        s.filter(F.col("pos") % 3 != 0)
        .join(d, ["surface_form"])
        .filter(F.col("cand_rank") == F.col("pick"))
        .select("doc_id", "toks", "pos", "surface_form", "uri", "pair_count", "prior")
    )


def _char_offset():
    """Char offset of token at `pos` in a single-space-joined `toks` array."""
    return F.when(F.col("pos") == 0, F.lit(0)).otherwise(
        F.length(F.concat_ws(" ", F.slice("toks", F.lit(1), F.col("pos")))) + 1
    )


# ---------------------------------------------------------------------------
# SQL-side shared derivations (DuckDB); tables are pre-registered views.
# ---------------------------------------------------------------------------

def _dict_values() -> str:
    return ",\n    ".join(
        f"('{sf}', '{uri}', {pc}, {cr}, {nc}, {pr})"
        for sf, uri, pc, cr, nc, pr in DICT
    )


def _redirect_values() -> str:
    return ", ".join(f"('{a}', '{b}')" for a, b in REDIRECTS)


_BASE_CTES = f"""
WITH dict(surface_form, uri, pair_count, cand_rank, n_cands, prior) AS (
  VALUES {_dict_values()}
),
tk AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
),
tok AS (
  SELECT doc_id, text, toks,
         generate_subscripts(toks, 1) - 1 AS pos,
         unnest(toks) AS token
  FROM tk
),
spots AS (
  SELECT t.doc_id, t.toks, t.pos, t.token AS surface_form, d.n_cands
  FROM tok t
  JOIN (SELECT DISTINCT surface_form, n_cands FROM dict) d
    ON t.token = d.surface_form
),
occs AS (
  SELECT s.doc_id, s.toks, s.pos, s.surface_form, d.uri, d.pair_count, d.prior
  FROM (SELECT *, 1 + pos % n_cands AS pick FROM spots) s
  JOIN dict d
    ON s.surface_form = d.surface_form AND d.cand_rank = s.pick
  WHERE s.pos % 3 <> 0
)
"""

_SQL_OFFSET = (
    "CASE WHEN pos = 0 THEN 0 "
    "ELSE length(array_to_string(list_slice(toks, 1, pos), ' ')) + 1 END"
)


# ---------------------------------------------------------------------------
# queries()
# ---------------------------------------------------------------------------

def q_spot_dictionary(spark, sf_dir):
    return _spots(spark, sf_dir).select("doc_id", "pos", "surface_form")


def q_prior_top1(spark, sf_dir):
    """D15/DBBaselineDisambiguator: best candidate by prior per spot."""
    s = _spots(spark, sf_dir)
    d = F.broadcast(_dict_df(spark))
    w = Window.partitionBy("doc_id", "pos").orderBy(
        F.desc("pair_count"), F.asc("uri")
    )
    return (
        s.join(d, ["surface_form"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "pos", "surface_form", "uri")
    )


def q_nif_triples(spark, sf_dir):
    """S12/NIF output: (subj, pred, obj) mention triples via the library's
    annotation_triples on prior-disambiguated spots."""
    ann = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _char_offset().alias("offset"),
        "surface_form",
        "uri",
        F.col("prior").alias("similarity_score"),
    )
    return annotation_triples(ann, doc_prefix=DOC_PREFIX)


def q_m1_uri_counts(spark, sf_dir):
    return uri_counts(_occs(spark, sf_dir))


def q_m2_sf_total_counts(spark, sf_dir):
    occ = _occs(spark, sf_dir)
    spotted = _spots(spark, sf_dir)
    return sf_and_total_counts(occ, spotted)


def q_m3_pair_counts(spark, sf_dir):
    return pair_counts(_occs(spark, sf_dir))


def q_m5_occurrences_count(spark, sf_dir):
    out = occurrences_count(_occs(spark, sf_dir))
    return out.select(
        "uri",
        "occ_count",
        F.array_join(F.col("doc_ids").cast("array<string>"), ",").alias("doc_ids"),
    )


def q_m6_cooccurrence(spark, sf_dir):
    return cooccurrence_edges(_occs(spark, sf_dir), min_count=3).withColumnRenamed(
        "count", "n_cooc"
    )


def q_graph_triangles(spark, sf_dir):
    """Per-entity triangle counts on the M6 co-occurrence graph —
    degree-ordered orientation (each triangle enumerated once from its
    lowest-(degree,id) corner; wedge multiplicity bounded O(sqrt m) even
    on celebrity nodes), then a corners explode."""
    from dbpedia_spotlight_spark.operators.graph import triangle_counts

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=3)
    return triangle_counts(edges, "src_uri", "dst_uri").select(
        F.col("node").alias("uri"), "n_triangles"
    )


def q_m7_sorted_occurrences(spark, sf_dir):
    out = sorted_occurrences(_occs(spark, sf_dir))
    return out.select("uri", F.array_join("surface_forms", ",").alias("sfs"))


def q_m8_redirect_closure(spark, sf_dir):
    r = spark.createDataFrame(REDIRECTS, "src_uri string, dst_uri string")
    return redirect_closure(r).select("src_uri", "final_uri")


def q_s13_lexicalizations(spark, sf_dir):
    """S13 score math (numeric twin of the NT output; min pair count 5)."""
    pairs = pair_counts(_occs(spark, sf_dir))
    uri_c = pairs.groupBy("uri").agg(F.sum("pair_count").alias("uri_count"))
    sf_c = pairs.groupBy("surface_form").agg(F.sum("pair_count").alias("sf_count"))
    total = pairs.agg(F.sum("pair_count").alias("total"))
    p = (
        pairs.filter(F.col("pair_count") >= 5)
        .join(uri_c, "uri")
        .join(sf_c, "surface_form")
        .crossJoin(F.broadcast(total))
    )
    pc, uc, sc, tt = (F.col(c) for c in ["pair_count", "uri_count", "sf_count", "total"])
    return p.select(
        "uri",
        "surface_form",
        F.round(pc / uc, 6).alias("sf_given_uri"),
        F.round(F.log((pc / tt) / ((uc / tt) * (sc / tt))), 6).alias("pmi"),
        F.round((pc / uc) * (uc / tt) / (sc / tt), 6).alias("uri_given_sf"),
    )


def q_spot_selectors(spark, sf_dir):
    """P13 selector chain: short-sf + non-common-word pruning of the spots."""
    from dbpedia_spotlight_spark.operators.selectors import (
        chained_selector,
        non_common_word_selector,
        short_surface_form_selector,
    )

    common = spark.createDataFrame([("table",), ("query",)], "word string")
    out = chained_selector(
        _spots(spark, sf_dir),
        [
            lambda df: short_surface_form_selector(df, min_length=5),
            lambda df: non_common_word_selector(df, common),
        ],
    )
    return out.select("doc_id", "pos", "surface_form")


def q_f8_narrow_context(spark, sf_dir):
    """F8 ContextNarrowFilter: per-occurrence ±3-token context trim."""
    from dbpedia_spotlight_spark.operators.occ_filters import narrow_context

    toks = _tok(spark, sf_dir).select(
        "doc_id",
        _char_offset().alias("offset"),
        F.col("token").alias("stem"),
    )
    occ = _occs(spark, sf_dir).filter(F.col("surface_form") == "spark").select(
        "doc_id", _char_offset().alias("offset")
    )
    return narrow_context(toks, occ, window_tokens=3)


def q_dedup_exact(spark, sf_dir):
    out = exact_duplicates(_docs(spark, sf_dir))
    return out.select(
        "text_hash",
        "n_dups",
        "keep_id",
        F.array_join(F.col("doc_ids").cast("array<string>"), ",").alias("doc_ids"),
    )


def q_dedup_prefix(spark, sf_dir):
    """Same exact-dedup operator keyed on a 40-char prefix (URL/boilerplate
    dedup flavor) — non-empty at every SF."""
    docs = _docs(spark, sf_dir).withColumn("prefix", F.substring("text", 1, 40))
    out = exact_duplicates(docs, text_col="prefix")
    return out.select(
        "text_hash",
        "n_dups",
        "keep_id",
        F.array_join(F.col("doc_ids").cast("array<string>"), ",").alias("doc_ids"),
    )


def q_text_stats(spark, sf_dir):
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_bpe_tokens"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(quality_score(t), 6).alias("quality"),
    )


def q_lang_id(spark, sf_dir):
    return _docs(spark, sf_dir).select(
        "doc_id", "lang", language_id(F.col("text")).alias("lang_pred")
    )


def q_knn_cosine(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    out = brute_force_topk(emb, q, k=10)
    return out.select(
        "query_id", "cand_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def q_interleave_roundtrip(spark, sf_dir):
    """Interleaved-span synthesis + reassembly (span-sequence invariant)."""
    docs = _docs(spark, sf_dir)
    iv = flat_to_interleaved_media(docs)
    texts = F.filter("spans", lambda s: s["kind"] == "text")
    return (
        iv.select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.size("spans").alias("n_spans"),
            F.concat_ws(",", F.transform("spans", lambda s: s["kind"])).alias("kinds"),
            F.col("spans")[0]["text"].alias("first_text"),
            F.element_at(
                F.filter("spans", lambda s: s["kind"] == "media"), 1
            )["media_ref"].alias("media_ref"),
            F.concat_ws(" ", F.transform(texts, lambda s: s["text"])).alias("_re"),
        )
        .join(docs.select("doc_id", "text"), "doc_id")
        .select(
            "doc_id", "n_spans", "kinds", "first_text", "media_ref",
            (F.col("_re") == F.col("text")).alias("ok"),
        )
    )


# ---- dedup/LSH/pipeline family (brute-force / constant-replay oracles) ----

def q_minhash_near_dups(spark, sf_dir):
    return minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.8).select(
        "a", "b", F.round("jaccard", 4).alias("jaccard")
    )


def q_ngram_jaccard_dups(spark, sf_dir):
    """Lossless prefix-filter set-similarity self-join (Bayardo/Vernica) at
    a looser threshold/shorter shingle than the minhash query, so the two
    dedup paths are exercised on different pair sets. Oracle: brute-force
    all-pairs shingle Jaccard (prefix filtering is exact, so they agree)."""
    from dbpedia_spotlight_spark.datapipe.dedup import prefix_filter_jaccard_join

    return prefix_filter_jaccard_join(
        _docs(spark, sf_dir), shingle_k=3, threshold=0.5
    ).select("a", "b", F.round("jaccard", 4).alias("jaccard"))


def _boilerplate_docs(spark, sf_dir):
    """Documents with deterministic doc_id-keyed boilerplate appended — the
    corpus is word soup with no natural repeated passages, so the span-dedup
    query injects them: every %6 doc gets tail A (10 tokens), every %8 doc
    tail B, and %24 docs get A+B contiguously (exercising island merge).
    Non-injected slots get a doc-unique token so they can't collide.
    Identical construction in the oracle SQL."""
    d = F.col("doc_id")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.when(
                d % 6 == 0,
                F.lit("the quick brown fox jumps over the lazy dog today"),
            ).otherwise(F.concat(F.lit("a"), d.cast("string"))),
            F.when(
                d % 8 == 0,
                F.lit("terms of service apply to all content on this site"),
            ).otherwise(F.concat(F.lit("b"), d.cast("string"))),
        ).alias("text"),
    )


def q_dedup_spans(spark, sf_dir):
    """Exact duplicated-substring spans (Lee et al. 2022 style, k-gram
    certificate): maximal merged token spans covered by any 5-gram that
    occurs >= 2 times corpus-wide. Span-level dedup is the family member
    whole-doc exact/minhash/simhash can't express — it finds the pasted
    boilerplate paragraph inside otherwise-unique pages. Oracle: identical
    construction over gram STRINGS (the Spark side ships only 64-bit
    rolling hashes; hash-equality == string-equality absent collisions)."""
    from dbpedia_spotlight_spark.datapipe.dedup import duplicate_spans

    out = duplicate_spans(
        _boilerplate_docs(spark, sf_dir), shingle_k=5, min_count=2
    )
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
    )


def q_dedup_spans_clean(spark, sf_dir):
    """The cut-out half of exact-substring dedup, hash-checked: documents
    with every duplicated span removed (token-joined, lowercased — the
    operator's normalization) plus the removed-token count. Oracle rebuilds
    each doc from its uncovered token positions."""
    from dbpedia_spotlight_spark.datapipe.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    docs2 = _boilerplate_docs(spark, sf_dir)
    spans = duplicate_spans(docs2, shingle_k=5, min_count=2)
    out = remove_duplicate_spans(docs2, spans)
    return out.select(
        "doc_id",
        "clean_text",
        F.col("removed_tokens").cast("long").alias("removed_tokens"),
    )


def q_simhash_buckets(spark, sf_dir):
    return simhash_buckets(_docs(spark, sf_dir))


def q_lsh_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    out = lsh_topk(emb, q, dim=64, k=10, num_planes=6, num_tables=4)
    return out.select(
        "query_id", "cand_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def q_doc_fingerprint(spark, sf_dir):
    from dbpedia_spotlight_spark.datapipe.textstats import fingerprint_agg

    return fingerprint_agg(
        _docs(spark, sf_dir).select("doc_id", "text"), out="fp"
    )


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing (emails/URLs/IPv4/phones -> typed placeholders) with
    per-category counts. The word-soup corpus has no natural PII, so the
    query injects deterministic doc_id-derived PII — including an
    email-shaped string INSIDE a URL, which must count as URL (replacement
    order is part of the contract). Identical injection in the oracle."""
    from dbpedia_spotlight_spark.datapipe.pii import pii_stats

    d = F.col("doc_id")
    s = d.cast("string")
    injected = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.concat(F.lit("contact user"), s, F.lit("@example.org")),
            ).otherwise(F.lit("no email here")),
            F.when(
                d % 4 == 0,
                F.concat(F.lit("see https://ex.org/page/"), s, F.lit("?u=a@b.io")),
            ).otherwise(F.lit("-")),
            F.when(
                d % 5 == 0,
                F.concat(F.lit("host 10.0."), (d % 200).cast("string"), F.lit(".7")),
            ).otherwise(F.lit("-")),
            F.when(
                d % 7 == 0,
                F.concat(
                    F.lit("call +1 555-01"),
                    F.lpad((d % 100).cast("string"), 2, "0"),
                ),
            ).otherwise(F.lit("-")),
        ).alias("text"),
    )
    return pii_stats(injected)


def q_repetition_stats(spark, sf_dir):
    """Gopher-style repetition quality signals (dup-word / top-word /
    dup-bigram fractions) — the standard boilerplate-and-spam gate for LLM
    training corpora."""
    from dbpedia_spotlight_spark.datapipe.textstats import repetition_stats

    out = repetition_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_words",
        F.round("dup_word_frac", 6).alias("dup_word_frac"),
        F.round("top_word_frac", 6).alias("top_word_frac"),
        F.round("dup_2gram_frac", 6).alias("dup_2gram_frac"),
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id % 97 != 0)
    sharing any 3-token shingle with the deterministic eval split
    (doc_id % 97 == 0) — eval n-gram hash set broadcast, corpus scanned
    once. Oracle counts shared shingle STRINGS (hash-set membership ==
    string-set membership absent collisions, as for ngram_jaccard)."""
    from dbpedia_spotlight_spark.datapipe.dedup import ngram_contamination

    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    tr = docs.filter(F.col("doc_id") % 97 != 0)
    return ngram_contamination(tr, ev, shingle_k=3)


def q_quality_filter(spark, sf_dir):
    """Gopher-style composite quality gate: keep/drop + the ordered list
    of failed checks per document (repetition, top-word, punctuation,
    stopword, length thresholds) — the standard explainable drop
    decision for LLM corpus filtering."""
    from dbpedia_spotlight_spark.datapipe.textstats import quality_filter

    return quality_filter(_docs(spark, sf_dir))


def q_unigram_logprob(spark, sf_dir):
    """CCNet-style quality signal: per-document mean log-probability
    under an add-one-smoothed corpus unigram LM (two-pass: build the LM,
    score docs via a pre-aggregated (doc, token, count) join)."""
    from dbpedia_spotlight_spark.datapipe.textstats import (
        unigram_doc_logprob,
        unigram_model,
    )

    docs = _docs(spark, sf_dir)
    out = unigram_doc_logprob(docs, unigram_model(docs))
    return out.select(
        "doc_id", "n_words", F.round("logprob", 6).alias("logprob")
    )


def q_doc_chunks(spark, sf_dir):
    """Per-document sliding windows (max 40 tokens, stride 30 — overlapping)
    — the long-document splitting recipe for embedding/pretraining context
    windows. Embarrassingly parallel: no shuffle, no global state, pure
    codegen explode + slice."""
    from dbpedia_spotlight_spark.datapipe.packing import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), max_tokens=40, stride=30)


def q_seq_pack(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing at 512 tokens per chunk:
    the global token stream (docs in doc_id order) cut into fixed chunks,
    one row per (chunk, contributing doc span) incl. the sliced text.
    Distributed prefix sum (range partition + partition offsets) — no
    single-partition window."""
    from dbpedia_spotlight_spark.datapipe.packing import sequence_pack

    return sequence_pack(_docs(spark, sf_dir), budget=512)


def q_stratified_sample(spark, sf_dir):
    """Deterministic domain-mixing sampler: per-source keep rates decided
    by an md5 hash bucket of doc_id (reproducible across runs/cluster
    sizes; exactly replayable in SQL)."""
    from dbpedia_spotlight_spark.datapipe.packing import stratified_sample

    out = stratified_sample(
        _docs(spark, sf_dir),
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1,
    )
    return out.select("doc_id", "source")


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): hashed unigram+bigram
    bucket LMs for a target slice (doc_id % 11 = 0) vs the raw rest,
    per-doc log-likelihood-ratio weights, deterministic Gumbel-top-100
    sampling without replacement (noise replayed from md5(doc_id))."""
    from dbpedia_spotlight_spark.datapipe.dsir import dsir_select

    docs = _docs(spark, sf_dir)
    out = dsir_select(
        docs.where(F.col("doc_id") % 11 != 0),
        docs.where(F.col("doc_id") % 11 == 0),
        k=100,
        buckets=4096,
    )
    return out.select(
        "doc_id",
        "n_grams",
        F.round("logw", 6).alias("logw"),
        F.round("key", 6).alias("key"),
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: MinHash-LSH pairs -> connected components ->
    canonical representative per cluster."""
    from dbpedia_spotlight_spark.datapipe.dedup import dedup_clusters

    return dedup_clusters(_docs(spark, sf_dir), threshold=0.8)


def q_wikilink_corpus(spark, sf_dir):
    """Eval-corpus reader: [[uri|sf]] markup synthesized deterministically
    over the documents table -> clean text + gold occurrences."""
    from dbpedia_spotlight_spark.io.corpora import (
        gold_occurrences,
        read_wikilink_corpus,
    )

    marked = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("[[Apache Spark|spark]] report: "),
            "text",
            F.lit(" via [[Paris]]"),
        ).alias("text"),
    )
    return gold_occurrences(read_wikilink_corpus(marked))


def q_m14_aux_stats(spark, sf_dir):
    """M14: topic signatures + web-prior query strings
    (ref ExtractTopicSignatures.scala:33-68, GetWebPriors.scala:53-95,
    KeywordExtractor.scala:44-75 — minus the dead Yahoo BOSS network call)."""
    from dbpedia_spotlight_spark.operators.auxstats import (
        topic_signatures,
        uri_token_counts,
        web_query_strings,
    )

    occ = _occs(spark, sf_dir)
    toks = _tok(spark, sf_dir).select("doc_id", "token")
    utc = uri_token_counts(occ, toks)
    sig = topic_signatures(utc, stopwords=_EN_STOP, n_keywords=3)
    wq = web_query_strings(utc, stopwords=_EN_STOP, n_keywords=3).select(
        "uri", "must", "query"
    )
    return sig.join(wq, "uri").select("uri", "keywords", "must", "query")


def q_wiki_dump_source(spark, sf_dir):
    """S1 full: synthesize an XML dump page per document (markup, templates,
    refs, a see-also section), then run the dump parser — strip, paragraph
    split, anchor harvest with clean-text offsets. The synthesis is
    deterministic, so the oracle computes the expected occurrences directly
    from the documents table."""
    from dbpedia_spotlight_spark.io.corpora import gold_occurrences
    from dbpedia_spotlight_spark.io.wikidump import dump_corpus

    xml = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("<page><title>Doc "),
            F.col("doc_id").cast("string"),
            F.lit(
                "</title><ns>0</ns><revision><text>"
                "'''Intro''' __NOTOC__ {{Infobox|a=b}}\n\n"
            ),
            F.col("text"),
            F.lit(
                " has<ref>c</ref> [[Apache Spark|spark]] and"
                " [[The Paris (city)]]\n\n"
                "== See also ==\n* [[Other]]\n\n</text></revision></page>"
            ),
        ).alias("value")
    )
    return gold_occurrences(dump_corpus(xml))


def q_f_filter_chain(spark, sf_dir):
    """F1+F2+F3 on the flagship prior twin: confidence (sim threshold),
    second-rank, and support filters (ref AnnotationFilter.scala:71-87)."""
    from dbpedia_spotlight_spark.operators.filters import (
        confidence_filter,
        second_rank_filter,
        support_filter,
    )

    ann = q_annotate_prior(spark, sf_dir)
    # thresholds chosen to actually discriminate on this corpus: the F1 sim
    # threshold keeps its REST semantics (0.2 at confidence=0.5); support
    # and a raw similarity cut split the sf0.01 distribution (~287..631 and
    # ~0.993..0.998) roughly at their medians
    out = support_filter(
        second_rank_filter(confidence_filter(ann, confidence=0.5), 0.5),
        support=312,
    ).filter(F.col("similarity_score") >= 0.9937)
    return out.select("doc_id", "offset", "surface_form", "uri", "support")


def q_m9_resolve(spark, sf_dir):
    """M8+M9 applied to link targets: redirect-closure canonicalization +
    disambiguation-page exclusion (ref WikipediaToDBpediaClosure.scala:
    72-103). Some occurrence targets are rewritten onto redirect chains;
    'A' resolves through B->C->D and D is a disambiguation page, so those
    rows drop."""
    from dbpedia_spotlight_spark.operators.closure import (
        redirect_closure,
        resolve_uris,
    )

    occ = _occs(spark, sf_dir).withColumn(
        "uri",
        F.when(F.col("pos") % 7 == 0, F.lit("A"))
        .when(F.col("pos") % 5 == 0, F.lit("Old_Spark"))
        .otherwise(F.col("uri")),
    )
    redirects = spark.createDataFrame(REDIRECTS, "src_uri string, dst_uri string")
    disamb = spark.createDataFrame([("D",)], "uri string")
    out = resolve_uris(occ, redirect_closure(redirects), "uri", disamb)
    return out.select("doc_id", "pos", "surface_form", "uri")


def _with_ordinals(tokens: DataFrame, spots: DataFrame) -> tuple:
    """The analysis UDFs' `ordinal` column for injected tables: a token's
    rank by offset within its document, and a spot takes the ordinal of
    the token at its own offset (every injected spot sits on a token)."""
    w = Window.partitionBy("doc_id").orderBy("offset")
    tokens = tokens.withColumn("ordinal", (F.row_number().over(w) - 1).cast("int"))
    spots = spots.join(tokens.select("doc_id", "offset", "ordinal"), ["doc_id", "offset"])
    return tokens, spots


def q_d2_windows(spark, sf_dir):
    """D2 context windowing: token-ordinal windows of 10, every spot in
    the window of the last token at or before its offset
    (operators/disambiguate.py:context_window; ref
    DBTwoStepDisambiguator.scala:89-119, MAX_CONTEXT)."""
    from dbpedia_spotlight_spark.operators.disambiguate import context_window

    tokens = _tok(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _char_offset().cast("int").alias("offset"),
    )
    spots = _spots(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _char_offset().cast("int").alias("offset"),
        "surface_form",
    )
    _tk, spots = _with_ordinals(tokens, spots)
    return spots.select(
        "doc_id",
        "offset",
        "surface_form",
        F.concat_ws("#", "doc_id", context_window(10)).alias("ctx_id"),
    )


def q_c1_candidates(spark, sf_dir):
    """C1+C2: surface-form resolution with the normalized fallback (spots at
    pos%4==0 are uppercased -> exact miss -> normalized-key hit, keeping the
    original spot string; ref MemorySurfaceFormStore.scala:40-41,105-116)
    and the pruned candidate join."""
    from dbpedia_spotlight_spark.operators.candidates import generate_candidates
    from dbpedia_spotlight_spark.operators.modelbuild import (
        build_model_from_occurrences,
    )
    from dbpedia_spotlight_spark.operators.tokenizer import tokenize_documents

    docs = _docs(spark, sf_dir)
    iv = flat_to_interleaved_media(docs)
    occ = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "surface_form", "uri"
    )
    model = build_model_from_occurrences(iv, occ, tokenize_documents(iv))
    spots = _spots(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_pos"),
        F.col("pos").cast("int").alias("offset"),
        F.when(
            F.col("pos") % 4 == 0, F.upper(F.col("surface_form"))
        ).otherwise(F.col("surface_form")).alias("surface_form"),
    )
    out = generate_candidates(spots, model.surface_forms, model.candidates)
    return out.select(
        "doc_id",
        F.col("offset").alias("pos"),
        "surface_form",
        "sf_id",
        "res_id",
        "pair_count",
    )


def q_d6_tficf(spark, sf_dir):
    """D6 TF-ICF scoring (the legacy Lucene-stack similarity,
    ref TFICFSimilarity.scala:25-97) over an unstemmed relational twin of
    the model's context vectors — every stage mirrored in SQL."""
    from dbpedia_spotlight_spark.operators.disambiguate import (
        build_query_vectors,
        tficf_scores,
    )
    from dbpedia_spotlight_spark.operators.modelbuild import (
        build_model_from_occurrences,
    )

    docs = _docs(spark, sf_dir)
    iv = flat_to_interleaved_media(docs)
    occ = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "surface_form", "uri"
    )
    tokens = _tok(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("token").alias("stem"),
        F.lit(False).alias("is_stopword"),
    )
    model = build_model_from_occurrences(iv, occ, tokens)
    query = build_query_vectors(tokens.withColumn("window_id", F.lit(0)), model)
    spots = _spots(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "surface_form"
    )
    cand_pairs = (
        spots.join(
            model.surface_forms.select("surface_form", "sf_id"), "surface_form"
        )
        .join(model.candidates.select("sf_id", "res_id"), "sf_id")
        .select("doc_id", F.lit(0).alias("window_id"), "res_id")
        .distinct()
    )
    out = tficf_scores(query, cand_pairs, model)
    return out.select(
        "doc_id", "res_id", F.round("tficf", 6).alias("tficf")
    )


def q_s7_token_bags(spark, sf_dir):
    """S7 TokenOccurrenceSource: Pig-bag strings `{(t,c),...}` synthesized
    deterministically per document, then parsed back by the no-UDF bag
    parser (twin: PigTokenOccurrenceParser.scala) — round trip checked
    against the direct relational derivation."""
    from dbpedia_spotlight_spark.io.sources import parse_token_bags

    t5 = _tok(spark, sf_dir).filter(F.col("pos") < 5)
    bags = (
        t5.groupBy("doc_id")
        .agg(
            F.concat(
                F.lit("{"),
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "token"))
                        ),
                        lambda s: F.concat(
                            F.lit("("),
                            s["token"],
                            F.lit(","),
                            (s["pos"] + 1).cast("string"),
                            F.lit(")"),
                        ),
                    ),
                    ",",
                ),
                F.lit("}"),
            ).alias("bag")
        )
        .select(
            F.concat(F.lit("doc"), F.col("doc_id").cast("string")).alias("uri"),
            "bag",
        )
    )
    return parse_token_bags(bags)


def q_d9_mixtures(spark, sf_dir):
    """D9 score mixtures (LinearRegression / Fader / Fader2 / OnlySimScore,
    ref disambiguate/mixtures/*.scala) over prior P(e|s) and the TF-ICF
    context score — pure column formulas, fully mirrored in SQL."""
    from dbpedia_spotlight_spark.operators.mixtures import (
        fader2_mixture,
        fader_mixture,
        linear_regression_mixture,
        only_sim_score_mixture,
    )

    tficf = q_d6_tficf(spark, sf_dir)  # (doc_id, res_id, tficf)
    d = F.broadcast(_dict_df(spark))
    occ = _occs(spark, sf_dir)
    # prior P(e|s) from the micro-world counts; candidate rows per (doc, sf, res)
    annot = occ.groupBy("surface_form").agg(F.count("*").alias("annot"))
    pair = occ.groupBy("surface_form", "uri").agg(F.count("*").alias("pc"))
    res_ids = (
        occ.select("uri")
        .distinct()
        .withColumn(
            "res_id",
            (F.row_number().over(Window.orderBy("uri")) - 1).cast("int"),
        )
    )
    spots = _spots(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "surface_form"
    ).distinct()
    rows = (
        spots.join(pair, "surface_form")
        .join(annot, "surface_form")
        .join(res_ids, "uri")
        .join(tficf, ["doc_id", "res_id"])
        .withColumn("prior", F.col("pc") / F.col("annot"))
    )
    pr, cs = F.col("prior"), F.col("tficf")
    return rows.select(
        "doc_id",
        "res_id",
        "surface_form",
        F.round(linear_regression_mixture(pr, cs), 6).alias("lr"),
        F.round(fader2_mixture(cs, pr, 0.7, 10.0), 6).alias("fader2"),
        F.round(fader_mixture(cs, pr, 0.7, 10.0, 5), 6).alias("fader"),
        F.round(only_sim_score_mixture(cs), 6).alias("sim_only"),
    )


def q_d16_pagerank(spark, sf_dir):
    """D16 collective disambiguation core: per-document referent graph
    (entity co-occurrence arcs + sf->candidate arcs) + weighted personalized
    PageRank, 3 power iterations (ref GraphBasedDisambiguator.scala:140-180,
    WeightedPageRankPowerMethod.java) — the full iteration unrolled in the
    SQL twin."""
    from dbpedia_spotlight_spark.operators.graph import (
        referent_graph_arcs,
        resource_edges,
        weighted_personalized_pagerank,
    )
    from dbpedia_spotlight_spark.operators.modelbuild import cooccurrence_edges

    occ = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "pos",
        "surface_form",
        "uri",
    )
    res_ids = (
        occ.select("uri")
        .distinct()
        .withColumn(
            "res_id",
            (F.row_number().over(Window.orderBy("uri")) - 1).cast("int"),
        )
    )
    cooc = cooccurrence_edges(occ, min_count=3)
    edges = resource_edges(cooc, res_ids.select("res_id", "uri"))
    d = F.broadcast(_dict_df(spark))
    spot_cands = (
        _spots(spark, sf_dir)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit(0).alias("span_pos"),
            F.col("pos").cast("int").alias("offset"),
            "surface_form",
        )
        .join(d.select("surface_form", "uri", "prior"), "surface_form")
        .join(res_ids, "uri")
        .select(
            "doc_id", "span_pos", "offset", "res_id",
            F.col("prior").cast("double").alias("contextual_score"),
        )
    )
    arcs = referent_graph_arcs(spot_cands, edges)
    sf_node = F.concat_ws(":", F.lit("s"), F.col("span_pos"), F.col("offset"))
    sf_nodes = spot_cands.select("doc_id", sf_node.alias("node")).distinct()
    n_sf = sf_nodes.groupBy("doc_id").agg(F.count("*").alias("_n"))
    preference = sf_nodes.join(n_sf, "doc_id").select(
        "doc_id", "node", (F.lit(1.0) / F.col("_n")).alias("pref")
    )
    ranks = weighted_personalized_pagerank(arcs, preference, iterations=3)
    return ranks.select("doc_id", "node", F.round("rank", 6).alias("rank"))


def q_graph_centrality(spark, sf_dir):
    """jung-module topical-centrality rescoring
    (GraphCentralityDisambiguator.scala:96-168): per doc the top-prior
    candidate is the topical center; every candidate is rescored by its
    1-hop common-neighbor count with the center in the co-occurrence
    graph. Same micro-world as d16_pagerank."""
    from dbpedia_spotlight_spark.operators.graph import (
        centrality_rescore,
        resource_edges,
    )
    from dbpedia_spotlight_spark.operators.modelbuild import cooccurrence_edges

    occ = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "pos",
        "surface_form",
        "uri",
    )
    res_ids = (
        occ.select("uri")
        .distinct()
        .withColumn(
            "res_id",
            (F.row_number().over(Window.orderBy("uri")) - 1).cast("int"),
        )
    )
    cooc = cooccurrence_edges(occ, min_count=3)
    edges = resource_edges(cooc, res_ids.select("res_id", "uri"))
    d = F.broadcast(_dict_df(spark))
    spot_cands = (
        _spots(spark, sf_dir)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit(0).alias("span_pos"),
            F.col("pos").cast("int").alias("offset"),
            "surface_form",
        )
        .join(d.select("surface_form", "uri", "prior"), "surface_form")
        .join(res_ids, "uri")
        .select(
            "doc_id", "span_pos", "offset", "res_id",
            F.col("prior").cast("double").alias("contextual_score"),
        )
    )
    out = centrality_rescore(spot_cands, edges)
    return out.select(
        "doc_id",
        "offset",
        "res_id",
        "central_res",
        F.col("common_nbrs").cast("long").alias("common_nbrs"),
        "rank",
    )


def q_eval_linking(spark, sf_dir):
    """North-rule evidence: triple-level linking P/R (pipeline/evaluate.py
    linking_metrics_df) of the prior-disambiguation flagship twin against
    the micro-world gold — the metric computation itself is oracle-checked
    (ref EvaluateParagraphDisambiguator.scala:93-101)."""
    from dbpedia_spotlight_spark.pipeline.evaluate import linking_metrics_df

    pred = q_annotate_prior(spark, sf_dir)
    gold = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _char_offset().cast("int").alias("offset"),
        "surface_form",
        "uri",
    )
    return linking_metrics_df(pred, gold)


def q_annotate_e2e(spark, sf_dir):
    """Full north-star DAG: interleave -> model build -> FSA spot -> candidate
    join -> generative disambiguation -> annotations. Array columns are
    serialized (array_join) and floats rounded so the driver's pandas
    canonicalization can sort/hash the result."""
    docs = _docs(spark, sf_dir)
    iv = flat_to_interleaved_media(docs)
    occ = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "surface_form", "uri"
    )
    # Note: measured at sf0.1, caching tokens/model dims here is a net LOSS
    # (~14s vs ~10s) — the materialization barrier costs more than the
    # recompute of these small subtrees. Caching pays only when the model is
    # reused across jobs (bench.py scaling run does exactly that).
    # r5: runs at the library default, now the reference's windowed mode
    # (max_context_tokens=250, DBTwoStepDisambiguator.scala:72).
    tokens = tokenize_documents(iv)
    model = build_model_from_occurrences(iv, occ, tokens)
    ann = annotate(iv, model, use_context=True)
    return ann.select(
        "doc_id",
        "span_pos",
        "offset",
        "surface_form",
        "uri",
        F.round("similarity_score", 6).alias("similarity_score"),
        F.round("percentage_second_rank", 6).alias("percentage_second_rank"),
        F.round("contextual_score", 6).alias("contextual_score"),
        F.array_join(F.col("types").cast("array<string>"), ",").alias("types"),
        "res_id",
        "support",
        "rank",
    )


def q_annotate_prior(spark, sf_dir):
    """Flagship relational twin with a full oracle: the library annotate()
    path (candidate join -> prior scoring -> NIL filter -> rank -> softmax ->
    best) driven by injected micro-world spots, use_context=False — every
    stage is ANSI-SQL-expressible, so the disambiguation core is hash-checked
    end to end (ref DBTwoStepDisambiguator.scala:120-246, contextStore==null
    branch :161-164)."""
    docs = _docs(spark, sf_dir)
    iv = flat_to_interleaved_media(docs)
    occ = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "surface_form", "uri"
    )
    tokens = tokenize_documents(iv)
    model = build_model_from_occurrences(iv, occ, tokens)
    spots = _spots(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_pos"),
        _char_offset().cast("int").alias("offset"),
        "surface_form",
        F.lit(1.0).alias("spot_prob"),
        F.lit("m").alias("spot_type"),
        F.array().cast("array<string>").alias("token_stems"),
    )
    ann = annotate(iv, model, use_context=False, spots=spots)
    return ann.select(
        "doc_id",
        "span_pos",
        "offset",
        "surface_form",
        "uri",
        F.round("similarity_score", 6).alias("similarity_score"),
        F.round("percentage_second_rank", 6).alias("percentage_second_rank"),
        F.round("contextual_score", 6).alias("contextual_score"),
        "res_id",
        "support",
        "rank",
    )


def q_events_windowed(spark, sf_dir):
    """Event-time tumbling-window counts + top-3 per window — the batch
    twin of the watermarked streaming aggregation (streaming/trending.py;
    the watermark is a no-op on batch, so this checks the exact same
    plan). Window starts align to the hour in both engines."""
    from dbpedia_spotlight_spark.streaming.trending import (
        top_trending,
        trending_counts,
    )

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    counts = trending_counts(ev, ts_col="ts", key_col="event_type")
    return top_trending(counts, k=3).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
        "event_type",
        "n",
        "rank",
    )


def q_sessionize(spark, sf_dir):
    """Gap-based per-user sessionization (session_window, 30-minute gap):
    the batch twin of the stateful streaming session operator — events of
    one user closer than the gap merge; session end = last event + gap.
    Times returned as unix microseconds (timezone-independent)."""
    from dbpedia_spotlight_spark.streaming.sessions import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = sessionize(ev, gap="30 minutes")
    return out.select(
        "user_id",
        "session_start_us",
        "session_end_us",
        "n_events",
        F.round("total_value", 6).alias("total_value"),
    )


def q_events_props(spark, sf_dir):
    """JSON path extraction + grouped aggregation over the events table's
    props column (get_json_object stays JVM-side; Jackson parse per row,
    no Python). Typed extraction -> bucket -> count/sum/max."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"), "value")
        .groupBy("event_type", F.pmod(F.col("k"), F.lit(10)).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.max("k").alias("max_k"),
        )
    )


def q_docs_rollup(spark, sf_dir):
    """OLAP rollup over documents: (source, lang) hierarchy with subtotal
    and grand-total rows (native ROLLUP — one pass, map-side partial agg
    per grouping set). NULL group keys of aggregated-out levels rendered
    as '<all>' so the sentinel is engine-neutral."""
    docs = _docs(spark, sf_dir)
    return (
        docs.rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        )
        .select(
            F.coalesce("source", F.lit("<all>")).alias("source"),
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            "n_docs",
            "avg_chars",
        )
    )


def q_events_pivot(spark, sf_dir):
    """Pivot: one row per user, one count column per event type (explicit
    value list so the schema is static — the scale-safe form: a pivot
    with an unbounded inferred value list needs a driver-side distinct
    first). Missing combinations are 0, not null."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
    )
    return out.select(
        "user_id", *[F.col(t).alias(f"n_{t}") for t in types]
    )


def q_session_events(spark, sf_dir):
    """Range (interval-containment) join: every event matched back into
    its user's session interval via bin bucketing (operators/ranges.py —
    equi-join on (user, bin), exact containment filter; no per-key cross
    product), then counted per session. The oracle recomputes sessions
    independently (gaps-and-islands) and joins with a plain BETWEEN."""
    from dbpedia_spotlight_spark.operators.ranges import (
        point_in_interval_join,
    )
    from dbpedia_spotlight_spark.streaming.sessions import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sessions = sessionize(ev, gap="30 minutes").select(
        "user_id", "session_start_us", "session_end_us"
    )
    pts = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    matched = point_in_interval_join(
        pts,
        sessions,
        on="user_id",
        ts_col="ts_us",
        lo_col="session_start_us",
        hi_col="session_end_us",
        bin_width=1_800_000_000,  # 30 min in microseconds
    )
    return matched.groupBy("user_id", "session_start_us").agg(
        F.count("*").alias("n_points")
    )


def q_length_quantiles(spark, sf_dir):
    """Exact continuous percentiles of document length per source
    (percentile == DuckDB quantile_cont, both R-7 linear interpolation).
    Exact quantiles shuffle every value of a group to one reducer — fine
    per-source; at 100 TB the same API swaps to approx_percentile
    (KLL-sketch, mergeable map-side) when ±ε is acceptable."""
    docs = _docs(spark, sf_dir)
    pct = lambda q: F.expr(f"percentile(n_chars, {q})")  # noqa: E731
    return docs.groupBy("source").agg(
        F.round(pct(0.5), 6).alias("p50"),
        F.round(pct(0.9), 6).alias("p90"),
        F.round(pct(0.99), 6).alias("p99"),
    )


def q_event_value_stats(spark, sf_dir):
    """Moment aggregates per event type: sample stddev/variance and the
    value↔json-k Pearson correlation — all single-pass mergeable
    aggregates (map-side partial moments)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("double")
    return (
        ev.select("event_type", F.col("value"), k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.stddev_samp("value"), 6).alias("sd_value"),
            F.round(F.var_samp("value"), 6).alias("var_value"),
            F.round(F.corr("value", "k"), 6).alias("corr_vk"),
        )
    )


def q_daily_dense(spark, sf_dir):
    """Time-series densification: per-user daily event counts with
    missing days filled as 0 over each user's own active range —
    date spine via sequence() + explode, left join back (the spine is
    generated, never shuffled; one join keyed (user, day))."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("d")
    ).agg(F.count("*").alias("n"))
    rng = daily.groupBy("user_id").agg(
        F.min("d").alias("lo"), F.max("d").alias("hi")
    )
    spine = rng.select(
        "user_id",
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("d"),
    )
    return (
        spine.join(daily, ["user_id", "d"], "left")
        .na.fill(0, ["n"])
        .select(
            "user_id", F.date_format("d", "yyyy-MM-dd").alias("day"), "n"
        )
    )


def q_fuzzy_words(spark, sf_dir):
    """Fuzzy matching with blocking — the entity-resolution primitive:
    top-100 corpus words, candidate pairs blocked on (first char,
    length within ±1) so the quadratic edit-distance verify runs only
    inside blocks, then levenshtein <= 3. At 100 TB the block key is the
    shuffle key; no all-pairs comparison ever materializes."""
    from pyspark.sql import Window

    from dbpedia_spotlight_spark.datapipe.textstats import words_col

    docs = _docs(spark, sf_dir)
    counts = (
        docs.select(F.explode(words_col(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("word"))
    top = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 100)
        .select("word", F.substring("word", 1, 1).alias("blk"))
    )
    a, b = top.alias("a"), top.alias("b")
    pairs = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.word") < F.col("b.word"))
        & (
            F.abs(F.length("a.word") - F.length("b.word")) <= 1
        ),
    )
    return pairs.select(
        F.col("a.word").alias("w1"),
        F.col("b.word").alias("w2"),
        F.levenshtein("a.word", "b.word").alias("dist"),
    ).where(F.col("dist") <= 3)


def q_tpch_priority(spark, sf_dir):
    """TPC-H Q4-style order-priority check: orders with at least one
    late-shipped line item (EXISTS == left-semi join, the no-row-
    amplification form), counted per priority within a quarter."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-04-01"))
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    late = orders.join(
        li,
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


def q_events_join_within(spark, sf_dir):
    """Batch twin of the stream-stream event-time join: every purchase
    paired with the same user's clicks in the preceding 30 minutes
    (inclusive both ends). Streaming-side this exact plan is stateful
    with watermark-bounded buffers (streaming/joins.py)."""
    from dbpedia_spotlight_spark.streaming.joins import join_within

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    out = join_within(
        ev.where(F.col("event_type") == "purchase").select(
            "user_id", "ts", "event_id"
        ),
        ev.where(F.col("event_type") == "click").select(
            "user_id", "ts", "event_id"
        ),
        within="30 minutes",
    )
    return out.select(
        F.col("l_key").alias("user_id"),
        F.col("l_event_id").alias("purchase_id"),
        F.col("r_event_id").alias("click_id"),
        (us("l_ts") - us("r_ts")).alias("gap_us"),
    )


def q_embedding_pool(spark, sf_dir):
    """Mean-pool embeddings per label (centroid computation — the
    building block behind SemDeDup/IVF training and chunk→document
    pooling). Scale-correct form: posexplode to (group, dim, value) so
    the average is a plain map-side-combined groupBy — never a
    collect_list of whole vectors; emitted exploded as (label, pos, v)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    return ex.groupBy("label", "pos").agg(
        F.round(F.avg("v"), 6).alias("v"),
        F.count("*").alias("n_vecs"),
    )


def q_tpch_pricing(spark, sf_dir):
    """TPC-H Q1-style pricing summary over lineitem, issued through the
    spark.sql endpoint (temp view -> SQL text -> the same Catalyst plan
    as the DataFrame API): one scan with the shipdate filter pushed to
    parquet, map-side partial aggregation on the 4-group key."""
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").createOrReplaceTempView(
        "v_lineitem"
    )
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(l_quantity), 6) AS sum_qty,
               round(sum(l_extendedprice), 6) AS sum_base_price,
               round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
               round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6)
                 AS sum_charge,
               round(avg(l_quantity), 6) AS avg_qty,
               round(avg(l_discount), 6) AS avg_disc,
               count(*) AS count_order
        FROM v_lineitem
        WHERE l_shipdate <= timestamp'2000-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        """
    )


def q_tpch_revenue(spark, sf_dir):
    """TPC-H Q5-style revenue per nation: lineitem ⋈ orders ⋈ customer ⋈
    nation with a one-year order-date window. The fact-side joins hash
    on the fact keys; nation is a broadcast dim; revenue aggregates with
    map-side combine."""
    for t in ("lineitem", "orders", "customer", "nation"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(
            f"v_{t}"
        )
    return spark.sql(
        """
        SELECT n.n_name,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
               count(*) AS n_items
        FROM v_lineitem l
        JOIN v_orders o ON l.l_orderkey = o.o_orderkey
        JOIN v_customer c ON o.o_custkey = c.c_custkey
        JOIN v_nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderdate >= timestamp'1997-01-01 00:00:00'
          AND o.o_orderdate < timestamp'1998-01-01 00:00:00'
        GROUP BY n.n_name
        """
    )


def q_dtw_series(spark, sf_dir):
    """Per-user DTW distance between the click and view value curves —
    groupBy().cogroup().applyInPandas with a numpy DP (one co-partitioned
    shuffle per side; the O(n·m) alignment lattice has no SQL form, so
    this is a rows-only query; the DP is pinned against a pure-Python
    reference in tests/test_cogroup_ops.py)."""
    from dbpedia_spotlight_spark.operators.cogroup_ops import cogrouped_dtw

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cogrouped_dtw(
        ev.where(F.col("event_type") == "click"),
        ev.where(F.col("event_type") == "view"),
        band=32,
    )


def q_ccnet_buckets(spark, sf_dir):
    """CCNet-style perplexity bucketing: per-language tercile thresholds
    of the unigram-LM document score split the corpus into head / middle
    / tail quality buckets (head = highest logprob). Thresholds are a
    tiny per-lang dim (broadcast back); comparisons run on 6-dp-rounded
    values in BOTH engines so the bucket decision is bit-stable."""
    from dbpedia_spotlight_spark.datapipe.textstats import (
        unigram_doc_logprob,
        unigram_model,
    )

    docs = _docs(spark, sf_dir)
    lp = unigram_doc_logprob(docs, unigram_model(docs)).select(
        "doc_id", F.round("logprob", 6).alias("lp")
    )
    j = docs.select("doc_id", "lang").join(lp, "doc_id")
    th = j.groupBy("lang").agg(
        F.round(F.expr("percentile(lp, 1.0/3.0)"), 6).alias("t1"),
        F.round(F.expr("percentile(lp, 2.0/3.0)"), 6).alias("t2"),
    )
    bucket = (
        F.when(F.col("lp") <= F.col("t1"), F.lit("tail"))
        .when(F.col("lp") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("head"))
    )
    return j.join(F.broadcast(th), "lang").select(
        "doc_id", "lang", "lp", bucket.alias("bucket")
    )


def q_vocab_setops(spark, sf_dir):
    """Relational set operations over per-source bigram vocabularies:
    bigrams in BOTH src0 and src1 but NOT src2 (INTERSECT / EXCEPT
    distinct semantics — hash-aggregate + shuffle on the gram key;
    bigrams rather than words so the result set is non-trivial on the
    shared synthetic word pool)."""
    from dbpedia_spotlight_spark.datapipe.textstats import words_col

    docs = _docs(spark, sf_dir)

    def vocab(src):
        ex = (
            docs.where(F.col("source") == src)
            .select(words_col(F.col("text")).alias("ws"))
            .select("ws", F.posexplode("ws").alias("pos", "tok"))
        )
        return (
            ex.where(F.col("pos") < F.size("ws") - 1)
            .select(
                F.concat_ws(" ", F.col("tok"), F.expr("ws[pos + 1]")).alias(
                    "gram"
                )
            )
            .distinct()
        )

    return vocab("src0").intersect(vocab("src1")).subtract(vocab("src2"))


def q_zorder_keys(spark, sf_dir):
    """Morton (Z-order) layout keys over (user_id, json k) — the
    interleaved-bit clustering key used for two-dimensional min/max data
    skipping; pure shift/and/or codegen, identical integer SQL in the
    oracle."""
    from dbpedia_spotlight_spark.functions.zorder import zorder_key

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.select(
        "event_id",
        zorder_key(F.col("user_id"), k, bits=16).alias("zkey"),
    )


def q_dedup_incremental(spark, sf_dir):
    """Ingest-time dedup of a new batch against a base-corpus hash index
    (base copies canonical, then min-id within the batch). The batch is
    synthesized deterministically: the doc_id%4==0 slice plus injected
    base duplicates (+1e6 ids, texts from the base slice) and injected
    batch-internal duplicates (+2e6 ids, texts already in the batch)."""
    from dbpedia_spotlight_spark.datapipe.dedup import (
        exact_hash_index,
        incremental_exact_dedup,
    )

    docs = _docs(spark, sf_dir)
    base = docs.where(F.col("doc_id") % 4 != 0)
    new = (
        docs.where(F.col("doc_id") % 4 == 0)
        .select("doc_id", "text")
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 1).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
            )
        )
        .unionByName(
            docs.where(F.col("doc_id") % 20 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
            )
        )
    )
    return incremental_exact_dedup(new, exact_hash_index(base))


def q_event_deltas(spark, sf_dir):
    """Analytic window functions per user ordered by event time: lag
    delta, running sum, quartile bucket (one shuffle on user_id, one
    per-key sort shared by all three frames)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
        F.round(F.sum("value").over(run), 6).alias("running"),
        F.ntile(4).over(w).alias("quartile"),
    )


def q_events_asof(spark, sf_dir):
    """Point-in-time (as-of) join: each purchase event matched to the
    user's most recent at-or-before click. Spark has no ASOF JOIN — ours
    is the union-and-fill composition (one shuffle + per-key sort, merge
    join cost, no row amplification); the oracle is DuckDB's native
    ASOF LEFT JOIN."""
    from dbpedia_spotlight_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(left, right, on="user_id", ts_col="ts")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return out.select(
        "event_id",
        "user_id",
        us("ts").alias("ts_us"),
        us("r_ts").alias("click_ts_us"),
        F.round("r_click_value", 6).alias("click_value"),
    )


def q_ivf_topk(spark, sf_dir):
    """IVF approximate top-k: fixed seeded-gaussian coarse quantizer (16
    cells — replayed into the oracle as constants, same move as the LSH
    plane replay; the k-means-trained quantizer path is exercised by
    pytest since oracle SQL must be data-independent), nprobe=4, exact
    cosine re-rank."""
    import numpy as _np

    from dbpedia_spotlight_spark.datapipe.similarity import ivf_topk

    cents = _np.random.RandomState(7).normal(size=(16, 64))
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5)
    out = ivf_topk(emb, q, cents, k=10, nprobe=4)
    return out.select(
        "query_id", "cand_id", F.round("cosine", 4).alias("cosine"), "rank"
    )


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs over the embeddings table:
    hyperplane-LSH buckets (4 tables x 6 planes, plane constants replayed
    into the oracle), bare-id pair dedupe, vectors joined once, exact
    numpy-cosine verify at 0.3."""
    from dbpedia_spotlight_spark.datapipe.dedup import embedding_near_duplicates

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_near_duplicates(
        emb, dim=64, threshold=0.3, num_planes=6, num_tables=4
    )
    return out.select("a", "b", F.round("cosine", 4).alias("cosine"))


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023): fixed unit-norm random quantizer
    (16 cells — with unit-norm centroids the L2 argmin is exactly the
    max-dot/spherical assignment, so directions split the corpus evenly;
    constants replayed into the oracle), intra-cluster cosine >= 0.35 to a
    lower-id cluster-mate marks a semantic duplicate. The k-means-trained
    quantizer path is exercised by pytest (oracle SQL must be
    data-independent)."""
    import numpy as _np

    from dbpedia_spotlight_spark.datapipe.dedup import semantic_dedup

    cents = _np.random.RandomState(7).normal(size=(16, 64))
    cents = cents / _np.linalg.norm(cents, axis=1, keepdims=True)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return semantic_dedup(emb, cents, threshold=0.35)


def q_simhash_pairs(spark, sf_dir):
    """SimHash near-dup candidate pairs: any shared 16-bit chunk
    (pigeonhole: covers Hamming < 4) + exact Hamming distance, codegen
    popcount. Cap can't trigger at sf<=0.01 corpus sizes (buckets are
    birthday-sparse over 2^16 values), so the uncapped oracle is exact."""
    from dbpedia_spotlight_spark.datapipe.dedup import simhash_candidate_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    return simhash_candidate_pairs(simhash_buckets(docs))


def q_m4_token_counts(spark, sf_dir):
    """M4 direct oracle: per-URI context token bags (token_counts.pig
    semantics — a link's context is its document's token bag, counted once
    per distinct link target). Injected plain tokenization so the stemmer
    stays out of the oracle surface (the stemmer has its own ref-fixture
    parity tests)."""
    from dbpedia_spotlight_spark.operators.modelbuild import token_counts

    occ = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "surface_form", "uri"
    )
    tokens = _tok(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("token").alias("stem"),
        F.lit(False).alias("is_stopword"),
    )
    return token_counts(tokens, occ).select("uri", "stem", "count")


def q_m10_concepts(spark, sf_dir):
    """M10 direct oracle: the candidate-map extraction inside
    build_model_from_occurrences — dense sf/res id assignment + the
    pair-count fact table joined back to both dims (ref
    ExtractCandidateMap set ops; closure/exclusion set ops are separately
    green via m8/m9)."""
    occ = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "surface_form", "uri"
    )
    tokens = _tok(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.col("token").alias("stem"),
        F.lit(False).alias("is_stopword"),
    )
    docs = _docs(spark, sf_dir)
    model = build_model_from_occurrences(
        flat_to_interleaved_media(docs), occ, tokens
    )
    return (
        model.candidates.join(
            model.surface_forms.select("sf_id", "surface_form"), "sf_id"
        )
        .join(model.resources.select("res_id", "uri", "support"), "res_id")
        .select("sf_id", "surface_form", "res_id", "uri", "pair_count", "support")
    )


def q_d3_generative(spark, sf_dir):
    """D3-D5 hash-checked: the generative context-scoring path (query
    vectors -> present-pair context scores -> NIL context + NIL spot scores
    -> UnweightedMixture -> best_k with k=2, exercising top-k,
    percentageOfSecondRank AND the candidate∪NIL softmax over real context
    scores). Same library code path as the flagship (use_context=True,
    operators/disambiguate.py:95-173) — only the tokenizer is replaced by
    an injected plain whitespace tokenization so every stage (including the
    model's token_types/context_counts build) is ANSI-SQL-expressible.
    Ref GenerativeContextSimilarity.scala:26-78,
    DBTwoStepDisambiguator.scala:120-246."""
    docs = _docs(spark, sf_dir)
    iv = flat_to_interleaved_media(docs)
    occ = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "surface_form", "uri"
    )
    tokens = _tok(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _char_offset().cast("int").alias("offset"),
        F.col("token").alias("stem"),
        F.lit(False).alias("is_stopword"),
    )
    model = build_model_from_occurrences(iv, occ, tokens)
    spots = _spots(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_pos"),
        _char_offset().cast("int").alias("offset"),
        "surface_form",
        F.lit(1.0).alias("spot_prob"),
        F.lit("m").alias("spot_type"),
        F.array(F.col("surface_form")).alias("token_stems"),
    )
    # Whole-document scoring pinned explicitly (max_context_tokens=None):
    # this oracle's CTE chain models one context vector per document; the
    # library default is the reference's windowed mode (250).
    tokens, spots = _with_ordinals(tokens, spots)
    ann = annotate(
        iv, model, use_context=True, spots=spots, tokens=tokens, k=2,
        max_context_tokens=None,
    )
    return ann.select(
        "doc_id",
        "span_pos",
        "offset",
        "surface_form",
        "uri",
        F.round("similarity_score", 6).alias("similarity_score"),
        F.round("percentage_second_rank", 6).alias("percentage_second_rank"),
        F.round("contextual_score", 6).alias("contextual_score"),
        "res_id",
        "support",
        "rank",
    )


def q_media_features(spark, sf_dir):
    """Hash-checked end-to-end exercise of the REAL compressed-image codec
    chain (datapipe/codecs.py) inside the driver gate: each document gets a
    deterministic formula PNG payload — 8x16 RGB, all channels equal,
    pixel(y, x) = (doc_id % 256 + 17*y + 5*x) % 256 — encoded with
    encode_png (zlib deflate), decoded back by default_decode's real PNG
    path (inflate + scanline unfilter), and reduced to integer per-band
    pixel sums: each of the 8 feature bands covers exactly one 16-px row,
    so every float step is exact and feature[i] * 16 * 255 rounds to the
    exact sum. The DuckDB twin computes the sums in closed form — any
    defect in the codec chain breaks the hash."""
    from dbpedia_spotlight_spark.datapipe.multimodal import (
        extract_media_features,
    )

    docs = _docs(spark, sf_dir).select("doc_id")

    def gen(batches):
        import numpy as np
        import pandas as pd

        from dbpedia_spotlight_spark.datapipe.codecs import encode_png

        yy, xx = np.mgrid[0:8, 0:16]
        base = 17 * yy + 5 * xx
        for pdf in batches:
            out = {"media_ref": [], "kind": [], "payload": []}
            for did in pdf["doc_id"]:
                arr = ((int(did) % 256 + base) % 256).astype(np.uint8)
                out["media_ref"].append(f"img://{int(did)}")
                out["kind"].append("image")
                out["payload"].append(
                    encode_png(np.repeat(arr[:, :, None], 3, axis=2))
                )
            yield pd.DataFrame(out)

    media = docs.mapInPandas(
        gen, "media_ref string, kind string, payload binary"
    )
    feats = extract_media_features(media)  # real default_decode dispatch
    return feats.select(
        "media_ref",
        "width",
        "height",
        "n_frames",
        F.posexplode("feature").alias("band", "val"),
    ).select(
        "media_ref",
        "width",
        "height",
        "n_frames",
        "band",
        F.round(F.col("val") * F.lit(4080.0)).cast("long").alias("band_sum"),
    )


def q_bm25_search(spark, sf_dir):
    """BM25 ranked retrieval over the documents table (the Lucene search
    stack's capability, operators/bm25.py): two fixed term queries, top-10
    docs each by the Lucene-classic nonnegative idf BM25 (k1=1.2, b=0.75).
    Ties break by doc_id; score rounded to 6dp in both engines."""
    from dbpedia_spotlight_spark.operators.bm25 import bm25_scores

    qs = spark.createDataFrame(
        [(0, "join"), (0, "hash"), (1, "customer"), (1, "slow"), (1, "merge")],
        "query_id long, term string",
    )
    out = bm25_scores(_docs(spark, sf_dir), qs, k=10)
    return out.select(
        "query_id", "doc_id", F.round("score", 6).alias("score"), "rank"
    )


def q_scd2_resources(spark, sf_dir):
    """SCD2 temporal versioning of the resources dim (model/scd2.py): the
    history bootstraps from uriCounts over the even-doc half of the corpus
    (batch 0), then merges the full-corpus counts as batch 1 — changed
    supports close + reopen, identical ones no-op, first-seen uris open at
    batch 1. Output is the complete validity-interval history."""
    from dbpedia_spotlight_spark.model.scd2 import scd2_apply, scd2_init

    occ = _occs(spark, sf_dir)
    base = (
        occ.filter(F.col("doc_id") % 2 == 0)
        .groupBy("uri")
        .agg(F.count("*").alias("support"))
    )
    upd = occ.groupBy("uri").agg(F.count("*").alias("support"))
    hist = scd2_apply(
        scd2_init(base, "uri", batch_id=0), upd, "uri", ["support"], batch_id=1
    )
    return hist.select(
        "uri", "support", "valid_from", "valid_to", "is_current"
    )


def q_bpe_merges(spark, sf_dir):
    """BPE subword-merge training (functions/bpe.py, Sennrich 2016) over
    the corpus vocabulary: 8 merges learned by the driver-loop of
    pair-count aggregations, output = every word's final segmentation.
    The double-space symbol representation makes each merge a literal
    replace with identical greedy left-to-right semantics in both engines;
    the oracle unrolls all 8 training iterations in SQL (the d16_pagerank
    pattern), so a divergence in ANY round breaks the hash."""
    from dbpedia_spotlight_spark.functions.bpe import train_bpe, word_counts

    words = word_counts(_docs(spark, sf_dir))
    _merges, seg = train_bpe(words, 8)
    return seg.select("word", "cnt", "seg")


def q_kg_two_hop(spark, sf_dir):
    """KG completion candidates (operators/graph.py:two_hop_pairs): over
    the M6 co-occurrence graph, non-adjacent entity pairs connected via
    >= 1 common neighbor with the common-neighbors score — the
    Liben-Nowell/Kleinberg link-prediction baseline."""
    from dbpedia_spotlight_spark.operators.graph import two_hop_pairs

    # min_count high enough that the co-occurrence graph is SPARSE here
    # (at min_count=3 the sf0.01 graph is the complete K20 and the
    # non-adjacent pair set is vacuously empty)
    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    return two_hop_pairs(edges).select(
        F.col("x").alias("src_uri"),
        F.col("z").alias("dst_uri"),
        "n_paths",
    )


def q_kg_subclass_closure(spark, sf_dir):
    """General multi-parent transitive closure
    (operators/closure.py:transitive_closure, repeated squaring — log-depth
    join rounds, vs redirect_closure's functional-graph pointer doubling):
    materialize every (class, ancestor) pair of a deterministic class DAG
    derived from the part table (k -> k div 2, a ~11-deep binary
    hierarchy at sf0.01). The ontology-closure step of KG
    canonicalization; oracle = DuckDB recursive CTE."""
    from dbpedia_spotlight_spark.operators.closure import transitive_closure

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    edges = part.filter(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").cast("long").alias("class_id"),
        F.expr("p_partkey div 2").cast("long").alias("ancestor_id"),
    )
    return transitive_closure(edges, src="class_id", dst="ancestor_id")


def q_kg_bgp(spark, sf_dir):
    """SPARQL basic-graph-pattern matching over the materialized triple
    table (operators/kgquery.py:bgp_match — the RDF-3X relational BGP
    encoding, selectivity-ordered self-join chain). Triples derive from
    customer/nation/region; the BGP asks for BUILDING-segment customers
    with their nation and region name:
      ?c segment "BUILDING" . ?c inNation ?n . ?n inRegion ?r .
      ?r named ?rname
    The reference's JDBM/Lucene stores answer single-key gets only; the
    triple-table design makes conjunctive KG queries one declarative
    plan. Oracle = the same conjunctive query as plain SQL joins."""
    from dbpedia_spotlight_spark.operators.kgquery import bgp_match

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    triples = (
        cust.select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
            F.lit("inNation").alias("pred"),
            F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
        )
        .unionByName(
            cust.select(
                F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
                F.lit("segment").alias("pred"),
                F.col("c_mktsegment").alias("obj"),
            )
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
                F.lit("inRegion").alias("pred"),
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("obj"),
            )
        )
        .unionByName(
            reg.select(
                F.concat(F.lit("r"), F.col("r_regionkey")).alias("subj"),
                F.lit("named").alias("pred"),
                F.col("r_name").alias("obj"),
            )
        )
    )
    return bgp_match(
        triples,
        [
            ("?c", "segment", "BUILDING"),
            ("?c", "inNation", "?n"),
            ("?n", "inRegion", "?r"),
            ("?r", "named", "?rname"),
        ],
    ).select("c", "n", "r", "rname")


def q_kg_bfs(spark, sf_dir):
    """Multi-source BFS hop distances over the entity co-occurrence graph
    (operators/kgquery.py:bfs_distances — frontier expansion, one
    equi-join + anti-join per hop, state one row per reached node): the
    "entities within k hops" reachability primitive of KG exploration.
    Sources = the lexicographically smallest entity; 3 hops. Oracle =
    DuckDB recursive CTE with a hop bound + min-groupBy."""
    from dbpedia_spotlight_spark.operators.kgquery import bfs_distances

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    sym = edges.select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    ).unionByName(
        edges.select(
            F.col("dst_uri").alias("src"), F.col("src_uri").alias("dst")
        )
    )
    sources = sym.agg(F.min("src").alias("node"))
    return bfs_distances(sym, sources, max_hops=3)


def q_heavy_hitters(spark, sf_dir):
    """Exact heavy hitters (datapipe/sketches.py:heavy_hitters): every
    token with frequency > n/30 in the document corpus, via per-partition
    batched Misra-Gries candidate summaries + one exact recount
    restricted to candidates (Misra-Gries 1982 / Mergeable Summaries,
    PODS 2012). Output is exact and partitioning-independent — the
    vocabulary-wide shuffle of a naive groupBy never happens. Oracle =
    GROUP BY ... HAVING count(*)*30 > total."""
    from dbpedia_spotlight_spark.datapipe.sketches import heavy_hitters

    toks = _tok(spark, sf_dir).select("token")
    return heavy_hitters(toks, "token", k=30)


def q_kg_pagerank(spark, sf_dir):
    """Global PageRank over the entity co-occurrence KG
    (operators/graph.py:global_pagerank — the canonical KG entity-
    importance score; global twin of the d16 personalized power method).
    3 power iterations, α=0.85, edge weight = co-occurrence count,
    symmetrized. Oracle = the iterations unrolled in SQL (the d16
    pattern), ranks rounded to 6 dp."""
    from dbpedia_spotlight_spark.operators.graph import global_pagerank

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    sym = edges.select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst"), "count"
    ).unionByName(
        edges.select(
            F.col("dst_uri").alias("src"), F.col("src_uri").alias("dst"), "count"
        )
    )
    pr = global_pagerank(sym, iterations=3, weight="count")
    return pr.select("node", F.round("rank", 6).alias("rank"))


def q_kg_communities(spark, sf_dir):
    """Entity communities in the co-occurrence KG via deterministic
    synchronous label propagation (operators/graph.py:label_propagation,
    Raghavan 2007; min-label tie-break makes the fixed-round run
    replayable). 3 rounds. Oracle = each round unrolled as a
    count-groupBy + per-node argmax window."""
    from dbpedia_spotlight_spark.operators.graph import label_propagation

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    return label_propagation(
        edges.select(
            F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
        ),
        iterations=3,
    )


def q_entity_salience(spark, sf_dir):
    """Per-(doc, entity) salience features + combined score
    (operators/kbaugment.py:entity_salience — Dunietz & Gillick 2014:
    mention frequency × first-mention earliness). One groupBy pair over
    the annotation table; integer-count arithmetic so the float score
    replays exactly."""
    from dbpedia_spotlight_spark.operators.kbaugment import entity_salience

    return entity_salience(_occs(spark, sf_dir).select("doc_id", "pos", "uri"))


def q_emerging_entities(spark, sf_dir):
    """NIL clustering / emerging-entity discovery
    (operators/kbaugment.py:emerging_entities — TAC-KBP NIL task):
    mentions with linker confidence below 0.5 cluster by normalized
    surface form and mint a deterministic new KB id, so unknown
    entities become KG nodes instead of dropped rows."""
    from dbpedia_spotlight_spark.operators.kbaugment import emerging_entities

    return emerging_entities(
        _occs(spark, sf_dir), score_col="prior", threshold=0.5
    )


def q_kg_components(spark, sf_dir):
    """Weakly connected components of the entity co-occurrence KG
    (datapipe/dedup.py:connected_components — min-label propagation with
    pointer doubling, O(log diameter) rounds, converge-or-raise). The
    same operator that clusters near-duplicate docs, applied to the KG
    node set. Oracle = DuckDB recursive reachability + min-groupBy."""
    from dbpedia_spotlight_spark.datapipe.dedup import connected_components

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    pairs = edges.select(
        F.col("src_uri").alias("a"), F.col("dst_uri").alias("b")
    )
    return connected_components(pairs).select(
        F.col("doc_id").alias("node"), "component"
    )


def q_kg_kcore(spark, sf_dir):
    """2-core of the entity co-occurrence KG
    (operators/graph.py:k_core — Seidman 1983 synchronous peeling,
    fixed 3 rounds so the whole run replays in SQL; the dense-core
    pre-filter for KG-embedding training sets). At sf0.01 the graph
    has 19 nodes and peeling removes the 4 degree-1 leaves (converged
    by round 1, verified stable through round 6). Oracle = the 3 peel
    rounds unrolled as degree-filter + edge-semijoin CTEs."""
    from dbpedia_spotlight_spark.operators.graph import k_core

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    return k_core(
        edges.select(
            F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
        ),
        k=2,
        rounds=3,
    )


def q_kg_shacl(spark, sf_dir):
    """SHACL-lite validation report (operators/shacl.py:shacl_validate —
    sh:minCount / sh:maxCount / sh:class over a triple table, the RDF
    twin of the datapipe table expectations). Fixture: every 10th
    customer misses its required inNation (minCount), every 97th gets a
    second one (maxCount), and nations >= 20 are left untyped so their
    customers' values fail sh:class. Oracle = the three constraint
    scans as plain SQL."""
    from dbpedia_spotlight_spark.operators.shacl import shacl_validate

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    ck = F.col("c_custkey")
    tri = (
        cust.select(
            F.concat(F.lit("c"), ck).alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.lit("Customer").alias("obj"),
        )
        .unionByName(
            cust.filter(ck % 10 != 0).select(
                F.concat(F.lit("c"), ck).alias("subj"),
                F.lit("inNation").alias("pred"),
                F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
            )
        )
        .unionByName(
            cust.filter((ck % 97 == 0) & (ck % 10 != 0)).select(
                F.concat(F.lit("c"), ck).alias("subj"),
                F.lit("inNation").alias("pred"),
                F.concat(
                    F.lit("n"), (F.col("c_nationkey") + 1) % 25
                ).alias("obj"),
            )
        )
        .unionByName(
            nat.filter(F.col("n_nationkey") < 20).select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
                F.lit("rdf:type").alias("pred"),
                F.lit("Nation").alias("obj"),
            )
        )
    )
    shapes = spark.createDataFrame(
        [("Customer", "inNation", 1, 1, "Nation")],
        "target_class string, pred string, min_count long, "
        "max_count long, value_class string",
    )
    return shacl_validate(tri, shapes)


def _customer_kg(spark, sf_dir):
    """Shared fixture: customer/nation/orders as a typed triple table —
    customers typed, nations typed only below key 20 (leaves an untyped
    bucket), orders untyped, `placed` multi-valued per customer."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cid = F.concat(F.lit("c"), F.col("c_custkey"))
    return (
        cust.select(
            cid.alias("subj"), F.lit("rdf:type").alias("pred"),
            F.lit("Customer").alias("obj"),
        )
        .unionByName(
            cust.select(
                cid.alias("subj"), F.lit("inNation").alias("pred"),
                F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
            )
        )
        .unionByName(
            cust.select(
                cid.alias("subj"), F.lit("hasSegment").alias("pred"),
                F.col("c_mktsegment").alias("obj"),
            )
        )
        .unionByName(
            nat.filter(F.col("n_nationkey") < 20).select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
                F.lit("rdf:type").alias("pred"),
                F.lit("Nation").alias("obj"),
            )
        )
        .unionByName(
            orders.select(
                F.concat(F.lit("c"), F.col("o_custkey")).alias("subj"),
                F.lit("placed").alias("pred"),
                F.concat(F.lit("o"), F.col("o_orderkey")).alias("obj"),
            )
        )
    )


_CUSTOMER_KG_SQL = """
  SELECT 'c' || c_custkey::VARCHAR AS subj, 'rdf:type' AS pred,
         'Customer' AS obj FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'inNation',
         'n' || c_nationkey::VARCHAR FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'hasSegment', c_mktsegment FROM customer
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'rdf:type', 'Nation'
  FROM nation WHERE n_nationkey < 20
  UNION ALL
  SELECT 'c' || o_custkey::VARCHAR, 'placed', 'o' || o_orderkey::VARCHAR
  FROM orders
"""


def q_kg_property_table(spark, sf_dir):
    """Property-table pivot (operators/kglayout.py:property_table — one
    groupBy(subj) with a conditional-min aggregate per predicate; the
    RDF-store wide layout the reference's MemoryStore uses natively).
    `placed` is multi-valued, so the deterministic min pick is
    exercised; nations have no pivoted predicates and surface as
    all-null rows with their type triple counted. Oracle = GROUP BY with
    min(CASE WHEN) columns."""
    from dbpedia_spotlight_spark.operators.kglayout import property_table

    return property_table(
        _customer_kg(spark, sf_dir), ["inNation", "hasSegment", "placed"]
    )


def q_kg_schema_summary(spark, sf_dir):
    """Quotient-graph schema summary (operators/kglayout.py:
    schema_summary — edges joined to the type table on both endpoints,
    one groupBy; the profiling step that picks property-table columns).
    Fixture leaves nations >= 20 and all orders untyped, so the untyped
    bucket appears on both sides. Oracle = the same two left joins +
    GROUP BY in SQL."""
    from dbpedia_spotlight_spark.operators.kglayout import schema_summary

    return schema_summary(_customer_kg(spark, sf_dir))


def q_kg_fact_ranking(spark, sf_dir):
    """Entity summarization (operators/kglayout.py:fact_ranking —
    predicate-rarity scores via a broadcast pred-count dim, top-k per
    subject via a subj-partitioned row_number; no global sort). On the
    customer KG the rare `rdf:type Nation` facts outrank the ubiquitous
    `placed` edges. Oracle = the same rarity algebra + ROW_NUMBER in
    SQL, both sides rounding score to 6 decimals."""
    from dbpedia_spotlight_spark.operators.kglayout import fact_ranking

    return fact_ranking(_customer_kg(spark, sf_dir), k=2)


def q_kg_predicate_profile(spark, sf_dir):
    """PARIS-style predicate profiling (operators/kglayout.py:
    predicate_profile — functionality / inverse-functionality ratios +
    dominant-datatype inference in one groupBy on the predicate key).
    On the customer KG, inNation and hasSegment are functional (one
    value per customer) while placed is highly non-functional. Oracle =
    the same aggregates + ROW_NUMBER dtype pick in SQL."""
    from dbpedia_spotlight_spark.operators.kglayout import predicate_profile

    return predicate_profile(_customer_kg(spark, sf_dir))


def q_kg_fastrp(spark, sf_dir):
    """FastRP node embeddings over the entity co-occurrence KG
    (datapipe/kg_samples.py:fastrp_embeddings — emb = w1·(D⁻¹A)R +
    w2·(D⁻¹A)²R with an md5-deterministic Achlioptas projection, so the
    embedding VALUES themselves hash-check against a DuckDB replay of
    the identical arithmetic; joins+groupBy only, dim multiplies rows
    not shuffles). Oracle = projection + two propagation hops unrolled
    in SQL, values rounded to 6 dp."""
    from dbpedia_spotlight_spark.datapipe.kg_samples import fastrp_embeddings

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    sym = edges.select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    ).unionByName(
        edges.select(
            F.col("dst_uri").alias("src"), F.col("src_uri").alias("dst")
        )
    )
    return fastrp_embeddings(sym, dim=4)


def q_events_funnel(spark, sf_dir):
    """Strictly-ordered funnel (datapipe/funnel.py:funnel_counts — one
    (user, min ts) frontier aggregate + user-key join per step, never a
    per-user event sort). view -> click -> purchase over the events
    table. Oracle = the per-step min-frontier CTE chain."""
    from dbpedia_spotlight_spark.datapipe.funnel import funnel_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_counts(ev, ["view", "click", "purchase"])


def q_events_retention(spark, sf_dir):
    """Weekly retention cohorts (datapipe/funnel.py:retention_cohorts —
    first-seen-week cohort per user joined to distinct user-weeks; the
    offset-0 row is the cohort size). Oracle = the same two aggregates
    + join in SQL, cohort dates rendered yyyy-MM-dd on both sides."""
    from dbpedia_spotlight_spark.datapipe.funnel import retention_cohorts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_cohorts(ev, period="week")


def q_kg_void_stats(spark, sf_dir):
    """VoID dataset description (operators/kglayout.py:void_stats — one
    multi-distinct aggregate row: triples / distinct subjects / objects
    / properties / classes). Oracle = the same five aggregates."""
    from dbpedia_spotlight_spark.operators.kglayout import void_stats

    return void_stats(_customer_kg(spark, sf_dir))


def q_kg_path_profile(spark, sf_dir):
    """Predicate 2-path statistics (operators/kglayout.py:path_profile
    - the join-cardinality table the BGP compiler's selectivity
    ordering estimates chain patterns ?a <p1> ?m . ?m <p2> ?b with):
    one self-join on the middle node + groupBy, type triples excluded.
    Fixture: customer -inNation-> nation -inRegion-> region, so
    (inNation, inRegion) composes once per customer. Oracle = the same
    self-join in SQL."""
    from dbpedia_spotlight_spark.operators.kglayout import path_profile

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    tri = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
        F.lit("inNation").alias("pred"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
    ).unionByName(
        nat.select(
            F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
            F.lit("inRegion").alias("pred"),
            F.concat(F.lit("r"), F.col("n_regionkey")).alias("obj"),
        )
    )
    return path_profile(tri)


def q_kg_owl_entailment(spark, sf_dir):
    """OWL property-characteristic materialization
    (operators/kgquery.py:owl_property_entailment — inverseOf /
    SymmetricProperty / TransitiveProperty to fixpoint; the inverse rule
    must fire on transitively-DERIVED edges too). Fixture: customer
    within nation within region (transitive, depth 2), within inverseOf
    contains, borders symmetric between consecutive nations. Oracle =
    the rule set unrolled as explicit UNIONs (depth-2 closure needs one
    join round)."""
    from dbpedia_spotlight_spark.operators.kgquery import (
        owl_property_entailment,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    tri = (
        cust.select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
            F.lit("within").alias("pred"),
            F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
                F.lit("within").alias("pred"),
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("obj"),
            )
        )
        .unionByName(
            nat.filter(F.col("n_nationkey") < 24).select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
                F.lit("borders").alias("pred"),
                F.concat(F.lit("n"), F.col("n_nationkey") + 1).alias("obj"),
            )
        )
    )
    inv = spark.createDataFrame(
        [("within", "contains")], "prop string, inverse string"
    )
    sym = spark.createDataFrame([("borders",)], "prop string")
    trans = spark.createDataFrame([("within",)], "prop string")
    return owl_property_entailment(
        tri, inverse_of=inv, symmetric=sym, transitive=trans
    )


def q_kg_direct_mapping(spark, sf_dir):
    """W3C Direct Mapping (operators/kglayout.py:direct_mapping — one
    stack() unpivot, nulls dropped, rdf:type per row): the nation table
    lifted to RDF. Oracle = per-column UNION ALL."""
    from dbpedia_spotlight_spark.operators.kglayout import direct_mapping

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    return direct_mapping(nat, "n_nationkey", "nation")


def q_kg_dangling(spark, sf_dir):
    """Referential-integrity profile (operators/kglayout.py:
    dangling_objects): on the customer KG, `placed` targets (orders) are
    never subjects — 100% dangling; `inNation` dangles exactly for
    nations >= 20 (untyped, never subjects); `hasSegment` literals all
    dangle. Oracle = the same anti-probe + groupBy in SQL."""
    from dbpedia_spotlight_spark.operators.kglayout import dangling_objects

    return dangling_objects(_customer_kg(spark, sf_dir))


def q_kg_update(spark, sf_dir):
    """SPARQL 1.1 Update (operators/kgquery.py:sparql_update —
    functional DELETE/INSERT WHERE: one sparql_select solves the group,
    delete lands as a left_anti join, insert as union+distinct, both
    templates instantiated against the ORIGINAL graph's bindings). The
    update rewrites BUILDING-segment customers' inNation edges to wasIn.
    Oracle = the same rewrite as join/anti-join SQL."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_update

    return sparql_update(
        _customer_kg(spark, sf_dir),
        "DELETE { ?c <inNation> ?n } INSERT { ?c <wasIn> ?n } "
        'WHERE { ?c <inNation> ?n . ?c <hasSegment> "BUILDING" . }',
    )


def q_kg_entity_digest(spark, sf_dir):
    """Per-entity neighborhood content hash (operators/kbmaintain.py:
    entity_digest — binary-sorted (pred, obj) fact list, unit-separator
    joined, md5; 32 bytes per subject is the payload for cross-cluster
    KB delta shipping). Oracle = md5(string_agg(... ORDER BY ...)) in
    DuckDB over the same customer KG — the hash itself is compared, so
    sort order and separators must agree byte-for-byte."""
    from dbpedia_spotlight_spark.operators.kbmaintain import entity_digest

    return entity_digest(_customer_kg(spark, sf_dir))


def q_trigram_perplexity(spark, sf_dir):
    """Conditional trigram LM self-perplexity per document
    (datapipe/textstats.py:ngram_doc_logprob — add-k smoothing, ctx
    counts folded from the gram table, V a scalar; per-doc grams
    pre-aggregated before the model join). The CCNet/KenLM quality
    signal next to the unigram logprob. Oracle = the same trigram
    algebra via positional self-joins in DuckDB; logprob rounded to 6
    decimals on both sides (the driver's float-hash granularity)."""
    from dbpedia_spotlight_spark.datapipe.textstats import ngram_doc_logprob

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    out = ngram_doc_logprob(docs, order=3, k=0.1)
    return out.select(
        "doc_id", "n_grams", F.round("logprob", 6).alias("logprob")
    )


def q_wiki_kg_extract(spark, sf_dir):
    """KG construction from raw wiki markup (io/wikiextract.py:
    wiki_kg_triples — category links, first-level infobox key=value
    cells, interlanguage sameAs; one regexp/split/explode projection per
    extractor, zero UDF). Fixture: each part row renders to a page whose
    markup embeds its own columns ({{Infobox product}}, two categories,
    one [[de:...]] link). The oracle does NOT re-parse: it constructs
    the expected triples straight from the part columns, so the
    extraction must exactly invert the synthesis."""
    from dbpedia_spotlight_spark.io.wikiextract import wiki_kg_triples

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    docs = part.select(
        F.col("p_partkey").cast("string").alias("doc_id"),
        F.concat(
            F.lit("{{Infobox product | name = "),
            F.col("p_name"),
            F.lit(" | brand = "),
            F.col("p_brand"),
            F.lit(" | size = "),
            F.col("p_size"),
            F.lit("}} An article. [[Category:"),
            F.col("p_type"),
            F.lit("]] [[Category:Brand "),
            F.col("p_brand"),
            F.lit("]] [[de:"),
            F.col("p_name"),
            F.lit("]]"),
        ).alias("text"),
    )
    return wiki_kg_triples(docs)


def q_kg_sameas(spark, sf_dir):
    """owl:sameAs canonicalization (operators/kbmaintain.py:
    sameas_canonicalize — pointer-doubling min-label components over the
    sameAs graph, then a two-sided subj/obj rewrite join + distinct).
    Fixture: every 7th supplier carries a duplicate id dup_s{k} asserted
    sameAs s{k}; every 14th chains a third alias dup2_s{k} sameAs
    dup_s{k}. Data triples live on all aliases, so the rewrite both
    renames (hasName moves to the canonical id) and collapses (the
    duplicate inNation assertions merge). Oracle = recursive undirected
    reachability + min-label per node in DuckDB."""
    from dbpedia_spotlight_spark.operators.kbmaintain import sameas_canonicalize

    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    k = F.col("s_suppkey")
    sid = F.concat(F.lit("s"), k)
    dup = F.concat(F.lit("dup_s"), k)
    dup2 = F.concat(F.lit("dup2_s"), k)
    nat = F.concat(F.lit("n"), F.col("s_nationkey"))
    tri = (
        sup.select(
            sid.alias("subj"), F.lit("inNation").alias("pred"), nat.alias("obj")
        )
        .unionByName(
            sup.filter(k % 7 == 0).select(
                dup.alias("subj"),
                F.lit("owl:sameAs").alias("pred"),
                sid.alias("obj"),
            )
        )
        .unionByName(
            sup.filter(k % 14 == 0).select(
                dup2.alias("subj"),
                F.lit("owl:sameAs").alias("pred"),
                dup.alias("obj"),
            )
        )
        .unionByName(
            sup.filter(k % 7 == 0).select(
                dup.alias("subj"),
                F.lit("inNation").alias("pred"),
                nat.alias("obj"),
            )
        )
        .unionByName(
            sup.filter(k % 14 == 0).select(
                dup2.alias("subj"),
                F.lit("hasName").alias("pred"),
                F.col("s_name").alias("obj"),
            )
        )
    )
    return sameas_canonicalize(tri)


def q_kg_diff(spark, sf_dir):
    """KB snapshot diff (operators/kbmaintain.py:kb_diff — two anti-joins
    on the full triple key; output sized to the change, not the KB).
    Fixture: old snapshot has byCustomer triples for orderkey % 3 != 0,
    new for % 5 != 0, and every 11th order's hasPriority value is
    upgraded in the new snapshot (a changed value = one removed + one
    added row). Oracle = two EXCEPTs."""
    from dbpedia_spotlight_spark.operators.kbmaintain import kb_diff

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ok = F.col("o_orderkey")
    oid = F.concat(F.lit("o"), ok)
    by_cust = [
        oid.alias("subj"),
        F.lit("byCustomer").alias("pred"),
        F.concat(F.lit("c"), F.col("o_custkey")).alias("obj"),
    ]
    old = orders.filter(ok % 3 != 0).select(*by_cust).unionByName(
        orders.select(
            oid.alias("subj"),
            F.lit("hasPriority").alias("pred"),
            F.col("o_orderpriority").alias("obj"),
        )
    )
    new = orders.filter(ok % 5 != 0).select(*by_cust).unionByName(
        orders.select(
            oid.alias("subj"),
            F.lit("hasPriority").alias("pred"),
            F.when(ok % 11 == 0, F.lit("0-UPGRADED"))
            .otherwise(F.col("o_orderpriority"))
            .alias("obj"),
        )
    )
    return kb_diff(old, new)


def q_kg_closure_delta(spark, sf_dir):
    """Incremental transitive-closure maintenance
    (operators/kbmaintain.py:transitive_closure_delta — semi-naive: seed
    C?∘E_new∘C?, then square the accumulated delta; never re-joins the
    old closure to itself). Fixture: successor edges over customer keys
    form chains of 4 (old, k % 4 != 0); the new batch stitches four
    blocks into chains of 16 (k % 4 == 0 and k % 16 != 0) — each
    stitched chain threads THREE new edges, so the multi-block
    composition path is exercised, not just the seed. Oracle = one
    recursive closure over the union edge set (the from-scratch answer
    the incremental path must reproduce)."""
    from dbpedia_spotlight_spark.operators.closure import transitive_closure
    from dbpedia_spotlight_spark.operators.kbmaintain import (
        transitive_closure_delta,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    a = cust.select(F.col("c_custkey").alias("k"))
    succ = (
        a.alias("x")
        .join(a.alias("y"), F.col("y.k") == F.col("x.k") + 1)
        .select(
            F.col("x.k").alias("kk"),
            F.concat(F.lit("c"), F.col("x.k")).alias("src"),
            F.concat(F.lit("c"), F.col("y.k")).alias("dst"),
        )
    )
    old_edges = succ.filter(F.col("kk") % 4 != 0).select("src", "dst")
    new_edges = succ.filter(
        (F.col("kk") % 4 == 0) & (F.col("kk") % 16 != 0)
    ).select("src", "dst")
    return transitive_closure_delta(transitive_closure(old_edges), new_edges)


def q_kg_schema_entailment(spark, sf_dir):
    """Property-side RDFS materialization
    (operators/kgquery.py:rdfs_schema_entailment — rules rdfs5/7
    subPropertyOf closure, rdfs2 domain, rdfs3 range; completes the
    class-side rdfs9 of kg_type_entailment). Instance triples from
    customer→nation→region; the round-2 fixpoint matters here: the
    domain of the DERIVED locatedIn triples fires only after rdfs7.
    Oracle = recursive subproperty closure + the two rule rounds
    unrolled as UNION-distinct CTEs."""
    from dbpedia_spotlight_spark.operators.kgquery import rdfs_schema_entailment

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    tri = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
        F.lit("inNation").alias("pred"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
    ).unionByName(
        nat.select(
            F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
            F.lit("inRegion").alias("pred"),
            F.concat(F.lit("r"), F.col("n_regionkey")).alias("obj"),
        )
    )
    sub = spark.createDataFrame(
        [
            ("inNation", "locatedIn"),
            ("inRegion", "locatedIn"),
            ("locatedIn", "relatedTo"),
        ],
        "prop string, superprop string",
    )
    dom = spark.createDataFrame(
        [("inNation", "Customer"), ("locatedIn", "Place")],
        "prop string, cls string",
    )
    rng = spark.createDataFrame(
        [("inNation", "Nation"), ("inRegion", "Region")],
        "prop string, cls string",
    )
    return rdfs_schema_entailment(
        tri, subproperties=sub, domains=dom, ranges=rng
    )


def q_kg_truss(spark, sf_dir):
    """3-truss of the entity co-occurrence KG
    (operators/graph.py:k_truss, Cohen 2008 — edges kept only while a
    third entity corroborates them via a triangle; the edge-level
    cohesion filter that complements kg_kcore's node peeling). Fixed 3
    peel rounds (converged — verified stable through round 5 at both
    SFs); oracle = per round a wedge-closure triangle CTE, a
    per-edge credit count, and the support filter, all MATERIALIZED."""
    from dbpedia_spotlight_spark.operators.graph import k_truss

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    return k_truss(
        edges.select(
            F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
        ),
        k=3,
        rounds=3,
    )


def q_kg_hits(spark, sf_dir):
    """HITS hubs & authorities (operators/graph.py:hits, Kleinberg 1999)
    over the bipartite document→entity mention graph: documents score as
    hubs, entities as authorities — the link-analysis complement of
    kg_pagerank. 3 synchronous iterations, L2 normalization per
    half-step; oracle = the iterations unrolled (pull-sum + scalar-norm
    CTE pairs), both sides rounded to 6 dp."""
    from dbpedia_spotlight_spark.operators.graph import hits

    edges = _occs(spark, sf_dir).select(
        F.concat(F.lit("doc:"), F.col("doc_id").cast("string")).alias("src"),
        F.col("uri").alias("dst"),
    )
    out = hits(edges, iterations=3)
    return out.select(
        "node",
        F.round("hub", 6).alias("hub"),
        F.round("authority", 6).alias("authority"),
    )


def q_kg_bgp_optional(spark, sf_dir):
    """SPARQL OPTIONAL + FILTER (operators/kgquery.py:bgp_match — the
    SPARQL 1.1 §5.4 left-join algebra): customers with their nation
    (FILTER n != 'n0'), OPTIONAL region binding only when the nation is
    in region ASIA — non-ASIA rows survive with a null ?r. Oracle = the
    required group LEFT JOIN the optional group's conjunctive SQL."""
    from dbpedia_spotlight_spark.operators.kgquery import bgp_match

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    triples = (
        cust.select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
            F.lit("inNation").alias("pred"),
            F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
                F.lit("inRegion").alias("pred"),
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("obj"),
            )
        )
        .unionByName(
            reg.select(
                F.concat(F.lit("r"), F.col("r_regionkey")).alias("subj"),
                F.lit("named").alias("pred"),
                F.col("r_name").alias("obj"),
            )
        )
    )
    return bgp_match(
        triples,
        [("?c", "inNation", "?n")],
        optional=[("?n", "inRegion", "?r"), ("?r", "named", "ASIA")],
        filters=["n != 'n0'"],
    ).select("c", "n", "r")


def q_kg_shortest_paths(spark, sf_dir):
    """Bounded-hop weighted shortest paths over the co-occurrence KG
    (operators/kgquery.py:shortest_paths — Bellman-Ford relaxation, the
    Pregel SSSP shape): edge weight 1/count (strong ties are short),
    sources = the lexicographically smallest entity, 3 relaxation
    rounds. Oracle = the rounds unrolled in SQL; path sums are the same
    IEEE additions in the same order, so distances replay exactly
    (rounded to 6 dp on output)."""
    from dbpedia_spotlight_spark.operators.kgquery import shortest_paths

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    sym = edges.select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst"), "count"
    ).unionByName(
        edges.select(
            F.col("dst_uri").alias("src"), F.col("src_uri").alias("dst"), "count"
        )
    )
    w = sym.withColumn("weight", F.lit(1.0) / F.col("count"))
    sources = w.agg(F.min("src").alias("node"))
    d = shortest_paths(w, sources, max_hops=3)
    return d.select("node", F.round("dist", 6).alias("dist"))


def q_kg_entity_jaccard(spark, sf_dir):
    """Duplicate-entity suspects inside the KG
    (operators/graph.py:neighborhood_jaccard): Jaccard similarity of
    entity neighborhoods — candidate pairs come only from the wedge
    join (>= 2 common neighbors), never all-pairs; |union| = deg_a +
    deg_b − common. The graph-side complement of the surface-form
    sameAs alignment."""
    from dbpedia_spotlight_spark.operators.graph import neighborhood_jaccard

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=3).select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    )
    return neighborhood_jaccard(edges, min_common=2)


def q_kg_clustering(spark, sf_dir):
    """Local clustering coefficient per entity (Watts & Strogatz 1998):
    C(v) = 2·T(v) / (d(v)·(d(v)−1)) over the co-occurrence graph —
    triangles from the degree-ordered compact-forward operator
    (operators/graph.py:triangle_counts), degrees one groupBy; the
    standard KG cohesion profile. Integer inputs -> exact float replay;
    degree-1 nodes (undefined) are excluded."""
    from dbpedia_spotlight_spark.operators.graph import triangle_counts

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=3).select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    )
    deg = (
        edges.select(F.explode(F.array("src", "dst")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    tri = triangle_counts(edges)
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
            F.round(
                F.lit(2.0)
                * F.coalesce(F.col("n_triangles"), F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("coefficient"),
        )
    )


def q_kg_bgp_minus(spark, sf_dir):
    """SPARQL MINUS / negation (§8.3 — operators/kgquery.py:bgp_match,
    one left-anti join on the shared variables), driven through the
    sparql_select string parser: customers with their nation, MINUS
    nations in region r0. Oracle = ANTI JOIN."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    triples = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
        F.lit("inNation").alias("pred"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
    ).unionByName(
        nat.select(
            F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
            F.lit("inRegion").alias("pred"),
            F.concat(F.lit("r"), F.col("n_regionkey")).alias("obj"),
        )
    )
    return sparql_select(
        triples,
        """SELECT ?c ?n WHERE {
             ?c <inNation> ?n .
             MINUS { ?n <inRegion> r0 . }
           }""",
    )


def q_kg_bgp_union(spark, sf_dir):
    """SPARQL UNION (§7) through the string parser
    (operators/kgquery.py:sparql_select): parties located in a nation
    via EITHER the customer or the supplier predicate —
    `{ ?e <custIn> ?n } UNION { ?e <suppIn> ?n }`; branch solutions
    concatenate, distinct set semantics. Oracle = SQL UNION."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    triples = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
        F.lit("custIn").alias("pred"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
    ).unionByName(
        supp.select(
            F.concat(F.lit("s"), F.col("s_suppkey")).alias("subj"),
            F.lit("suppIn").alias("pred"),
            F.concat(F.lit("n"), F.col("s_nationkey")).alias("obj"),
        )
    )
    return sparql_select(
        triples,
        """SELECT ?e ?n WHERE {
             { ?e <custIn> ?n . } UNION { ?e <suppIn> ?n . }
           }""",
    )


def q_kg_sparql_agg(spark, sf_dir):
    """SPARQL aggregate + GROUP BY through the string parser
    (operators/kgquery.py:sparql_select): customers per nation —
    `SELECT ?n (COUNT(?c) AS ?cnt) ... GROUP BY ?n`; aggregates
    evaluate over the DISTINCT solution set (documented set-semantics
    subquery). Oracle = the same GROUP BY over the distinct pairs."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    triples = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
        F.lit("inNation").alias("pred"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
    )
    return sparql_select(
        triples,
        """SELECT ?n (COUNT(?c) AS ?cnt) WHERE {
             ?c <inNation> ?n .
           } GROUP BY ?n""",
    )


def q_kg_property_path(spark, sf_dir):
    """SPARQL 1.1 property path (one-or-more, §9.1) through the string
    front end (operators/kgquery.py:sparql_select → bgp_match): the
    query `SELECT ?c ?a WHERE { ?c <subClassOf>+ ?a . }` over the
    part-derived class-hierarchy triples compiles to the repeated-
    squaring transitive closure (log-depth join rounds). Oracle =
    recursive CTE."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    triples = part.filter(F.col("p_partkey") >= 2).select(
        F.concat(F.lit("k"), F.col("p_partkey")).alias("subj"),
        F.lit("subClassOf").alias("pred"),
        F.concat(F.lit("k"), F.expr("p_partkey div 2")).alias("obj"),
    )
    return sparql_select(
        triples, "SELECT ?c ?a WHERE { ?c <subClassOf>+ ?a . }"
    )


def q_kg_degree_hist(spark, sf_dir):
    """KG degree-distribution profile over the bipartite doc↔entity
    mention graph (both node sides), bucketed by floor(log2(degree)) —
    the standard power-law profiling histogram; the entity side's heavy
    buckets are exactly what the skew-handling two-stage join keys off.
    Two map-side-combinable groupBys + one cheap union."""
    occ = _occs(spark, sf_dir).select("doc_id", "uri").distinct()
    doc_deg = occ.groupBy("doc_id").agg(F.count("*").alias("degree"))
    ent_deg = occ.groupBy("uri").agg(F.count("*").alias("degree"))
    deg = doc_deg.select("degree").unionByName(ent_deg.select("degree"))
    return (
        deg.withColumn(
            "bucket", F.floor(F.log2(F.col("degree"))).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
        )
    )


def q_kg_type_entailment(spark, sf_dir):
    """Materialized RDFS subclass entailment (rdfs9, W3C RDF 1.1
    Semantics §9.2.1 — operators/kgquery.py:rdfs_entailment): explicit
    rdf:type assertions joined through the rdfs:subClassOf* closure
    (repeated-squaring transitive_closure, broadcast — the ontology is
    a KB's smallest table). Class DAG = the part-derived hierarchy of
    kg_subclass_closure; type assertions derived deterministically from
    customer keys. Oracle = recursive CTE + join."""
    from dbpedia_spotlight_spark.operators.kgquery import rdfs_entailment

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    types = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("entity"),
        (F.col("c_custkey") % 40 + 2).cast("long").alias("cls"),
    )
    sub = part.filter(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").cast("long").alias("cls"),
        F.expr("p_partkey div 2").cast("long").alias("supercls"),
    )
    return rdfs_entailment(types, sub)


def q_entity_alignment(spark, sf_dir):
    """sameAs alignment of emerging (NIL-minted) entities back to KB
    names (operators/kbaugment.py:align_entities): blocked on (first
    char, ±1 length), levenshtein <= 2 verify inside the block only,
    deterministic best match per new entity. The KB-fusion step that
    prevents minting duplicates of known entities."""
    from dbpedia_spotlight_spark.operators.kbaugment import (
        align_entities,
        emerging_entities,
    )

    new = emerging_entities(_occs(spark, sf_dir), threshold=0.5)
    kb = (
        _dict_df(spark)
        .filter(F.col("prior") >= 0.5)
        .select(F.lower("surface_form").alias("name"))
    )
    return align_entities(new, kb)


def q_relation_extract(spark, sf_dir):
    """Open-IE-style relation extraction between linked mentions
    (pipeline/triples.py:relation_triples): ordered mention pairs 1–2
    non-entity tokens apart, intervening tokens = predicate surface,
    corpus-wide support counts. One equi-join per (gap, middle slot) —
    exact positions, no range join; middle slots that are mentions are
    excluded via left-anti. min_support=2 keeps it corpus-attested."""
    from dbpedia_spotlight_spark.pipeline.triples import relation_triples

    occ = _occs(spark, sf_dir).select("doc_id", "pos", "uri")
    toks = _tok(spark, sf_dir).select("doc_id", "pos", "token")
    return relation_triples(occ, toks, max_gap=2, min_support=2)


def q_kg_negative_samples(spark, sf_dir):
    """KG-embedding training examples
    (datapipe/kg_samples.py:negative_samples, Bordes et al. 2013): the M6
    co-occurrence edges as positives plus 2 deterministic corrupted-tail
    negatives each — obj' = entity ranked md5_48(s‖p‖o‖j) mod n_entities,
    filtered against true tails. Fully hash-replayable, so the SAMPLED
    training set itself is oracle-checked."""
    from dbpedia_spotlight_spark.datapipe.kg_samples import negative_samples

    occ = _occs(spark, sf_dir)
    edges = cooccurrence_edges(occ, min_count=3).select(
        F.col("src_uri").alias("subj"),
        F.lit("cooccursWith").alias("pred"),
        F.col("dst_uri").alias("obj"),
    )
    entities = occ.select("uri").distinct()
    return negative_samples(edges, entities, num_neg=2)


def q_random_walks(spark, sf_dir):
    """Deterministic DeepWalk corpus (datapipe/kg_samples.py:random_walks,
    Perozzi et al. 2014) over the M6 co-occurrence graph: 2 walks of
    length 4 from every node, step choice = md5_48(start·w·s·node) mod
    degree — the hash is the randomness, so the walk corpus itself
    hash-checks against the step-unrolled SQL twin (the d16_pagerank
    pattern)."""
    from dbpedia_spotlight_spark.datapipe.kg_samples import random_walks

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=3).select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    )
    return random_walks(edges, num_walks=2, walk_len=4)


def q_table_expectations(spark, sf_dir):
    """Deequ-style data-quality gate
    (datapipe/expectations.py:validate): five declared expectations over
    the documents table — completeness, uniqueness, mean length, regexp
    conformance — ALL computed in one aggregation pass (one scan, one
    metrics row), then evaluated to (col_name, metric, value, lo, hi,
    passed) verdicts. The ingest-validation step of a 100 TB pipeline."""
    from dbpedia_spotlight_spark.datapipe.expectations import (
        Expectation,
        validate,
    )

    return validate(
        _docs(spark, sf_dir),
        [
            Expectation("doc_id", "completeness", lo=1.0, hi=1.0),
            Expectation("doc_id", "uniqueness", lo=1.0, hi=1.0),
            Expectation("text", "completeness", lo=0.99),
            Expectation("text", "mean_length", lo=20.0, hi=5000.0),
            Expectation("text", "match_fraction", lo=0.9, pattern="[a-z]"),
        ],
    )


def q_kmv_distinct(spark, sf_dir):
    """KMV bottom-k cardinality sketch (datapipe/sketches.py:kmv_sketch,
    Bar-Yossef et al. 2002): per-bucket distinct-token estimates over the
    documents corpus. Deterministic by construction (48-bit md5-prefix
    hashes), so unlike HLL the SKETCH ITSELF hash-checks against the
    DuckDB twin — n_seen, the integer k-th minimum, and the
    (k-1)/kth_min estimate all match exactly."""
    from dbpedia_spotlight_spark.datapipe.sketches import kmv_sketch

    toks = (
        _docs(spark, sf_dir)
        .select(
            (F.col("doc_id") % 4).cast("long").alias("bucket"),
            F.explode(F.split(F.lower("text"), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    return kmv_sketch(toks, ["bucket"], "token", k=64)


def q_kmv_intersection(spark, sf_dir):
    """Theta-sketch set-operation estimates
    (datapipe/sketches.py:kmv_intersection): estimated token-vocabulary
    overlap between the two corpus halves (doc_id parity) from two
    256-value KMV sketches — the decontamination TRIAGE that at 100 TB
    runs before the exact n-gram join. Exact integers (theta, n_common)
    plus the standard n_common/theta and Jaccard estimators."""
    from dbpedia_spotlight_spark.datapipe.sketches import kmv_intersection

    docs = _docs(spark, sf_dir)

    def toks(parity: int):
        return (
            docs.filter(F.col("doc_id") % 2 == parity)
            .select(
                F.explode(F.split(F.lower("text"), " ")).alias("token")
            )
            .filter(F.col("token") != "")
        )

    return kmv_intersection(toks(0), toks(1), "token", k=256)


def q_winnow_docs(spark, sf_dir):
    """Winnowing fingerprints (datapipe/textstats.py:winnow_fingerprints,
    Schleimer et al. 2003 / MOSS) over the documents table: per-doc
    selected (position, hash) set with k=4 grams, window w=4 — the
    locality-preserving dedup/plagiarism fingerprint next to MinHash and
    SimHash. The oracle replays the md5-derived hashes and the
    rightmost-minimum selection exactly."""
    from dbpedia_spotlight_spark.datapipe.textstats import (
        winnow_fingerprints,
    )

    return winnow_fingerprints(_docs(spark, sf_dir), k=4, w=4)


def q_nfc_normalize(spark, sf_dir):
    """Unicode NFC normalization (datapipe/textstats.py:normalize_nfc —
    stdlib unicodedata in one Arrow pass) vs DuckDB's native
    nfc_normalize: every doc_id % 3 == 0 gets decomposed sequences
    appended (e + combining acute, A + combining ring), which NFC must
    compose; output is the md5 of the normalized text + changed flag, so
    the two independent normalizer implementations must agree
    byte-for-byte."""
    from dbpedia_spotlight_spark.datapipe.textstats import normalize_nfc

    # escapes, not precomposed glyphs: e + U+0301 combining acute and
    # A + U+030A combining ring — NFC must compose both
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.col("text"), F.lit(" cafe\u0301 A\u030A")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = normalize_nfc(docs)
    return out.select(
        "doc_id", F.md5("text").alias("text_md5"), "changed"
    )


def q_quota_sample(spark, sf_dir):
    """Exact-quota stratified sampling (datapipe/packing.py:quota_sample):
    precisely N docs per source stratum, lowest-md5-rank first —
    deterministic across runs/cluster sizes and exactly replayable in
    SQL (row_number over the identical md5 order)."""
    from dbpedia_spotlight_spark.datapipe.packing import quota_sample

    # src0 over-asks (quota > stratum size -> whole stratum), src1/src2
    # take true subsets, every other stratum uses the default
    out = quota_sample(
        _docs(spark, sf_dir),
        quotas={"src0": 100, "src1": 10, "src2": 3},
        default_quota=5,
    )
    return out.select("doc_id", "source")


def q_warc_roundtrip(spark, sf_dir):
    """S14 at-rest twin (io/warc.py): serialize documents to WARC
    response records with the sink, strip the version line exactly as
    ``read_warc``'s lineSep split does, and re-parse with
    ``parse_warc_records`` — the full Common-Crawl-style ingest path,
    field for field. The synthesis is deterministic, so the oracle
    computes every parsed field in closed form from documents. Ref: the
    reference's live web sources (index/.../io/WebOccurrenceSource.scala)
    are scoped out for network; WARC is their at-rest form."""
    from dbpedia_spotlight_spark.io.warc import (
        parse_warc_records,
        warc_record_lines,
    )

    src = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("https://corpus.example/doc/"),
            F.col("doc_id").cast("string"),
        ).alias("uri"),
        F.col("text").alias("body"),
    )
    recs = warc_record_lines(src).select(
        F.expr("substring(value, 11)").alias("value")
    )
    return parse_warc_records(recs).select(
        "target_uri",
        "warc_type",
        "warc_date",
        "http_status",
        "content_length",
        "payload",
    )


def q_url_canonical(spark, sf_dir):
    """URL canonicalization (functions/urls.py): four deterministic URL
    shapes per doc (userinfo+default port+fragment / explicit port /
    bare host / non-URL passthrough) normalized per RFC 3986 §6.2.2,
    plus host and naive registrable domain. Synthesis is closed-form, so
    the oracle states the expected output directly."""
    from dbpedia_spotlight_spark.functions.urls import (
        registrable_domain,
        url_host,
        url_normalize,
    )

    d = F.col("doc_id")
    url = (
        F.when(
            d % 4 == 0,
            F.concat(
                F.lit("HTTPS://User@WWW.Example"),
                (d % 7).cast("string"),
                F.lit(".COM:443/doc/"),
                d.cast("string"),
                F.lit("?q="),
                (d % 3).cast("string"),
                F.lit("#frag"),
            ),
        )
        .when(
            d % 4 == 1,
            F.concat(
                F.lit("http://Site"),
                (d % 7).cast("string"),
                F.lit(".ORG:8080/a/"),
                d.cast("string"),
            ),
        )
        .when(
            d % 4 == 2,
            F.concat(
                F.lit("HTTP://Host"), (d % 7).cast("string"), F.lit(".Net:80")
            ),
        )
        .otherwise(F.concat(F.lit("doc-"), d.cast("string")))
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        url_normalize(url).alias("url_norm"),
        url_host(url).alias("host"),
        registrable_domain(url).alias("domain"),
    )


def q_nt_lines(spark, sf_dir):
    """S12 N-Triples serializer (functions/rdf.py:to_ntriples) over the
    NIF mention triples: IRI objects in angle brackets, literal objects
    N-Triples-escaped — one text line per triple, no shuffle."""
    from dbpedia_spotlight_spark.functions.rdf import to_ntriples

    return to_ntriples(q_nif_triples(spark, sf_dir))


def q_nquads_lines(spark, sf_dir):
    """N-Quads dataset serializer (functions/rdf.py:to_nquads +
    with_graph): the NIF mention triples lifted into per-predicate named
    graphs (the provenance-tracking pattern for multi-extractor KG
    construction) — one text line per statement with the graph label
    appended, zero shuffle. Oracle = the nt_lines string build + the
    graph term."""
    from dbpedia_spotlight_spark.functions.rdf import to_nquads, with_graph

    quads = with_graph(
        q_nif_triples(spark, sf_dir),
        F.concat(F.lit("http://graphs/"), F.col("pred")),
    )
    return to_nquads(quads)


def q_trig_blocks(spark, sf_dir):
    """TriG dataset serializer (functions/rdf.py:to_trig): the NIF
    mention triples lifted into per-predicate named graphs and emitted
    as ``<g> { turtle-blocks }`` — the at-rest form of a provenance-
    tracked RDF dataset (the named-graph twin of turtle_blocks, closing
    the serializer family). Oracle = the same two-level string_agg with
    the graph wrapper."""
    from dbpedia_spotlight_spark.functions.rdf import to_trig, with_graph

    quads = with_graph(
        q_nif_triples(spark, sf_dir),
        F.concat(F.lit("http://graphs/"), F.col("pred")),
    )
    return to_trig(quads)


def q_turtle_blocks(spark, sf_dir):
    """S12 Turtle serializer (functions/rdf.py:to_turtle): one block per
    subject with deterministically ordered ``;`` predicate-object
    continuations — the grouped at-rest form a triple store ingests."""
    from dbpedia_spotlight_spark.functions.rdf import to_turtle

    return to_turtle(q_nif_triples(spark, sf_dir))


def q_jsonld_nodes(spark, sf_dir):
    """S12 JSON-LD serializer (functions/rdf.py:to_jsonld): one
    flattened JSON-LD node object per subject — IRI objects as
    {"@id": iri} references, literals as JSON strings, values and
    predicate entries deterministically sorted. Every node is valid
    JSON (pytest json.loads-checks it); oracle = the same two-level
    string_agg in DuckDB."""
    from dbpedia_spotlight_spark.functions.rdf import to_jsonld

    return to_jsonld(q_nif_triples(spark, sf_dir))


def q_html_extract(spark, sf_dir):
    """HTML text extraction (functions/html.py): wrap each document in a
    deterministic page (head+title+script+style dropped, comments
    stripped, one anchor, entities) and extract visible text, title,
    links, and link density — the WARC-payload-to-text stage of a web
    corpus pipeline. Synthesis is closed-form, so the oracle states
    every output directly from documents."""
    from dbpedia_spotlight_spark.functions.html import (
        html_links,
        html_title,
        html_to_text,
        link_density,
    )

    d = F.col("doc_id").cast("string")
    page = F.concat(
        F.lit("<html><head><title>Doc "),
        d,
        F.lit(
            "</title><script>var x='<p>no</p>';</script>"
            "<style>p{color:red}</style></head><body><!-- nav --><p>"
        ),
        F.col("text"),
        F.lit('</p> <a href="https://site.example/'),
        d,
        F.lit('">link '),
        d,
        F.lit("</a> &amp; more</body></html>"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        html_title(page).alias("title"),
        html_to_text(page).alias("text_out"),
        F.size(html_links(page)).alias("n_links"),
        html_links(page).getItem(0).alias("first_link"),
        F.round(link_density(page), 6).alias("link_density"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: KG construction over interleaved docs at sf0.001 -> NIF
    (subj, pred, obj) mention triples."""
    sf_dir = "/root/testdata/sf0.001"
    ann = q_annotate_e2e(spark, sf_dir)
    return annotation_triples(ann, doc_prefix=DOC_PREFIX)


def _kg_geo_triples(spark, sf_dir):
    """Shared geo triple table for the SPARQL 1.1 path/optional/values
    queries: customer --inNation--> nation --within--> region --within-->
    'world'; nations and regions carry `named` labels; only BUILDING
    customers carry a `segment` edge (so OPTIONAL has something to miss)."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    c = F.concat(F.lit("c"), F.col("c_custkey"))
    n_of = F.concat(F.lit("n"), F.col("c_nationkey"))
    nn = F.concat(F.lit("n"), F.col("n_nationkey"))
    nr = F.concat(F.lit("r"), F.col("n_regionkey"))
    rr = F.concat(F.lit("r"), F.col("r_regionkey"))
    return (
        cust.select(
            c.alias("subj"), F.lit("inNation").alias("pred"), n_of.alias("obj")
        )
        .unionByName(
            cust.filter(F.col("c_mktsegment") == "BUILDING").select(
                c.alias("subj"),
                F.lit("segment").alias("pred"),
                F.col("c_mktsegment").alias("obj"),
            )
        )
        .unionByName(
            nat.select(
                nn.alias("subj"), F.lit("within").alias("pred"), nr.alias("obj")
            )
        )
        .unionByName(
            nat.select(
                nn.alias("subj"),
                F.lit("named").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
        .unionByName(
            reg.select(
                rr.alias("subj"),
                F.lit("within").alias("pred"),
                F.lit("world").alias("obj"),
            )
        )
        .unionByName(
            reg.select(
                rr.alias("subj"),
                F.lit("named").alias("pred"),
                F.col("r_name").alias("obj"),
            )
        )
    )


_KG_GEO_CTE = """
tr AS (
  SELECT 'c' || c_custkey::VARCHAR AS subj, 'inNation' AS pred,
         'n' || c_nationkey::VARCHAR AS obj FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'segment', c_mktsegment
  FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'within',
         'r' || n_regionkey::VARCHAR FROM nation
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'named', n_name FROM nation
  UNION ALL
  SELECT 'r' || r_regionkey::VARCHAR, 'within', 'world' FROM region
  UNION ALL
  SELECT 'r' || r_regionkey::VARCHAR, 'named', r_name FROM region
)"""


def q_kg_path_star(spark, sf_dir):
    """SPARQL 1.1 zero-or-more property path (§9.1) through the string
    parser (operators/kgquery.py:sparql_select → _path_df): every
    customer with every ancestor reachable via <within>* from its nation
    — including the nation itself (the zero-length path, §18.4). The
    closure side is the repeated-squaring transitive_closure (log-depth
    rounds); identity is the graph's term set. Oracle = recursive CTE
    closure UNION the identity relation."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t, "SELECT ?c ?a WHERE { ?c <inNation> ?n . ?n <within>* ?a . }"
    )


def q_kg_path_seq_alt(spark, sf_dir):
    """SPARQL 1.1 sequence + alternation property path through the parser:
    <inNation>/(<named>|<within>) — each customer's nation NAME and the
    nation's region id in one pattern (sequence = mid-node equi-join
    chain, alternation = unionByName of edge sets, parenthesised group).
    Oracle = join with an IN-list predicate union."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t,
        "SELECT ?c ?v WHERE { ?c <inNation>/(<named>|<within>) ?v . }",
    )


def q_kg_path_quantified(spark, sf_dir):
    """Bounded path repetition <within>{1,2} through the string parser
    (operators/kgquery.py:maybe_quant → _path_df "rep" node): each
    customer's nation paired with everything 1 or 2 <within> hops up
    (region, then world). Powers come from binary decomposition and are
    memoized across the k range — {n,m} costs O(log m + (m-n)) joins,
    never m. Oracle = explicit 1-hop ∪ 2-hop union joined from
    inNation."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t, "SELECT ?c ?a WHERE { ?c <inNation> ?n . ?n <within>{1,2} ?a . }"
    )


def q_kg_rdf_lists(spark, sf_dir):
    """RDF collection flattening (operators/rdfstruct.py:rdf_list_members):
    each region's nations encoded as a canonical rdf:first/rdf:rest list
    (cons cells cell:r{rk}:{i}, ordered by nationkey, nil-terminated),
    then flattened back to (head, pos, member) via min-plus repeated
    squaring over the rest edges — O(log L) join rounds per length-L
    list. Oracle inverts the synthesis directly with row_number()."""
    from pyspark.sql import Window

    from dbpedia_spotlight_spark.operators.rdfstruct import rdf_list_members

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    base = nat.select(
        F.col("n_regionkey").alias("rk"),
        (F.row_number().over(w) - 1).alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy("n_regionkey")).alias("cnt"),
        F.concat(F.lit("n"), F.col("n_nationkey").cast("string")).alias(
            "member"
        ),
    )
    cell = F.concat(
        F.lit("cell:r"), F.col("rk").cast("string"), F.lit(":"),
        F.col("i").cast("string"),
    )
    nxt = F.when(
        F.col("i") + 1 < F.col("cnt"),
        F.concat(
            F.lit("cell:r"), F.col("rk").cast("string"), F.lit(":"),
            (F.col("i") + 1).cast("string"),
        ),
    ).otherwise(F.lit("rdf:nil"))
    triples = base.select(
        cell.alias("subj"), F.lit("rdf:first").alias("pred"),
        F.col("member").alias("obj"),
    ).unionByName(
        base.select(
            cell.alias("subj"), F.lit("rdf:rest").alias("pred"),
            nxt.alias("obj"),
        )
    )
    return rdf_list_members(triples)


def q_kg_reify(spark, sf_dir):
    """Statement reification (RDF Schema §5.3, rdfstruct.py:
    reify_statements): every geo fact becomes four triples under a
    content-addressed statement node (md5 of the fact) — deterministic,
    idempotent, generate-only (no shuffle beyond the input distinct).
    Oracle builds the same four legs with DuckDB's md5."""
    from dbpedia_spotlight_spark.operators.rdfstruct import reify_statements

    return reify_statements(_kg_geo_triples(spark, sf_dir))


def q_kg_unreify(spark, sf_dir):
    """Round-trip proof for reification: unreify(reify(facts)) must equal
    the original distinct fact set — the oracle IS the plain geo triple
    CTE, so a hash match certifies losslessness. unreify is one groupBy
    pivot on the statement node (map-side combinable, no join)."""
    from dbpedia_spotlight_spark.operators.rdfstruct import (
        reify_statements,
        unreify_statements,
    )

    return unreify_statements(reify_statements(_kg_geo_triples(spark, sf_dir)))


def q_kg_katz(spark, sf_dir):
    """Katz centrality over the entity co-occurrence KG
    (operators/graph.py:katz_centrality): attenuated inbound-walk count,
    x_{t+1} = β + α·Aᵀx_t, 3 rounds, α=0.1 — the non-normalized
    complement to kg_pagerank (no out-degree split, so heavily-citing
    hubs don't dilute their endorsements). Oracle = the rounds unrolled
    in SQL over the same symmetrized edge set."""
    from dbpedia_spotlight_spark.operators.graph import katz_centrality

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    sym = edges.select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    ).unionByName(
        edges.select(
            F.col("dst_uri").alias("src"), F.col("src_uri").alias("dst")
        )
    )
    k = katz_centrality(sym, iterations=3, alpha=0.1, beta=1.0)
    return k.select("node", F.round("katz", 6).alias("katz"))


def q_kg_walks(spark, sf_dir):
    """Deterministic random walks for graph-embedding corpora
    (operators/graph.py:deterministic_walks — DeepWalk's sampling stage
    with hash draws instead of RNG state, so a re-executed task emits
    identical walks): 2-hop walks from every node of the geo containment
    graph. Oracle = the steps unrolled with the same md5-argmin in
    DuckDB, which certifies cross-engine reproducibility — the whole
    point of the operator."""
    from dbpedia_spotlight_spark.operators.graph import deterministic_walks

    t = _kg_geo_triples(spark, sf_dir)
    e = (
        t.filter(F.col("pred").isin("inNation", "within"))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )
    return deterministic_walks(e, walk_length=2, walks_per_node=1)


def q_kg_asof(spark, sf_dir):
    """Temporal KB as-of snapshot (operators/temporal.py): every order
    contributes a change log — status OPEN at o_orderdate, the final
    o_orderstatus 30 days later — folded to interval-versioned facts
    (one window pass, no join) and snapshotted at 1995-06-17. Oracle
    computes the same snapshot closed-form with a CASE over the
    interval arithmetic."""
    from dbpedia_spotlight_spark.operators.temporal import (
        fold_changelog,
        kb_as_of,
    )

    return kb_as_of(
        fold_changelog(_order_status_changelog(spark, sf_dir)),
        "1995-06-17",
    )


def q_kg_kb_delta(spark, sf_dir):
    """Temporal KB delta (operators/temporal.py:kb_changes_between): the
    add/del fact set moving the order-status KB from the 1995-06-17
    snapshot to 1996-06-17 — what an incremental downstream consumer
    applies instead of re-reading the snapshot. One pass over the
    version table + full-outer join of the two filtered states."""
    from dbpedia_spotlight_spark.operators.temporal import (
        fold_changelog,
        kb_changes_between,
    )

    return kb_changes_between(
        fold_changelog(_order_status_changelog(spark, sf_dir)),
        "1995-06-17",
        "1996-06-17",
    )


def _order_status_changelog(spark, sf_dir):
    """Deterministic fact change log from orders: (o<key>, status) is
    OPEN from o_orderdate and becomes the terminal o_orderstatus 30
    days later (TPC-H statuses O/F/P never collide with 'OPEN')."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    subj = F.concat(F.lit("o"), F.col("o_orderkey").cast("string"))
    c1 = o.select(
        subj.alias("subj"),
        F.lit("status").alias("pred"),
        F.lit("OPEN").alias("obj"),
        F.col("o_orderdate").alias("ts"),
    )
    c2 = o.select(
        subj.alias("subj"),
        F.lit("status").alias("pred"),
        F.col("o_orderstatus").alias("obj"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("ts"),
    )
    return c1.unionByName(c2)


def q_kg_shacl_terms(spark, sf_dir):
    """SHACL value-term constraints (operators/shacl.py round-4
    extension — sh:pattern on literal content, sh:nodeKind against the
    quoted-literal term convention): nation names as quoted literals
    checked against ^[A-C], raw-name code values violating
    nodeKind=Literal. Oracle replays both predicates in SQL."""
    from dbpedia_spotlight_spark.operators.shacl import shacl_validate

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    tri = (
        nat.select(
            n.alias("subj"), F.lit("rdf:type").alias("pred"),
            F.lit("Nation").alias("obj"),
        )
        .unionByName(
            nat.select(
                n.alias("subj"), F.lit("named").alias("pred"),
                F.concat(F.lit('"'), F.col("n_name"), F.lit('"')).alias("obj"),
            )
        )
        .unionByName(
            nat.select(
                n.alias("subj"), F.lit("code").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
    )
    shapes = spark.createDataFrame(
        [
            ("Nation", "named", None, None, None, "^[A-C]", None,
             "Literal", None),
            ("Nation", "code", None, None, None, None, None,
             "Literal", None),
        ],
        "target_class string, pred string, min_count long, "
        "max_count long, value_class string, pattern string, "
        "datatype string, node_kind string, in_values string",
    )
    return shacl_validate(tri, shapes)


def q_kg_coref(spark, sf_dir):
    """Within-doc coreference chains (operators/coref.py): every mention
    links to its nearest earlier token-containing antecedent; chain ids
    resolve to the root mention by pointer doubling (O(log chain)
    rounds). The _occs mentions are single tokens, so containment
    reduces to equality here and the oracle states the result closed-
    form with window functions (nearest-earlier = max-over-preceding,
    chain root = min-over-partition); the multi-token containment path
    is pinned by pytest (tests/test_coref.py)."""
    from dbpedia_spotlight_spark.operators.coref import (
        coref_chain_ids,
        coref_links,
    )

    m = _occs(spark, sf_dir).select("doc_id", "pos", "surface_form")
    links = coref_links(m)
    ids = coref_chain_ids(m, links)
    return (
        m.join(
            links.select("doc_id", "pos", "antecedent_pos"),
            ["doc_id", "pos"],
            "left",
        )
        .join(ids, ["doc_id", "pos"])
        .select("doc_id", "pos", "surface_form", "antecedent_pos", "chain_id")
    )


def q_kg_pred_align(spark, sf_dir):
    """PARIS-style cross-KB predicate alignment (operators/kbaugment.py:
    predicate_alignment): kb2 re-expresses the geo facts under renamed
    predicates (locatedIn/containedBy/label) with only even-key
    customers, and instance-pair Jaccard recovers the schema mapping —
    one shuffle on (subj, obj), predicate pairs that share no instance
    never meet. Oracle mirrors the join + Jaccard arithmetic."""
    from dbpedia_spotlight_spark.operators.kbaugment import (
        predicate_alignment,
    )

    kb1 = _kg_geo_triples(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    kb2 = (
        cust.filter(F.col("c_custkey") % 2 == 0)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey").cast("string")).alias(
                "subj"
            ),
            F.lit("locatedIn").alias("pred"),
            F.concat(F.lit("n"), F.col("c_nationkey").cast("string")).alias(
                "obj"
            ),
        )
        .unionByName(
            nat.select(
                F.concat(
                    F.lit("n"), F.col("n_nationkey").cast("string")
                ).alias("subj"),
                F.lit("containedBy").alias("pred"),
                F.concat(
                    F.lit("r"), F.col("n_regionkey").cast("string")
                ).alias("obj"),
            )
        )
        .unionByName(
            nat.select(
                F.concat(
                    F.lit("n"), F.col("n_nationkey").cast("string")
                ).alias("subj"),
                F.lit("label").alias("pred"),
                F.col("n_name").alias("obj"),
            )
        )
        .unionByName(
            reg.select(
                F.concat(
                    F.lit("r"), F.col("r_regionkey").cast("string")
                ).alias("subj"),
                F.lit("label").alias("pred"),
                F.col("r_name").alias("obj"),
            )
        )
    )
    return predicate_alignment(kb1, kb2, min_jaccard=0.2)


def q_kg_subsumption(spark, sf_dir):
    """Class-subsumption induction from instance overlap
    (operators/kbaugment.py:subsumption_mining, Völker & Niepert 2011):
    BUILDING customers double-typed BuildingCustomer and region-2
    nations AsiaNation; instance-overlap confidence proposes
    BuildingCustomer ⊑ Customer and AsiaNation ⊑ Nation while the
    reverse directions fall below the 0.95 gate. Instance-keyed
    self-join, never class x class. Oracle replays the counts."""
    from dbpedia_spotlight_spark.operators.kbaugment import (
        subsumption_mining,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = F.concat(F.lit("c"), F.col("c_custkey").cast("string"))
    n = F.concat(F.lit("n"), F.col("n_nationkey").cast("string"))
    types = (
        cust.select(
            c.alias("subj"), F.lit("rdf:type").alias("pred"),
            F.lit("Customer").alias("obj"),
        )
        .unionByName(
            cust.filter(F.col("c_mktsegment") == "BUILDING").select(
                c.alias("subj"), F.lit("rdf:type").alias("pred"),
                F.lit("BuildingCustomer").alias("obj"),
            )
        )
        .unionByName(
            nat.select(
                n.alias("subj"), F.lit("rdf:type").alias("pred"),
                F.lit("Nation").alias("obj"),
            )
        )
        .unionByName(
            nat.filter(F.col("n_regionkey") == 2).select(
                n.alias("subj"), F.lit("rdf:type").alias("pred"),
                F.lit("AsiaNation").alias("obj"),
            )
        )
    )
    return subsumption_mining(types, min_support=2, min_confidence=0.95)


def q_kg_bgp_two_optionals(spark, sf_dir):
    """Multiple OPTIONAL groups (SPARQL 1.1 §5.4 iterated left-join
    algebra — the round-3 gap: the API took exactly one group): ?r binds
    only for nations whose region is named ASIA, ?s only for BUILDING
    customers; everything else survives as null. Oracle = two LEFT JOINs
    over the same conjunctive subqueries."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t,
        """SELECT ?c ?n ?r ?s WHERE {
             ?c <inNation> ?n .
             OPTIONAL { ?n <within> ?r . ?r <named> 'ASIA' . }
             OPTIONAL { ?c <segment> ?s . }
           }""",
    )


def q_kg_values_multi(spark, sf_dir):
    """Multi-variable VALUES inline data (SPARQL 1.1 §10.2, round-3 gap:
    only single-variable VALUES parsed): restrict (segment, nation)
    binding pairs with a two-column VALUES block — compiled to a
    broadcast left-semi join against the literal table. Oracle = a row
    IN-list."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t,
        """SELECT ?c ?s ?n WHERE {
             ?c <segment> ?s .
             ?c <inNation> ?n .
             VALUES (?s ?n) { ('BUILDING' 'n1') ('BUILDING' 'n2') }
           }""",
    )


def _serializer_annotations(spark, sf_dir):
    """Annotations-table fixture for the S12 serializers: the
    deterministic micro-world gold occurrences with char offsets, the
    dict prior as similarityScore and its complement as
    percentageOfSecondRank (all SQL-replayable)."""
    return _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _char_offset().alias("offset"),
        "surface_form",
        "uri",
        F.col("pair_count").cast("long").alias("support"),
        F.col("prior").alias("similarity_score"),
        F.round(F.lit(1.0) - F.col("prior"), 4).alias(
            "percentage_second_rank"
        ),
        F.array().cast("array<string>").alias("types"),
    )


def q_annotations_json(spark, sf_dir):
    """S12: the Spotlight REST JSON response shape (xml2json of makeXML —
    "@"-prefixed attribute keys, Resources sorted by offset), one JSON
    document per doc_id, built entirely with to_json(struct(...)) —
    pipeline/serializers.py:annotations_to_json; ref
    rest/.../OutputManager.java:78-141,231-240. Oracle = DuckDB to_json
    over the same struct shape (both engines emit compact Jackson-style
    JSON with identical escaping)."""
    from dbpedia_spotlight_spark.pipeline.serializers import (
        annotations_to_json,
    )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return annotations_to_json(
        _serializer_annotations(spark, sf_dir), docs,
        confidence=0.1, support=10,
    )


def q_annotations_xml(spark, sf_dir):
    """S12: the makeXML <Annotation>/<Resources>/<Resource> document
    (attributes in reference order, XML-escaped), one string per doc_id
    — pipeline/serializers.py:annotations_to_xml; ref
    rest/.../OutputManager.java:78-141. Oracle = the same concat/escape
    chain in SQL."""
    from dbpedia_spotlight_spark.pipeline.serializers import (
        annotations_to_xml,
    )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return annotations_to_xml(
        _serializer_annotations(spark, sf_dir), docs,
        confidence=0.1, support=10,
    )


def q_kg_construct(spark, sf_dir):
    """SPARQL CONSTRUCT (§16.2 — the KG-construction query form,
    operators/kgquery.py:sparql_construct): rewrite the customer→nation
    edges into a bidirectional membership graph; template instantiation
    per solution, constants pass through, result is the DISTINCT graph.
    Oracle = the two template selects unioned."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_construct

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_construct(
        t,
        """CONSTRUCT { ?n <hasMember> ?c . ?c <memberOf> ?n . }
           WHERE { ?c <inNation> ?n . }""",
    )


def q_kg_path_inverse(spark, sf_dir):
    """SPARQL 1.1 inverse property path (§9.1 ^elt) through the parser:
    nations with their members via ^<inNation>, then the nation's label
    via <named> — one inverse hop composed into a sequence. Oracle = the
    same join with subject/object swapped."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t, "SELECT ?n ?c ?label WHERE { ?n ^<inNation> ?c . "
           "?n <named> ?label . }"
    )


def q_kg_ask(spark, sf_dir):
    """SPARQL ASK (§16.3, operators/kgquery.py:sparql_ask): existence
    probe compiled to limit(1)-isEmpty — one boolean row. Oracle =
    SELECT EXISTS(...)."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_ask

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_ask(
        t, "ASK { ?c <segment> 'BUILDING' . ?c <inNation> 'n1' . }"
    )


def q_kg_negated_path(spark, sf_dir):
    """SPARQL 1.1 negated property set (§9.1 PathNegatedPropertySet,
    operators/kgquery.py:_path_df 'negset'): every edge whose predicate
    is NOT within/named — one scan with a pushed NOT-IN filter, never an
    enumeration of the predicate vocabulary. Oracle = pred NOT IN."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t, "SELECT ?s ?o WHERE { ?s !(<within>|<named>) ?o . }"
    )


def q_kg_bind(spark, sf_dir):
    """SPARQL BIND (§7.6, operators/kgquery.py:sparql_select): computed
    variable over bound ones — LCASE(?label) via the §17 builtin map,
    one withColumn, stays in codegen. Oracle = lower(obj)."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t,
        "SELECT ?n ?label ?u WHERE { ?n <named> ?label . "
        "BIND(LCASE(?label) AS ?u) }",
    )


def q_kg_not_exists(spark, sf_dir):
    """SPARQL FILTER NOT EXISTS (§8.1): customers with no BUILDING
    segment edge — compiled to one left-anti join on the shared variable
    (never a per-row subquery). Oracle = ANTI JOIN."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t,
        "SELECT ?c ?n WHERE { ?c <inNation> ?n . "
        "FILTER NOT EXISTS { ?c <segment> 'BUILDING' . } }",
    )


def q_kg_having(spark, sf_dir):
    """SPARQL GROUP BY + HAVING with COUNT(*) (§7.5): nations with more
    than 60 member customers; the HAVING aggregate is rewritten to its
    projected alias and filtered post-aggregation (map-side combinable
    count, no second scan). Oracle = GROUP BY ... HAVING over the
    DISTINCT solution set."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t,
        "SELECT ?n (COUNT(*) AS ?members) WHERE { ?c <inNation> ?n . } "
        "GROUP BY ?n HAVING(COUNT(*) > 60)",
    )


def q_kg_count_distinct(spark, sf_dir):
    """SPARQL COUNT(DISTINCT ?v) (§18.5.1.2): number of distinct nations
    referenced by any customer — one hash-distinct aggregate. Oracle =
    COUNT(DISTINCT obj)."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t,
        "SELECT (COUNT(DISTINCT ?n) AS ?nations) "
        "WHERE { ?c <inNation> ?n . }",
    )


def q_kg_describe(spark, sf_dir):
    """SPARQL DESCRIBE (§16.4, operators/kgquery.py:sparql_describe):
    outbound concise description of every nation inside region r0 — the
    resource set is the WHERE group's bindings, semi-joined against the
    triple table in one scan. Oracle = subj IN (subquery)."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_describe

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_describe(t, "DESCRIBE ?n WHERE { ?n <within> 'r0' . }")


def q_kg_subquery(spark, sf_dir):
    """SPARQL subquery (§12, operators/kgquery.py:sparql_select):
    customers in nations with more than 60 members — the member count is
    an inline aggregate subquery joined on ?n, and the FILTER over the
    subquery-only variable ?m is deferred past that join (group-scope
    rule). Oracle = join against a HAVING subselect."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t,
        "SELECT ?c ?n WHERE { ?c <inNation> ?n . "
        "{ SELECT ?n (COUNT(*) AS ?m) WHERE { ?x <inNation> ?n . } "
        "GROUP BY ?n } FILTER(?m > 60) }",
    )


def q_kg_group_concat(spark, sf_dir):
    """SPARQL GROUP_CONCAT with SEPARATOR (§18.5.1.7): the nation/region
    labels contained in each region, pipe-joined; values are sorted
    before joining so the result is deterministic under Spark's
    unordered groups. Oracle = string_agg(... ORDER BY ...)."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t,
        "SELECT ?r (GROUP_CONCAT(?label ; SEPARATOR = '|') AS ?names) "
        "WHERE { ?n <within> ?r . ?n <named> ?label . } GROUP BY ?r",
    )


def q_annotate_windowed(spark, sf_dir):
    """Flagship DAG with D2 context windowing wired in at the reference
    default MAX_CONTEXT=250 (DBTwoStepDisambiguator.scala:72,89-119):
    documents longer than 250 tokens are scored against per-window
    context vectors instead of one whole-doc vector — the plan the
    reference uses for long documents, now on the bench path (round-3
    item #7) AND the library default (r5). Rows-only driver check for
    THIS full-FSA variant only: since r5 the windowed generative
    scoring chain itself IS fully hash-checked end-to-end by
    `annotate_windowed_scored` (injected-tokenization twin, same
    library code path, window W=10 so windowing genuinely engages at
    test scale); the window-assignment operator is additionally pinned
    by `d2_windows` and a long-doc pytest fixture."""
    docs = _docs(spark, sf_dir)
    iv = flat_to_interleaved_media(docs)
    occ = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "surface_form", "uri"
    )
    tokens = tokenize_documents(iv)
    model = build_model_from_occurrences(iv, occ, tokens)
    ann = annotate(iv, model, use_context=True, max_context_tokens=250)
    return ann.select(
        "doc_id",
        "span_pos",
        "offset",
        "surface_form",
        "uri",
        F.round("similarity_score", 6).alias("similarity_score"),
        F.round("contextual_score", 6).alias("contextual_score"),
        "res_id",
        "support",
        "rank",
    )


_BPE_MERGES = 6


def q_bpe_learn(spark, sf_dir):
    """Distributed BPE tokenizer training (datapipe/bpe.py:learn_bpe —
    Sennrich iterative pair merging over the word-frequency table; one
    pair-explode + map-side-combinable groupBy and ONE scalar collect
    per round, greedy merge application as a JVM-side F.aggregate fold,
    zero UDF). Deterministic tie-break (count DESC, left ASC, right
    ASC). Oracle = the same six rounds in DuckDB over a '·'-wrapped
    symbol-string representation where the greedy left-to-right fold is
    exactly non-overlapping replace('·a··b·' -> '·ab·')."""
    from dbpedia_spotlight_spark.datapipe.bpe import learn_bpe

    docs = _docs(spark, sf_dir).select("text")
    merges, _ = learn_bpe(docs, num_merges=_BPE_MERGES)
    return spark.createDataFrame(
        [(i + 1, a, b, c) for i, (a, b, c) in enumerate(merges)],
        "merge_rank int, lhs string, rhs string, pair_count long",
    )


def q_bpe_tokens(spark, sf_dir):
    """Corpus token frequencies under the learned BPE merges
    (datapipe/bpe.py:token_frequencies — the encode fold applied to the
    vocab once, token counts freq-weighted; corpus-side cost is one
    regexp tokenize + one groupBy). Covers the encode path end-to-end
    against the DuckDB replay of the same merges."""
    from dbpedia_spotlight_spark.datapipe.bpe import (
        learn_bpe,
        token_frequencies,
    )

    docs = _docs(spark, sf_dir).select("text")
    merges, _ = learn_bpe(docs, num_merges=_BPE_MERGES)
    return token_frequencies(docs, merges).select(
        "token", F.col("n").cast("long").alias("n")
    )


def q_rdfxml_blocks(spark, sf_dir):
    """S12 RDF/XML serializer (functions/rdf.py:to_rdfxml): one
    rdf:Description block per subject, property elements carrying their
    own inline xmlns (namespace = predicate IRI minus its NCName tail),
    IRI objects as rdf:resource attributes, literals as escaped text
    content, elements sorted inside the block. Completes the at-rest
    RDF family (NT/NQ/Turtle/JSON-LD/RDF-XML). Oracle = the same
    escape + split + string_agg in DuckDB."""
    from dbpedia_spotlight_spark.functions.rdf import to_rdfxml

    return to_rdfxml(q_nif_triples(spark, sf_dir))


def q_kg_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction over the entity co-occurrence graph
    (operators/graph.py:adamic_adar): non-adjacent pairs scored
    sum(1/ln(deg(y))) over common neighbors y — rare shared neighbors
    outweigh hubs, the strongest of the local predictors in
    Liben-Nowell/Kleinberg's study and the weighted refinement of
    kg_two_hop's raw common-neighbor count. Candidates only from the
    wedge self-join, never all-pairs."""
    from dbpedia_spotlight_spark.operators.graph import adamic_adar

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150).select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    )
    return adamic_adar(edges).select(
        F.col("a").alias("src_uri"),
        F.col("b").alias("dst_uri"),
        "n_common",
        "score",
    )


def q_kg_graph_summary(spark, sf_dir):
    """Global KG health profile (operators/graph.py:graph_summary):
    nodes, edges, avg/max degree, triangle count, transitivity
    (3T/wedges, Newman 2003) and degree assortativity (Newman 2002
    endpoint-degree Pearson) over the entity co-occurrence graph — the
    snapshot-over-snapshot regression check a production KG build runs
    before shipping. All scalar reductions; triangles via the
    degree-ordered compact-forward join."""
    from dbpedia_spotlight_spark.operators.graph import graph_summary

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150).select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    )
    return graph_summary(edges)


def q_iv_stats(spark, sf_dir):
    """Per-document modality profile over the rich interleaved synth
    (two media spans of cycling kinds): zero-shuffle array folds."""
    from dbpedia_spotlight_spark.datapipe.interleaved import (
        flat_to_interleaved_multi,
        interleaved_stats,
    )

    iv = flat_to_interleaved_multi(_docs(spark, sf_dir))
    return interleaved_stats(iv).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_spans", "n_text", "n_image", "n_audio", "n_video",
        "text_chars", "text_tokens", "first_media_idx", "media_ratio",
    )


def q_iv_media_context(spark, sf_dir):
    """Caption-context harvesting: flanking words for every media span
    (one doc-partitioned window, slicing in column math)."""
    from dbpedia_spotlight_spark.datapipe.interleaved import (
        flat_to_interleaved_multi,
        media_context,
    )

    iv = flat_to_interleaved_multi(_docs(spark, sf_dir))
    return media_context(iv, n_words=4).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "span_idx", "kind", "media_ref", "before_text", "after_text",
    )


def q_iv_pack(spark, sf_dir):
    """Multimodal concat-and-chunk packing (media atomic, text splits
    exact) at a 2048-token budget; the prefix sum is distributed."""
    from dbpedia_spotlight_spark.datapipe.interleaved import (
        flat_to_interleaved_multi,
        pack_interleaved,
    )

    iv = flat_to_interleaved_multi(_docs(spark, sf_dir))
    return pack_interleaved(iv, budget=2048).select(
        "chunk_id",
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "span_idx", "kind", "media_ref", "tok_start", "n_tok_slice",
    )


def q_iv_span_diff(spark, sf_dir):
    """North-rule span-sequence invariant as a regression diff: compare
    the synth against a deterministically perturbed twin (doc_id%13==5
    dropped, %7==0 truncated by one span, %11==3 first-span text edited,
    one synthetic extra doc) and emit one row per differing doc."""
    from dbpedia_spotlight_spark.datapipe.interleaved import (
        flat_to_interleaved_multi,
        span_diff,
    )

    iv = flat_to_interleaved_multi(_docs(spark, sf_dir))
    d = F.col("doc_id").cast("bigint")
    pert = (
        iv.filter(d % 13 != 5)
        .withColumn(
            "spans",
            F.when(
                d % 7 == 0, F.slice("spans", 1, F.size("spans") - 1)
            )
            .when(
                d % 11 == 3,
                F.concat(
                    F.array(
                        F.struct(
                            F.col("spans")[0]["kind"].alias("kind"),
                            F.concat(
                                F.lit("X "), F.col("spans")[0]["text"]
                            ).alias("text"),
                            F.col("spans")[0]["media_ref"].alias("media_ref"),
                            F.col("spans")[0]["offset"].alias("offset"),
                        )
                    ),
                    F.slice("spans", 2, F.size("spans") - 1),
                ),
            )
            .otherwise(F.col("spans")),
        )
    )
    extra = spark.createDataFrame(
        [("zz_extra", [("text", "zz", None, 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    return span_diff(iv, pert.unionByName(extra)).select(
        "doc_id", "status", "n_expected", "n_actual", "first_diff_idx"
    )


def _lang_label_triples(spark, sf_dir):
    """Typed-literal triple fixture from the documents table: one
    lang-tagged label per doc ("<first 20 chars>"@<lang>) plus one
    xsd:integer-typed n_chars triple — real RDF 1.1 literal forms built
    with functions/rdfterm constructors."""
    from dbpedia_spotlight_spark.functions.rdfterm import (
        lang_literal,
        typed_literal,
    )

    docs = _docs(spark, sf_dir)
    subj = F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
    labels = docs.select(
        subj.alias("subj"),
        F.lit("http://ex/label").alias("pred"),
        lang_literal(F.substring("text", 1, 20), F.col("lang")).alias("obj"),
    )
    sizes = docs.select(
        subj.alias("subj"),
        F.lit("http://ex/nChars").alias("pred"),
        typed_literal(
            F.col("n_chars").cast("string"),
            "http://www.w3.org/2001/XMLSchema#integer",
        ).alias("obj"),
    )
    return labels.unionByName(sizes)


def q_kg_lang_literals(spark, sf_dir):
    """RDF 1.1 typed-literal term model: construct lang-tagged + typed
    literals, parse them back with the term accessors (value / lang /
    datatype) — all anchored-regex codegen, no UDF."""
    from dbpedia_spotlight_spark.functions.rdfterm import (
        term_datatype,
        term_lang,
        term_value,
    )

    tri = _lang_label_triples(spark, sf_dir)
    return tri.select(
        "subj",
        "pred",
        "obj",
        term_value("obj").alias("value"),
        term_lang("obj").alias("lang_tag"),
        term_datatype("obj").alias("datatype"),
    )


def q_kg_sparql_lang(spark, sf_dir):
    """SPARQL LANG/LANGMATCHES builtins end-to-end: RFC 4647 range
    filtering over lang-tagged literals through the SPARQL front end."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    tri = _lang_label_triples(spark, sf_dir)
    return sparql_select(
        tri,
        "SELECT ?s ?o WHERE { ?s <http://ex/label> ?o . "
        "FILTER(LANGMATCHES(LANG(?o), 'en')) }",
    )


def _nation_quads(spark, sf_dir):
    """Quad table (subj, pred, obj, graph): per-nation named graphs of
    customer facts (segment + name) plus a 'meta' graph labelling each
    nation graph — the provenance layout to_nquads/lift_named_graphs
    serialize and the GRAPH clause queries."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    g = F.concat(F.lit("nation"), F.col("c_nationkey"))
    c = F.concat(F.lit("c"), F.col("c_custkey"))
    return (
        cust.select(
            c.alias("subj"), F.lit("segment").alias("pred"),
            F.col("c_mktsegment").alias("obj"), g.alias("graph"),
        )
        .unionByName(
            cust.select(
                c.alias("subj"), F.lit("named").alias("pred"),
                F.col("c_name").alias("obj"), g.alias("graph"),
            )
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("nation"), F.col("n_nationkey")).alias("subj"),
                F.lit("label").alias("pred"),
                F.col("n_name").alias("obj"),
                F.lit("meta").alias("graph"),
            )
        )
    )


def q_kg_graph_clause(spark, sf_dir):
    """SPARQL 1.1 §13 GRAPH clause over a named-graph quad dataset
    (operators/kgquery.py:sparql_select_quads + graph_bgp_match): the
    default-graph block matches the union of all graphs (?g <label>
    ?nname binds each nation graph's name from the meta graph), the
    GRAPH ?g group joins two patterns WITHIN one graph (BUILDING-segment
    customers and their names, co-located per nation graph), blocks join
    on the shared graph variable, and a FILTER drops one nation. The
    reference's SPARQL endpoint (core/.../sparql/SparqlQueryExecuter.java)
    forwards full SPARQL incl. GRAPH to DBpedia; this is the engine-side
    dataset algebra. Oracle = the same conjunctive query as SQL with an
    explicit same-graph equi-join."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select_quads

    return sparql_select_quads(
        _nation_quads(spark, sf_dir),
        "SELECT ?g ?c ?cname WHERE { "
        "?g <label> ?nname . "
        "GRAPH ?g { ?c <segment> 'BUILDING' . ?c <named> ?cname . } "
        "FILTER(?nname != 'FRANCE') }",
    )


def _claim_quads(spark, sf_dir):
    """Conflicting multi-source claims from orders: each order priority
    is a 'source' (named graph) asserting the status of its customer —
    different orders of one customer genuinely disagree, giving real
    conflict groups for truth discovery."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return orders.select(
        F.concat(F.lit("c"), F.col("o_custkey")).alias("subj"),
        F.lit("status").alias("pred"),
        F.col("o_orderstatus").alias("obj"),
        F.col("o_orderpriority").alias("graph"),
    )


def q_kg_bnode_canon(spark, sf_dir):
    """Blank-node canonical labeling (functions/rdf.py:
    canonical_bnode_labels — the 1-WL color-refinement core of W3C
    RDF-CANON/URDNA2015, 2 rounds unrolled): reified orders and their
    customers as blank nodes; two bnodes share a label iff their 2-hop
    neighborhoods are indistinguishable, independent of bnode numbering
    — the RDF-level dedup/diff primitive. md5 is used as the label hash
    because it is bit-identical across engines (not a security use);
    the oracle replays both rounds with DuckDB's md5 over the same
    sorted signature multisets."""
    from dbpedia_spotlight_spark.functions.rdf import canonical_bnode_labels

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = F.concat(F.lit("_:o"), F.col("o_orderkey"))
    c = F.concat(F.lit("_:c"), F.col("o_custkey"))
    tri = (
        orders.select(
            o.alias("subj"), F.lit("by").alias("pred"), c.alias("obj")
        )
        .unionByName(
            orders.select(
                o.alias("subj"),
                F.lit("status").alias("pred"),
                F.col("o_orderstatus").alias("obj"),
            )
        )
        .unionByName(
            cust.select(
                F.concat(F.lit("_:c"), F.col("c_custkey")).alias("subj"),
                F.lit("seg").alias("pred"),
                F.col("c_mktsegment").alias("obj"),
            )
        )
    )
    return canonical_bnode_labels(tri, iterations=2)


def q_kg_fact_fusion(spark, sf_dir):
    """Truth discovery over multi-source claims
    (operators/fusion.py:fact_fusion — TruthFinder/Sums-family mutual
    reinforcement, 2 rounds unrolled): per-source trust = mean
    confidence of its claims, per-fact confidence = trust-weighted vote
    share within the (subj, pred) conflict group. The reference merges
    extractor outputs with no provenance weighting
    (index/.../CreateSpotlightModel.scala); this is the standard
    KG-construction conflict-resolution step (Knowledge Vault, KDD'14).
    Oracle = the same two rounds as SQL CTEs with identical per-round
    round(6) resync."""
    from dbpedia_spotlight_spark.operators.fusion import fact_fusion

    return fact_fusion(_claim_quads(spark, sf_dir), rounds=2)


def q_kg_conflict_resolution(spark, sf_dir):
    """Winner selection per conflict group
    (operators/fusion.py:resolve_conflicts): argmax confidence with
    (n_sources, lexicographic object) tie-breaks — emits a functional,
    conflict-free triple table ready for closure/entailment/export.
    Window is partitioned by the bounded (subj, pred) group, no global
    sort. Oracle = ROW_NUMBER twin."""
    from dbpedia_spotlight_spark.operators.fusion import (
        fact_fusion,
        resolve_conflicts,
    )

    return resolve_conflicts(fact_fusion(_claim_quads(spark, sf_dir), rounds=2))


def _ring_edges(spark, sf_dir):
    """Shared cyclic fixture for the SCC/centrality queries: nations form
    one directed ring per region (each nation points at the next
    nationkey in its region, the largest wraps to the smallest), and
    every customer points at its nation — so nations are genuine
    multi-node SCCs and customers are singleton sources. Deterministic
    from the TPC-H keys; the oracle rebuilds it with the same window."""
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    w = Window.partitionBy("n_regionkey").orderBy("n_nationkey")
    ring = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("src"),
        F.concat(
            F.lit("n"),
            F.coalesce(
                F.lead("n_nationkey").over(w),
                F.first("n_nationkey").over(
                    w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
                ),
            ),
        ).alias("dst"),
    )
    tails = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("dst"),
    )
    return ring.unionByName(tails)


def q_kg_scc(spark, sf_dir):
    """Strongly connected components of a directed KG with cycles
    (operators/graph.py:strongly_connected_components — mutual
    reachability over the repeated-squaring closure, min-id labels).
    The reference hits this exact shape in redirect loops
    (core/.../RedirectResolver) and skos:broader cycles; collapsing
    SCCs first is what makes the closure/entailment DAG assumptions
    true. Fixture: nation rings per region (real multi-node SCCs) +
    customer tails (singletons). Oracle = recursive-CTE reachability,
    mutual-pair join, min-groupBy."""
    from dbpedia_spotlight_spark.operators.graph import (
        strongly_connected_components,
    )

    return strongly_connected_components(_ring_edges(spark, sf_dir))


def q_kg_closeness(spark, sf_dir):
    """Closeness + harmonic centrality over the directed ring-and-tails
    graph (operators/graph.py:closeness_centrality — min-plus
    repeated-squaring distance matrix, log-diameter joins, then one
    groupBy). Harmonic is the disconnected-safe variant (Marchiori &
    Latora 2000); closeness carries the Wasserman-Faust partial-reach
    correction. Oracle = recursive-CTE min-distance twin with the same
    normalization, both sides rounded to 6 dp."""
    from dbpedia_spotlight_spark.operators.graph import closeness_centrality

    c = closeness_centrality(_ring_edges(spark, sf_dir))
    return c.select(
        "node",
        "reached",
        "total_dist",
        F.round("closeness", 6).alias("closeness"),
        F.round("harmonic", 6).alias("harmonic"),
    )


def q_kg_exists(spark, sf_dir):
    """Positive FILTER EXISTS through the SPARQL parser (§8.1.1 —
    operators/kgquery.py:sparql_select): customers kept only when a
    correlated pattern matches (they carry a segment edge, which only
    BUILDING customers do). The negative twin kg_not_exists is already
    on record; this pins the semi-join half of the pair. Oracle =
    EXISTS subquery."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    return sparql_select(
        t,
        "SELECT ?c ?n WHERE { ?c <inNation> ?n . "
        "FILTER EXISTS { ?c <segment> ?s . } }",
    )


def q_kg_interval_align(spark, sf_dir):
    """Allen interval-algebra alignment of two temporal fact families
    about the same entity (operators/temporal.py:interval_align — one
    equi-join on the entity key, then the 13-relation CASE chain in
    codegen; Allen 1983): each order's 30-day processing window vs each
    of its line items' [commit, receipt) windows. The temporal-
    consistency primitive a KB with validity intervals needs (does fact
    A's validity contain / overlap / precede fact B's?). Oracle = the
    same CASE chain in SQL; relations are mutually exclusive so branch
    order is immaterial."""
    from dbpedia_spotlight_spark.operators.temporal import interval_align

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        F.concat(F.lit("o"), F.col("o_orderkey")).alias("okey"),
        F.to_date("o_orderdate").alias("valid_from"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("valid_to"),
    )
    items = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        F.concat(F.lit("o"), F.col("l_orderkey")).alias("okey"),
        F.to_date("l_shipdate").alias("valid_from"),
        F.date_add(
            F.to_date("l_shipdate"), F.col("l_quantity").cast("int") + 1
        ).alias("valid_to"),
    )
    out = interval_align(orders, items, on="okey")
    return out.select(
        "key",
        F.date_format("l_start", "yyyy-MM-dd").alias("l_start"),
        F.date_format("l_end", "yyyy-MM-dd").alias("l_end"),
        F.date_format("r_start", "yyyy-MM-dd").alias("r_start"),
        F.date_format("r_end", "yyyy-MM-dd").alias("r_end"),
        "relation",
    )


def q_kg_interval_overlaps(spark, sf_dir):
    """Keyless interval-overlap self-join at scale
    (operators/temporal.py:interval_overlap_pairs — day-grid bucketing
    turns the quadratic theta-join into one equi-join on time buckets +
    a post-filter, Dignös et al. SIGMOD'14): concurrent order windows
    inside one nation's customer base (which orders were in flight
    together — the KB's "co-valid facts" question). Oracle = the plain
    range self-join, which DuckDB can afford at this scale; matching it
    proves the bucketed plan is lossless."""
    from dbpedia_spotlight_spark.operators.temporal import (
        interval_overlap_pairs,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_nationkey") == 7
    )
    orders = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .join(cust.select(F.col("c_custkey").alias("o_custkey")), "o_custkey")
        .select(
            F.concat(F.lit("o"), F.col("o_orderkey")).alias("id"),
            F.to_date("o_orderdate").alias("valid_from"),
            F.date_add(F.to_date("o_orderdate"), 30).alias("valid_to"),
        )
    )
    pairs = interval_overlap_pairs(orders)
    return pairs.select(
        "a",
        "b",
        F.date_format("a_start", "yyyy-MM-dd").alias("a_start"),
        F.date_format("a_end", "yyyy-MM-dd").alias("a_end"),
        F.date_format("b_start", "yyyy-MM-dd").alias("b_start"),
        F.date_format("b_end", "yyyy-MM-dd").alias("b_end"),
    )


def _typed_instance_triples(spark, sf_dir):
    """Typed instance graph for shape mining: Customer and Nation classes
    with rdf:type rows, IRI edges (inNation/within), plain literals
    (name), typed integer literals (bal), and a BUILDING-only segment
    edge so one predicate is genuinely optional."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    c = F.concat(F.lit("c"), F.col("c_custkey"))
    return (
        cust.select(c.alias("subj"), F.lit("rdf:type").alias("pred"),
                    F.lit("Customer").alias("obj"))
        .unionByName(cust.select(
            c.alias("subj"), F.lit("inNation").alias("pred"),
            F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj")))
        .unionByName(cust.select(
            c.alias("subj"), F.lit("name").alias("pred"),
            F.concat(F.lit('"'), F.col("c_name"), F.lit('"')).alias("obj")))
        .unionByName(cust.select(
            c.alias("subj"), F.lit("bal").alias("pred"),
            F.concat(
                F.lit('"'), (F.col("c_custkey") % 100).cast("string"),
                F.lit('"^^<http://www.w3.org/2001/XMLSchema#integer>'),
            ).alias("obj")))
        .unionByName(cust.filter(F.col("c_mktsegment") == "BUILDING").select(
            c.alias("subj"), F.lit("segment").alias("pred"),
            F.lit('"BUILDING"').alias("obj")))
        .unionByName(nat.select(
            F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
            F.lit("rdf:type").alias("pred"), F.lit("Nation").alias("obj")))
        .unionByName(nat.select(
            F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
            F.lit("within").alias("pred"),
            F.concat(F.lit("r"), F.col("n_regionkey")).alias("obj")))
    )


def q_kg_shape_infer(spark, sf_dir):
    """SHACL shape MINING from instance data
    (operators/shacl.py:infer_shapes — the sheXer/RDF2Graph workflow:
    infer per-(class, predicate) minCount/maxCount/nodeKind/datatype/
    sh:in-enum shapes from a trusted snapshot, then enforce them on the
    next build with shacl_validate). Enum candidates are row_number-
    capped before any collect, so high-cardinality predicates (name
    here) never materialize value sets. Oracle = the same aggregates
    with string_agg over the capped distinct projection."""
    from dbpedia_spotlight_spark.operators.shacl import infer_shapes

    return infer_shapes(_typed_instance_triples(spark, sf_dir), max_in_values=8)


def q_kg_literal_outliers(spark, sf_dir):
    """Numeric-fact outlier detection
    (operators/kglayout.py:numeric_literal_outliers — Tukey far-out
    fences per predicate, the Wienand & Paulheim ESWC'14 DBpedia
    numeric-error detector): a 'bal' predicate over typed integer
    literals with deterministic unit-error injections (custkey % 97 ==
    0 gets a 100x value), plus a clean 'qty' predicate as negative
    control. Exact interpolated quartiles (percentile == DuckDB
    quantile_cont), fence table broadcast back onto the value scan.
    Oracle = the same fences in SQL."""
    from dbpedia_spotlight_spark.operators.kglayout import (
        numeric_literal_outliers,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    bal = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
        F.lit("bal").alias("pred"),
        F.concat(
            F.lit('"'),
            F.when(
                F.col("c_custkey") % 97 == 0, (F.col("c_custkey") % 100) * 100
            )
            .otherwise(F.col("c_custkey") % 100)
            .cast("string"),
            F.lit('"^^<http://www.w3.org/2001/XMLSchema#integer>'),
        ).alias("obj"),
    )
    qty = li.select(
        F.concat(F.lit("o"), F.col("l_orderkey")).alias("subj"),
        F.lit("qty").alias("pred"),
        F.concat(
            F.lit('"'), F.col("l_quantity").cast("int").cast("string"),
            F.lit('"'),
        ).alias("obj"),
    )
    out = numeric_literal_outliers(bal.unionByName(qty), k=3.0)
    return out.select(
        "pred",
        "subj",
        F.round("value", 6).alias("value"),
        F.round("lo", 6).alias("lo"),
        F.round("hi", 6).alias("hi"),
    )


def q_rdfstar_roundtrip(spark, sf_dir):
    """RDF-star statement annotations round-tripped
    (functions/rdf.py:to_turtle_star / parse_turtle_star — the W3C
    RDF-star CG syntax for fact-level provenance, the modern form of
    rdf:Statement reification already on record via kg_reify): each
    customer-nationality fact annotated with an extraction confidence
    literal and a source IRI, serialized to `<< <s> <p> o >> <ap> ao .`
    lines and parsed back. Returning the PARSED rows hash-checked
    against the original annotation set proves serializer and parser
    are mutual inverses on both IRI and literal annotation objects.
    Oracle = the original annotation set in SQL."""
    from dbpedia_spotlight_spark.functions.rdf import (
        parse_turtle_star,
        to_turtle_star,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    base = cust.select(
        F.concat(F.lit("http://ex/c"), F.col("c_custkey")).alias("subj"),
        F.lit("http://ex/inNation").alias("pred"),
        F.concat(F.lit("http://ex/n"), F.col("c_nationkey")).alias("obj"),
    )
    ann = base.select(
        "subj",
        "pred",
        "obj",
        F.lit("http://ex/confidence").alias("ann_pred"),
        F.concat(
            F.lit("0."), (F.length("subj") % 10).cast("string")
        ).alias("ann_obj"),
    ).unionByName(
        base.select(
            "subj",
            "pred",
            "obj",
            F.lit("http://ex/source").alias("ann_pred"),
            F.concat(F.lit("http://src/"), F.col("subj")).alias("ann_obj"),
        )
    )
    return parse_turtle_star(to_turtle_star(ann))


def q_kg_condensation(spark, sf_dir):
    """Condensation DAG of a cyclic graph
    (operators/graph.py:condensation — SCC labeling + endpoint
    re-mapping + distinct, self-loops dropped): the guaranteed-acyclic
    quotient that makes downstream repeated-squaring closures converge
    in log(depth) rounds on graphs with redirect/category cycles. On
    the ring-and-tails fixture every customer edge lands on its ring's
    min-id component and the rings contribute no edges. Oracle =
    recursive-CTE SCC + the same remap."""
    from dbpedia_spotlight_spark.operators.graph import condensation

    return condensation(_ring_edges(spark, sf_dir))


def q_kg_disjoint_violations(spark, sf_dir):
    """owl:disjointWith consistency check
    (operators/kgquery.py:disjointness_violations): instances typed in
    both classes of a declared disjoint pair, including types inherited
    through the subclass closure. Fixture: customers typed by market
    segment, every 50th customer also (wrongly) typed FURNITURE, with
    FURNITURE ⊑ HomeGoods and disjointness declared against BUILDING
    directly and AUTOMOBILE at the superclass level — so one violation
    family needs the closure and one does not. Oracle = the same
    self-join in SQL."""
    from dbpedia_spotlight_spark.operators.kgquery import (
        disjointness_violations,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    c = F.concat(F.lit("c"), F.col("c_custkey"))
    types = cust.select(
        c.alias("subj"), F.lit("rdf:type").alias("pred"),
        F.col("c_mktsegment").alias("obj"),
    ).unionByName(
        cust.filter(F.col("c_custkey") % 50 == 0).select(
            c.alias("subj"), F.lit("rdf:type").alias("pred"),
            F.lit("FURNITURE").alias("obj"),
        )
    )
    disjoint = spark.createDataFrame(
        [("BUILDING", "FURNITURE"), ("HomeGoods", "AUTOMOBILE")],
        "a string, b string",
    )
    closure = spark.createDataFrame(
        [("FURNITURE", "HomeGoods")], "sub string, sup string"
    )
    return disjointness_violations(
        types, disjoint, subclass_closure=closure
    )


def _pg_tables(spark, sf_dir):
    """Property-graph fixture: customer nodes (name property for all,
    segment property only for BUILDING — a genuinely nullable column),
    nation nodes, and typed customer->nation edges carrying a weight
    property."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    nodes = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("id"),
        F.lit("Customer").alias("label"),
        F.col("c_name").alias("name"),
        F.when(
            F.col("c_mktsegment") == "BUILDING", F.col("c_mktsegment")
        ).alias("segment"),
    ).unionByName(
        nat.select(
            F.concat(F.lit("n"), F.col("n_nationkey")).alias("id"),
            F.lit("Nation").alias("label"),
            F.col("n_name").alias("name"),
            F.lit(None).cast("string").alias("segment"),
        )
    )
    edges = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("dst"),
        F.lit("IN_NATION").alias("rel"),
        (F.col("c_custkey") % 10).cast("string").alias("weight"),
    )
    return nodes, edges


def q_kg_pg_to_rdf(spark, sf_dir):
    """Property-graph -> RDF mapping
    (operators/propertygraph.py:pg_to_rdf — the neosemantics-style
    interchange: node labels to rdf:type, node properties to data
    triples with nulls skipped, relationships to triples; edge
    properties go to the RDF-star annotation table, pytest-covered).
    Pure unions of codegen projections, zero shuffle. Oracle = the same
    unions in SQL."""
    from dbpedia_spotlight_spark.operators.propertygraph import pg_to_rdf

    nodes, edges = _pg_tables(spark, sf_dir)
    triples, _ = pg_to_rdf(nodes, edges)
    return triples


def q_kg_pg_roundtrip(spark, sf_dir):
    """Property-graph round trip: pg_to_rdf then rdf_to_pg
    (operators/propertygraph.py) returns the original node table —
    label from rdf:type, properties re-pivoted via the static-list
    groupBy — hash-checked against the source nodes built directly in
    SQL. Proves the mapping pair is lossless under the property-graph
    contract (single type, single-valued properties)."""
    from dbpedia_spotlight_spark.operators.propertygraph import (
        pg_to_rdf,
        rdf_to_pg,
    )

    nodes, edges = _pg_tables(spark, sf_dir)
    triples, _ = pg_to_rdf(nodes, edges)
    back_nodes, _ = rdf_to_pg(
        triples, node_props=["name", "segment"], rel_preds=["IN_NATION"]
    )
    return back_nodes


def q_kg_best_label(spark, sf_dir):
    """Language-priority display-label selection
    (operators/kbaugment.py:best_labels — the DBpedia one-label-per-
    resource convention): nations carry de/en/untagged labels, every
    5th nation missing the de label and nation 7 carrying TWO de
    labels, priority (de, en) — exercising the range rank, the
    fallback, and the deterministic lexicographic tie-break in one
    fixture. Oracle = the same CASE rank + row_number in SQL."""
    from dbpedia_spotlight_spark.operators.kbaugment import best_labels

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    n = F.concat(F.lit("n"), F.col("n_nationkey"))
    lbl = F.lit("rdfs:label")
    labels = (
        nat.select(
            n.alias("subj"), lbl.alias("pred"),
            F.concat(F.lit('"'), F.col("n_name"), F.lit('"@en')).alias("obj"),
        )
        .unionByName(
            nat.filter(F.col("n_nationkey") % 5 != 0).select(
                n.alias("subj"), lbl.alias("pred"),
                F.concat(
                    F.lit('"'), F.lower("n_name"), F.lit('"@de')
                ).alias("obj"),
            )
        )
        .unionByName(
            nat.filter(F.col("n_nationkey") == 7).select(
                n.alias("subj"), lbl.alias("pred"),
                F.concat(
                    F.lit('"'), F.reverse(F.lower("n_name")), F.lit('"@de')
                ).alias("obj"),
            )
        )
        .unionByName(
            nat.select(
                n.alias("subj"), lbl.alias("pred"),
                F.concat(F.lit('"x-'), F.col("n_name"), F.lit('"')).alias(
                    "obj"
                ),
            )
        )
    )
    return best_labels(labels, lang_priority=("de", "en"))


def q_kg_betweenness(spark, sf_dir):
    """Exact betweenness centrality
    (operators/graph.py:betweenness_centrality — Brandes 2001 through
    the pair-dependency identity B(v) = Σ σ(s,v)·σ(v,t)/σ(s,t) over
    distance-composing pairs, computed as three equi-joins over the
    all-sources BFS σ table instead of the backward recursion). Fixture:
    the circulant graph C25(1,2) over nation keys — cyclic, diameter 13,
    with genuinely parallel shortest paths so σ > 1 everywhere. Oracle
    = recursive-CTE walk enumeration (min-length walks ARE the shortest
    paths), aggregated to the same σ table, same triple join."""
    from dbpedia_spotlight_spark.operators.graph import betweenness_centrality

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    e1 = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("n"), (F.col("n_nationkey") + 1) % 25).alias("dst"),
    )
    e2 = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("n"), (F.col("n_nationkey") + 2) % 25).alias("dst"),
    )
    b = betweenness_centrality(e1.unionByName(e2))
    return b.select("node", F.round("betweenness", 6).alias("betweenness"))


def _circulant_edges(spark, sf_dir):
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    e1 = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("n"), (F.col("n_nationkey") + 1) % 25).alias("dst"),
    )
    e2 = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("src"),
        F.concat(F.lit("n"), (F.col("n_nationkey") + 2) % 25).alias("dst"),
    )
    return e1.unionByName(e2)


def q_kg_betweenness_sampled(spark, sf_dir):
    """Pivot-SAMPLED betweenness (r5 scale path for the exact-APSP
    family — operators/graph.py:betweenness_centrality with
    sample_sources=12): Brandes-Pich pair estimator over 12
    deterministic md5-ordered pivots, one forward + one reverse
    pivot-restricted bfs_sigma (state O(k·V), never O(V²)), scaled by
    n(n-1)/(k(k-1)). Same C25(1,2) circulant as kg_betweenness. Oracle
    = the identical fixed pivot set (ORDER BY md5(node), node LIMIT
    12), forward + reverse recursive-CTE σ tables, same triple join
    and scale."""
    from dbpedia_spotlight_spark.operators.graph import betweenness_centrality

    b = betweenness_centrality(_circulant_edges(spark, sf_dir), sample_sources=12)
    return b.select("node", F.round("betweenness", 6).alias("betweenness"))


def q_kg_closeness_sampled(spark, sf_dir):
    """Probe-SAMPLED closeness/harmonic (r5 scale path —
    operators/graph.py:closeness_centrality with sample_sources=10):
    Eppstein-Wang probe estimator over 10 deterministic md5-ordered
    pivot targets, one reverse pivot-restricted bfs_sigma, per-node
    sums scaled by (n-1)/k'(v) with k' discounting a node's own
    zero-distance probe. Oracle = the same fixed probe set and scaled
    sums."""
    from dbpedia_spotlight_spark.operators.graph import closeness_centrality

    c = closeness_centrality(_circulant_edges(spark, sf_dir), sample_sources=10)
    return c.select(
        "node",
        F.round("reached", 6).alias("reached"),
        F.round("total_dist", 6).alias("total_dist"),
        F.round("closeness", 6).alias("closeness"),
        F.round("harmonic", 6).alias("harmonic"),
    )


def q_annotate_windowed_scored(spark, sf_dir):
    """The WINDOWED end-to-end annotate twin with hash-checked SCORES
    (r5 — closes the last rows-only gap): identical to d3_generative
    (injected whitespace tokens + injected spots through the REAL
    library annotate(), generative scoring, k=2) except
    max_context_tokens=10, so D2 windowing genuinely engages at test
    scale — every context vector, NIL context score and softmax runs
    per (doc_id, window_id) context instead of per document
    (operators/disambiguate.py:context_window; ref
    DBTwoStepDisambiguator.scala:72,89-119). The injected tables carry
    `ordinal` (_with_ordinals). Oracle = the d3 CTE chain re-keyed on
    ctx = doc#window (windows by token ordinal / 10, spots to the window
    of their own token — the d2_windows-green assignment)."""
    from dbpedia_spotlight_spark.operators.modelbuild import (
        build_model_from_occurrences,
    )

    docs = _docs(spark, sf_dir)
    iv = flat_to_interleaved_media(docs)
    occ = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"), "surface_form", "uri"
    )
    tokens = _tok(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _char_offset().cast("int").alias("offset"),
        F.col("token").alias("stem"),
        F.lit(False).alias("is_stopword"),
    )
    model = build_model_from_occurrences(iv, occ, tokens)
    spots = _spots(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.lit(0).alias("span_pos"),
        _char_offset().cast("int").alias("offset"),
        "surface_form",
        F.lit(1.0).alias("spot_prob"),
        F.lit("m").alias("spot_type"),
        F.array(F.col("surface_form")).alias("token_stems"),
    )
    tokens, spots = _with_ordinals(tokens, spots)
    ann = annotate(
        iv, model, use_context=True, spots=spots, tokens=tokens, k=2,
        max_context_tokens=10,
    )
    return ann.select(
        "doc_id",
        "span_pos",
        "offset",
        "surface_form",
        "uri",
        F.round("similarity_score", 6).alias("similarity_score"),
        F.round("percentage_second_rank", 6).alias("percentage_second_rank"),
        F.round("contextual_score", 6).alias("contextual_score"),
        "res_id",
        "support",
        "rank",
    )


def q_kg_eccentricity(spark, sf_dir):
    """Eccentricity / diameter profile
    (operators/graph.py:eccentricity_profile — max distance over the
    min-plus distance matrix, reached-set qualified for directed
    partial reach): the number that bounds every iterative operator's
    round count. Ring nations sit at eccentricity ring_size-1,
    customer tails one deeper. Oracle = the recursive-CTE walk
    distances aggregated with max instead of sum."""
    from dbpedia_spotlight_spark.operators.graph import eccentricity_profile

    return eccentricity_profile(_ring_edges(spark, sf_dir))


def q_kg_type_propagation(spark, sf_dir):
    """Type completion by neighbor vote
    (operators/graph.py:propagate_types — SDType's voting core,
    Paulheim & Bizer ISWC'13): untyped customers inherit the majority
    region-type of their two nation neighbors (home nation + a
    custkey-derived second), ties broken (votes desc, class asc) so
    both engines pick the same winner. Typed nodes are excluded from
    the output. Oracle = the same vote + row_number in SQL."""
    from dbpedia_spotlight_spark.operators.graph import propagate_types

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    types = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("inst"),
        F.concat(F.lit("Region"), F.col("n_regionkey")).alias("cls"),
    )
    edges = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("dst"),
    ).unionByName(
        cust.select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("src"),
            F.concat(F.lit("n"), F.col("c_custkey") % 25).alias("dst"),
        )
    )
    return propagate_types(types, edges)


def q_kg_link_pred_eval(spark, sf_dir):
    """Filtered link-prediction evaluation
    (operators/graph.py:link_prediction_ranks — the Bordes et al.
    NIPS'13 protocol): hold out the co-occurrence edges whose pair-md5
    starts with 0/1/2 (a deterministic ~19% split both engines
    reproduce byte-for-byte), score the remaining graph with
    Adamic-Adar, and rank each held-out edge among its source's
    candidates with deterministic competition ranking; pairs the
    scorer never produced come back rank NULL (a miss, never silently
    dropped). Oracle = the same split + AA + conditional-count rank in
    SQL."""
    from dbpedia_spotlight_spark.operators.graph import (
        adamic_adar,
        link_prediction_ranks,
    )

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150).select(
        F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
    )
    is_test = F.substring(
        F.md5(F.concat_ws("\x1f", F.col("src"), F.col("dst"))), 1, 1
    ).isin("0", "1", "2")
    train = edges.filter(~is_test)
    test = edges.filter(is_test)
    scores = adamic_adar(train).select(
        F.col("a").alias("src"), F.col("b").alias("dst"), "score"
    )
    r = link_prediction_ranks(scores, test)
    return r.select(
        "src", "dst", "rank",
        F.round("reciprocal_rank", 6).alias("reciprocal_rank"),
    )


def q_kg_quality_report(spark, sf_dir):
    """One-table KG quality dashboard — the composite a production
    build gates on, wiring four QA operators over one typed instance
    graph: total triples, dangling object references
    (kglayout.dangling_objects), owl:disjointWith violations
    (kgquery.disjointness_violations, FURNITURE mistype injected every
    50th customer), and numeric unit-error outliers
    (kglayout.numeric_literal_outliers, 100x bal injected every 97th).
    Each signal is a scalar reduction over the same cached scan; the
    report is their union -> (check, n). Oracle = the same counts in
    SQL."""
    from dbpedia_spotlight_spark.operators.kglayout import (
        dangling_objects,
        numeric_literal_outliers,
    )
    from dbpedia_spotlight_spark.operators.kgquery import (
        disjointness_violations,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    c = F.concat(F.lit("c"), F.col("c_custkey"))
    t = _typed_instance_triples(spark, sf_dir)
    # replace the clean bal values with the unit-error injection and
    # add the FURNITURE mistypes
    t = t.filter(F.col("pred") != "bal").unionByName(
        cust.select(
            c.alias("subj"), F.lit("bal").alias("pred"),
            F.concat(
                F.lit('"'),
                F.when(
                    F.col("c_custkey") % 97 == 0,
                    (F.col("c_custkey") % 100) * 100,
                ).otherwise(F.col("c_custkey") % 100).cast("string"),
                F.lit('"^^<http://www.w3.org/2001/XMLSchema#integer>'),
            ).alias("obj"),
        )
    ).unionByName(
        cust.filter(F.col("c_custkey") % 50 == 0).select(
            c.alias("subj"), F.lit("rdf:type").alias("pred"),
            F.lit("FURNITURE").alias("obj"),
        )
    )
    t = t.persist()
    disjoint = spark.createDataFrame(
        [("BUILDING", "FURNITURE"), ("AUTOMOBILE", "FURNITURE")],
        "a string, b string",
    )

    def row(name, df):
        return df.agg(F.count("*").cast("long").alias("n")).select(
            F.lit(name).alias("check"), "n"
        )

    return (
        row("n_triples", t)
        .unionByName(
            dangling_objects(t)
            .agg(F.sum("n_dangling").cast("long").alias("n"))
            .select(F.lit("dangling_objects").alias("check"), "n")
        )
        .unionByName(
            row("disjoint_violations", disjointness_violations(t, disjoint))
        )
        .unionByName(
            row("numeric_outliers", numeric_literal_outliers(t, k=3.0))
        )
    )


def q_kg_datalog(spark, sf_dir):
    """User-defined inference rules run to fixpoint
    (operators/kgquery.py:datalog_fixpoint — the SWRL/SPIN/OWL-2-RL
    custom-rule layer generalizing the fixed entailments, bodies
    evaluated by the selectivity-ordered BGP matcher): within-
    transitivity plus a composition rule deriving customer locatedIn
    from inNation ∘ within*, saturated over the geo graph. Oracle =
    recursive-CTE within closure + the composition join, unioned with
    the base."""
    from dbpedia_spotlight_spark.operators.kgquery import datalog_fixpoint

    t = _kg_geo_triples(spark, sf_dir)
    rules = [
        ([("?x", "within", "?y"), ("?y", "within", "?z")],
         ("?x", "within", "?z")),
        ([("?c", "inNation", "?n"), ("?n", "within", "?r")],
         ("?c", "locatedIn", "?r")),
    ]
    return datalog_fixpoint(t, rules)


def q_kg_r2rml(spark, sf_dir):
    """R2RML-lite customized RDB->RDF mapping
    (operators/kglayout.py:r2rml_map — the configured half of RDB2RDF
    that direct_mapping's zero-config rules can't express): orders
    lifted with a template-minted subject IRI, a template OBJECT map
    joining to the customer subject space (the R2RML referencing-
    object-map shape), and two literal column maps, plus the class
    triple. Pure codegen projections unioned, zero shuffle. Oracle =
    the same concats in SQL."""
    from dbpedia_spotlight_spark.operators.kglayout import r2rml_map

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return r2rml_map(
        orders,
        "http://ex/order/{o_orderkey}",
        [
            ("http://ex/placedBy", "http://ex/customer/{o_custkey}"),
            ("http://ex/status", "o_orderstatus"),
            ("http://ex/priority", "o_orderpriority"),
        ],
        rdf_type="http://ex/Order",
    )


def q_kg_nil_clustering(spark, sf_dir):
    """Context-aware NIL clustering
    (operators/kbaugment.py:nil_context_clusters — the TAC-KBP task:
    same-surface NIL mentions merge only when their contexts share >= 2
    distinct tokens; pairs only from the (surface, token) blocked
    self-join, union-find via pointer-doubling min-label components).
    Low-prior wikilink occurrences are the NIL mentions. Oracle = the
    same blocked pair join + recursive-CTE min-reachable components."""
    from dbpedia_spotlight_spark.operators.kbaugment import (
        nil_context_clusters,
    )

    return nil_context_clusters(
        _occs(spark, sf_dir), threshold=0.5, min_shared_tokens=2
    )


def q_kg_rule_mining(spark, sf_dir):
    """AMIE-lite horn-rule discovery
    (operators/kgquery.py:mine_composition_rules — closed path rules
    head(a,b) <= body1(a,c) ∧ body2(c,b) with CWA support/confidence,
    Galárraga WWW'13): the geo graph is seeded with ground-truth
    locatedIn facts for 90% of customers (custkey % 10 != 0), so the
    miner must recover locatedIn <= inNation ∘ within at confidence
    ~0.9 — the mined rule feeds datalog_fixpoint for completion. Body
    enumeration is one wedge self-join on the shared node, never
    all-pairs. Oracle = the same joins in SQL."""
    from dbpedia_spotlight_spark.operators.kgquery import (
        mine_composition_rules,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    ground = cust.filter(F.col("c_custkey") % 10 != 0).join(
        nat.select(
            F.col("n_nationkey").alias("c_nationkey"),
            F.concat(F.lit("r"), F.col("n_regionkey")).alias("_r"),
        ),
        "c_nationkey",
    ).select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
        F.lit("locatedIn").alias("pred"),
        F.col("_r").alias("obj"),
    )
    t = _kg_geo_triples(spark, sf_dir).unionByName(ground)
    return mine_composition_rules(t, min_support=5, min_confidence=0.05)


def q_iv_entity_spans(spark, sf_dir):
    """Entity annotations merged back INTO the interleaved span
    sequence (datapipe/interleaved.py:inject_entity_spans — the output
    shape the north rule's annotate pipeline owes its consumer): the
    original text/media spans keep their relative order and `entity`
    spans (URI in the media_ref slot) land at their text-stream char
    offsets with a total, engine-independent ordering. Flat
    (doc_id, span_idx, ...) rows so the order IS the hash-checked
    value. Oracle = the same span synthesis, annotation offsets, and
    row_number ordering in SQL."""
    from dbpedia_spotlight_spark.datapipe.interleaved import (
        inject_entity_spans,
    )
    from dbpedia_spotlight_spark.operators.tokenizer import (
        flat_to_interleaved_media,
    )

    iv = flat_to_interleaved_media(
        _docs(spark, sf_dir).select(
            F.col("doc_id").cast("string").alias("doc_id"), "text"
        )
    )
    ann = _occs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _char_offset().alias("offset"),
        "surface_form",
        "uri",
    )
    return inject_entity_spans(iv, ann)


def q_kg_eigenvector(spark, sf_dir):
    """Eigenvector centrality (operators/graph.py:eigenvector_centrality
    — power iteration with per-round L2 normalization, Bonacich 1972),
    completing the centrality suite: un-dampened PageRank-ancestor
    semantics where only recursively-endorsed nodes hold mass, so the
    customer tails (no inbound) decay to 0 and the nation rings carry
    everything. 4 rounds over the ring-and-tails graph; oracle = the
    same rounds and normalizers unrolled as SQL CTEs, both sides
    rounded to 6 dp."""
    from dbpedia_spotlight_spark.operators.graph import (
        eigenvector_centrality,
    )

    x = eigenvector_centrality(_ring_edges(spark, sf_dir), iterations=4)
    return x.select("node", F.round("eigenvector", 6).alias("eigenvector"))


def q_kg_asof_bgp(spark, sf_dir):
    """Time-travel SPARQL: a BGP evaluated against an AS-OF snapshot of
    the interval-versioned KB (operators/temporal.py:fold_changelog +
    kb_as_of feeding operators/kgquery.py:bgp_match) — the composition
    a temporal triple store sells as one feature. Change log: every
    order opens OPEN at o_orderdate and moves to its terminal status 30
    days later; priority is asserted once. Snapshot at 1995-06-17, then
    { ?o <status> 'F' . ?o <priority> ?p . } — finished-by-then orders
    with their priority. Oracle = the closed-form snapshot CASE + a
    self-join."""
    from dbpedia_spotlight_spark.operators.kgquery import bgp_match
    from dbpedia_spotlight_spark.operators.temporal import (
        fold_changelog,
        kb_as_of,
    )

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    o = F.concat(F.lit("o"), F.col("o_orderkey"))
    log = (
        orders.select(
            o.alias("subj"), F.lit("status").alias("pred"),
            F.lit("OPEN").alias("obj"), F.col("o_orderdate").alias("ts"),
        )
        .unionByName(
            orders.select(
                o.alias("subj"), F.lit("status").alias("pred"),
                F.col("o_orderstatus").alias("obj"),
                (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias(
                    "ts"
                ),
            )
        )
        .unionByName(
            orders.select(
                o.alias("subj"), F.lit("priority").alias("pred"),
                F.col("o_orderpriority").alias("obj"),
                F.col("o_orderdate").alias("ts"),
            )
        )
    )
    snap = kb_as_of(fold_changelog(log), "1995-06-17")
    return bgp_match(
        snap, [("?o", "status", "F"), ("?o", "priority", "?p")]
    )


def q_kg_wu_palmer(spark, sf_dir):
    """Wu-Palmer taxonomy similarity
    (operators/kgquery.py:wup_similarity — 2·depth(lca)/(depth(a)+
    depth(b)) over the subclass tree, ancestors via repeated-squaring
    closure, explicit pair table so the join never goes all-pairs):
    nation classes under region classes under world; same-region pairs
    score 2·2/(3+3), cross-region pairs 2·1/6. Oracle = recursive-CTE
    ancestors + the same max-depth LCA pick."""
    from dbpedia_spotlight_spark.operators.kgquery import wup_similarity

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sub = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("sub"),
        F.concat(F.lit("r"), F.col("n_regionkey")).alias("sup"),
    ).unionByName(
        nat.select(
            F.concat(F.lit("r"), F.col("n_regionkey")).alias("sub"),
            F.lit("world").alias("sup"),
        ).distinct()
    )
    a = nat.select(F.col("n_nationkey").alias("ka"))
    b = nat.select(F.col("n_nationkey").alias("kb"))
    pairs = (
        a.join(b, F.col("ka") < F.col("kb"))
        .filter((F.col("ka") < 10) & (F.col("kb") < 10))
        .select(
            F.concat(F.lit("n"), F.col("ka")).alias("a"),
            F.concat(F.lit("n"), F.col("kb")).alias("b"),
        )
    )
    return wup_similarity(sub, pairs)


def q_kg_sparql_strfuncs(spark, sf_dir):
    """SPARQL §17 string/functional builtins through the parser
    (operators/kgquery.py:_SPARQL_FNS/_TERM_TEMPLATES — CONCAT, LCASE,
    STRAFTER/STRBEFORE with their empty/absent-separator spec
    semantics, IF, CONTAINS, STRENDS) in BOTH positions the grammar
    allows: a BIND computing a derived variable and a FILTER deciding
    membership. Oracle = the same expressions in SQL."""
    from dbpedia_spotlight_spark.operators.kgquery import sparql_select

    t = _kg_geo_triples(spark, sf_dir)
    q = (
        "SELECT ?n ?name ?tag WHERE { "
        "?n <named> ?name . ?n <within> ?r . "
        "BIND(CONCAT(LCASE(?name), '|', STRAFTER(?name, '_'), '|', "
        "STRBEFORE(?name, '_')) AS ?tag) "
        "FILTER(IF(CONTAINS(?name, '1'), true, STRENDS(?name, '2'))) }"
    )
    return sparql_select(t, q)


def q_kg_path_trace(spark, sf_dir):
    """BFS with witness paths (operators/graph.py:shortest_path_trace —
    level-synchronous BFS recording a deterministic MIN-id parent, then
    a top-down walk of the parent forest): reversed geo edges world →
    region → nation → customer(<200), plus an 'r0 → every nation' hub
    edge so nations genuinely have two dist-2 predecessors and the
    min-parent rule decides (r0 wins lexicographically). Oracle =
    recursive-CTE min-dist BFS + min-parent pick + recursive path
    reconstruction over the resulting forest."""
    from dbpedia_spotlight_spark.operators.graph import shortest_path_trace

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    edges = (
        reg.select(
            F.lit("world").alias("src"),
            F.concat(F.lit("r"), F.col("r_regionkey")).alias("dst"),
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("src"),
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("dst"),
            )
        )
        .unionByName(
            nat.select(
                F.lit("r0").alias("src"),
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("dst"),
            )
        )
        .unionByName(
            cust.filter(F.col("c_custkey") < 200).select(
                F.concat(F.lit("n"), F.col("c_nationkey")).alias("src"),
                F.concat(F.lit("c"), F.col("c_custkey")).alias("dst"),
            )
        )
    )
    sources = reg.limit(1).select(F.lit("world").alias("source"))
    return shortest_path_trace(edges, sources)


def q_kg_ifp_sameas(spark, sf_dir):
    """OWL prp-fp/prp-ifp sameAs mining (operators/kbmaintain.py:
    ifp_sameas — per-rule window-min hub, star output so a dirty key
    costs O(members), never O(members²)): functional 'homeNation' over
    synthetic group subjects g(custkey%50) whose objects are the
    members' nation classes; inverse-functional 'email' over
    e(custkey%80) shared addresses. Oracle = the same window-min hubs
    in SQL."""
    from dbpedia_spotlight_spark.operators.kbmaintain import ifp_sameas

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    fn = cust.select(
        F.concat(F.lit("g"), F.col("c_custkey") % 50).alias("subj"),
        F.lit("homeNation").alias("pred"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
    )
    ifp = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
        F.lit("email").alias("pred"),
        F.concat(F.lit("e"), F.col("c_custkey") % 80).alias("obj"),
    )
    return ifp_sameas(
        fn.unionByName(ifp),
        functional=["homeNation"],
        inverse_functional=["email"],
    )


def q_kg_char_sets(spark, sf_dir):
    """Characteristic sets (operators/kglayout.py:characteristic_sets —
    Neumann/Moerkotte ICDE'11 star-join statistics; one groupBy(subj)
    then one groupBy over the tiny signature space) on the shared geo
    triple table: BUILDING customers form the {inNation,segment} CS,
    the rest {inNation}; nations {named,within}; regions {named,
    within}. Oracle = list(DISTINCT pred) sorted + the same two-level
    rollup."""
    from dbpedia_spotlight_spark.operators.kglayout import characteristic_sets

    return characteristic_sets(_kg_geo_triples(spark, sf_dir))


def q_kg_ic_similarity(spark, sf_dir):
    """Information-content similarity (operators/kgquery.py:
    ic_similarity — Resnik/Lin over the nation→region→world taxonomy
    with customers as typed instances; IC from subtree instance counts
    via the ancestor closure, MICA = max-IC shared ancestor): same
    explicit sub-10 nation pair table as kg_wu_palmer, so same-region
    pairs get the region MICA and cross-region pairs bottom out at
    'world' (IC 0 → resnik 0, lin 0). Oracle = recursive ancestors +
    count-distinct subtree sizes + the same row_number MICA pick."""
    from dbpedia_spotlight_spark.operators.kgquery import ic_similarity

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    sub = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("sub"),
        F.concat(F.lit("r"), F.col("n_regionkey")).alias("sup"),
    ).unionByName(
        nat.select(
            F.concat(F.lit("r"), F.col("n_regionkey")).alias("sub"),
            F.lit("world").alias("sup"),
        ).distinct()
    )
    inst = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("inst"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("cls"),
    )
    a = nat.select(F.col("n_nationkey").alias("ka"))
    b = nat.select(F.col("n_nationkey").alias("kb"))
    pairs = (
        a.join(b, F.col("ka") < F.col("kb"))
        .filter((F.col("ka") < 10) & (F.col("kb") < 10))
        .select(
            F.concat(F.lit("n"), F.col("ka")).alias("a"),
            F.concat(F.lit("n"), F.col("kb")).alias("b"),
        )
    )
    return ic_similarity(sub, inst, pairs)


def q_kg_interval_coalesce(spark, sf_dir):
    """Temporal COALESCE (operators/temporal.py:interval_coalesce —
    gaps-and-islands over one (subj,pred,obj) window partitioning:
    running-max end opens islands, running-sum numbers them, one
    groupBy takes the hulls; the naive NOT EXISTS self-join shape is
    quadratic and banned): order-derived half-open intervals
    [orderkey%90, +3..+9) on 40 fact keys, dense enough that most
    islands merge several raw intervals. Oracle = the identical
    window algebra in SQL."""
    from dbpedia_spotlight_spark.operators.temporal import interval_coalesce

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    facts = (
        o.select(
            F.concat(F.lit("c"), F.col("o_custkey") % 40).alias("subj"),
            F.lit("active").alias("pred"),
            F.col("o_orderstatus").alias("obj"),
            (F.col("o_orderkey") % 90).cast("int").alias("valid_from"),
            (
                (F.col("o_orderkey") % 90) + 3 + (F.col("o_orderkey") % 7)
            ).cast("int").alias("valid_to"),
        )
        .distinct()
    )
    return interval_coalesce(facts)


def q_kg_interval_subtract(spark, sf_dir):
    """Temporal DIFFERENCE (operators/temporal.py:interval_subtract —
    retractions coalesced per key, ONE keyed join to overlapping facts,
    lag-window gap pieces + tail, R+1 rows per fact never R²): the
    kg_interval_coalesce fact table minus a second order-derived
    retraction layer, so facts get clipped, split, and dropped. Oracle
    = the identical coalesce + gaps algebra in SQL."""
    from dbpedia_spotlight_spark.operators.temporal import interval_subtract

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    facts = o.select(
        F.concat(F.lit("c"), F.col("o_custkey") % 40).alias("subj"),
        F.lit("active").alias("pred"),
        F.col("o_orderstatus").alias("obj"),
        (F.col("o_orderkey") % 90).cast("int").alias("valid_from"),
        ((F.col("o_orderkey") % 90) + 3 + (F.col("o_orderkey") % 7))
        .cast("int").alias("valid_to"),
    )
    retr = o.select(
        F.concat(F.lit("c"), F.col("o_custkey") % 40).alias("subj"),
        F.lit("active").alias("pred"),
        F.col("o_orderstatus").alias("obj"),
        ((F.col("o_orderkey") * 7) % 90).cast("int").alias("valid_from"),
        (((F.col("o_orderkey") * 7) % 90) + 2 + (F.col("o_orderkey") % 5))
        .cast("int").alias("valid_to"),
    )
    return interval_subtract(facts, retr)


def q_kg_verbalize(spark, sf_dir):
    """KG-to-text verbalization (datapipe/kg_samples.py:
    verbalize_triples — KELM/TEKGEN template stage: broadcast template
    dim, two label equi-joins, codegen replace chain, per-subject
    array_sort rollup): the geo triple graph rendered with per-predicate
    templates and nation/region labels into one synthetic paragraph per
    subject. Oracle = the same substitutions + string_agg ORDER BY."""
    from dbpedia_spotlight_spark.datapipe.kg_samples import verbalize_triples

    t = _kg_geo_triples(spark, sf_dir)
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    labels = nat.select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("uri"),
        F.col("n_name").alias("label"),
    ).unionByName(
        reg.select(
            F.concat(F.lit("r"), F.col("r_regionkey")).alias("uri"),
            F.col("r_name").alias("label"),
        )
    )
    return verbalize_triples(
        t.filter(F.col("pred").isin("within", "named")),
        labels=labels,
        templates={
            "within": "{s} lies within {o}.",
            "named": "{s} is named {o}.",
        },
    )


def q_temperature_mix(spark, sf_dir):
    """Alpha-temperature mixture sampling (datapipe/packing.py:
    temperature_quotas + temperature_sample — the mBERT/XLM-R/mT5
    (n_d/N)^alpha rule, Hamilton apportionment on the tiny stratum dim,
    members by the deterministic md5-rank quota mechanism): 200 docs
    over the skewed `lang` strata at alpha 0.5, flattening the English
    head. Oracle replays the full chain — pow/normalize/floor/largest-
    remainder, then the identical md5 rank filter."""
    from dbpedia_spotlight_spark.datapipe.packing import temperature_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return temperature_sample(
        docs, 200, stratum_col="lang", id_col="doc_id", alpha=0.5
    ).select("doc_id", "lang")


def q_leakage_split(spark, sf_dir):
    """Group-aware train/valid/test split (datapipe/packing.py:
    leakage_safe_split — md5 bucket of the GROUP key, cumulative CASE
    thresholds, zero shuffles, so near-dup families never straddle the
    eval boundary): documents split 80/10/10 by `source` family.
    Oracle = the identical md5-tail bucket arithmetic."""
    from dbpedia_spotlight_spark.datapipe.packing import leakage_safe_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return leakage_safe_split(
        docs, {"train": 0.8, "valid": 0.1, "test": 0.1}, group_col="source"
    ).select("doc_id", "source", "split")


def q_span_vote(spark, sf_dir):
    """Span-level annotator fusion (operators/fusion.py:annotation_vote
    — Snorkel-style majority vote, distinct-source counting, label-asc
    tie-break, one exchange for groupBy + window): synthetic three-
    annotator layers over lineitem-derived spans, collisions by
    construction so majority, tie, and singleton paths all occur.
    Oracle = the same count-distinct + row_number pick."""
    from dbpedia_spotlight_spark.operators.fusion import annotation_vote

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ann = li.select(
        (F.col("l_orderkey") % 500).cast("long").alias("doc_id"),
        ((F.col("l_partkey") % 20) * 10).cast("int").alias("begin"),
        ((F.col("l_partkey") % 20) * 10 + 5).cast("int").alias("end"),
        F.col("l_returnflag").alias("label"),
        F.concat(F.lit("s"), F.col("l_suppkey") % 3).alias("source"),
    )
    return annotation_vote(ann, min_sources=1)


def q_kg_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood ER blocking (operators/kbaugment.py:
    sorted_neighborhood_pairs — distributed prefix-sum global rank,
    candidate pairs from two floor(rank/window) equi-joins, fan-out
    bounded by 2·window): customers under custkey 400 keyed by name,
    window 3. Oracle = one global row_number + a rank-band self-join
    (small here; the Spark side never plans the single-partition
    window)."""
    from dbpedia_spotlight_spark.operators.kbaugment import (
        sorted_neighborhood_pairs,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    recs = cust.filter(F.col("c_custkey") < 400).select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("uri"),
        F.col("c_name").alias("label"),
    )
    return sorted_neighborhood_pairs(recs, window=3)


def q_kg_validity_histogram(spark, sf_dir):
    """Concurrent-validity sweep line (operators/temporal.py:
    validity_histogram — +1/-1 boundary deltas collapsed by ONE
    map-side-combinable groupBy before the per-key running-sum window,
    so simultaneous starts/ends have no order ambiguity): per-subject
    timelines over the order-derived interval fixture. Oracle = the
    same union + cumsum algebra."""
    from dbpedia_spotlight_spark.operators.temporal import validity_histogram

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    facts = o.select(
        F.concat(F.lit("c"), F.col("o_custkey") % 40).alias("subj"),
        (F.col("o_orderkey") % 90).cast("int").alias("valid_from"),
        ((F.col("o_orderkey") % 90) + 3 + (F.col("o_orderkey") % 7))
        .cast("int").alias("valid_to"),
    )
    return validity_histogram(facts, keys=["subj"])


def q_priority_mix(spark, sf_dir):
    """Weighted sampling without replacement (datapipe/packing.py:
    priority_sample — Efraimidis-Spirakis A-Res with a deterministic
    md5-derived uniform, ranked by the monotone key ln(u)/w; global
    top-k goes through a per-partition prefilter, never one partition):
    25 docs per lang weighted by n_chars. Oracle replays the identical
    hash -> uniform -> key arithmetic."""
    from dbpedia_spotlight_spark.datapipe.packing import priority_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return priority_sample(
        docs, 25, "n_chars", stratum_col="lang"
    ).select("doc_id", "lang")


def q_contrastive_mine(spark, sf_dir):
    """Contrastive triplet mining (datapipe/kg_samples.py:
    contrastive_triplets — positives from asserted links, hard
    negatives = top-k cosine among NON-linked candidates via the exact
    brute-force baseline with a max-degree overfetch so the link
    anti-join can't starve the top-k; swap lsh/ivf at corpus scale):
    links pair vec_id i with i+250 for i < 20. Oracle = full cosine
    ranking with a NOT EXISTS link exclusion."""
    from dbpedia_spotlight_spark.datapipe.kg_samples import contrastive_triplets

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    links = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("a"), (F.col("vec_id") + 250).alias("b")
    )
    return contrastive_triplets(emb, links, k_neg=3)


def q_kg_luby_mis(spark, sf_dir):
    """Luby maximal independent set (operators/graph.py:luby_mis —
    deterministic md5 per-round priorities, strict (h, id) local
    minima, selected+neighbors removed, one join + one groupBy-min per
    round with lineage truncation): the geo contact graph
    (customer<300 — nation — region — world). Converges in 2 rounds at
    both test SFs; the oracle unrolls 4 (extra rounds select nothing).
    Oracle = the identical rounds as chained NOT EXISTS CTEs."""
    from dbpedia_spotlight_spark.operators.graph import luby_mis

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    edges = (
        cust.filter(F.col("c_custkey") < 300)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("src"),
            F.concat(F.lit("n"), F.col("c_nationkey")).alias("dst"),
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("src"),
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("dst"),
            )
        )
        .unionByName(
            reg.select(
                F.concat(F.lit("r"), F.col("r_regionkey")).alias("src"),
                F.lit("world").alias("dst"),
            )
        )
    )
    return luby_mis(edges)


def q_kg_equi_depth(spark, sf_dir):
    """Equi-depth histograms (operators/kglayout.py:
    equi_depth_histogram — ntile per key + one rollup; (lo, hi, n) is
    tie-order independent even though ntile splits ties positionally):
    lineitem quantities keyed by return flag, 8 buckets. Oracle =
    DuckDB ntile with the same total ordering."""
    from dbpedia_spotlight_spark.operators.kglayout import equi_depth_histogram

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    t = li.select(
        F.col("l_returnflag").alias("pred"),
        F.col("l_quantity").cast("double").cast("string").alias("obj"),
    )
    return equi_depth_histogram(t, num_buckets=8)


def q_kg_completeness(spark, sf_dir):
    """Per-entity completeness vs class-typical properties
    (operators/kglayout.py:completeness_score — recoin-style: expected
    = properties on >= 50% of the class's instances; one prevalence
    groupBy, broadcast schema dims, no self-join): customers typed by
    market segment with a universal, a ~90%, and a ~33% property, so
    expected sets differ from asserted sets. Oracle = the same
    prevalence threshold + scoring in SQL."""
    from dbpedia_spotlight_spark.operators.kglayout import completeness_score

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    c = F.concat(F.lit("c"), F.col("c_custkey"))
    t = (
        cust.select(
            c.alias("subj"),
            F.lit("rdf:type").alias("pred"),
            F.concat(F.lit("seg_"), F.col("c_mktsegment")).alias("obj"),
        )
        .unionByName(
            cust.select(
                c.alias("subj"),
                F.lit("phone").alias("pred"),
                F.col("c_name").alias("obj"),
            )
        )
        .unionByName(
            cust.filter(F.col("c_acctbal") > 0).select(
                c.alias("subj"),
                F.lit("balpos").alias("pred"),
                F.lit("1").alias("obj"),
            )
        )
        .unionByName(
            cust.filter(F.col("c_custkey") % 3 == 0).select(
                c.alias("subj"),
                F.lit("third").alias("pred"),
                F.lit("1").alias("obj"),
            )
        )
    )
    return completeness_score(t, type_pred="rdf:type", threshold=0.5)


def q_vocab_zipf(spark, sf_dir):
    """Corpus vocabulary profile (datapipe/textstats.py:vocab_profile —
    one explode+groupBy frequency table, distributed dense ranks via
    skew.dense_sorted_id, exact Zipf slope from covar_pop/var_pop in
    one scalar aggregate): Zipf/Heaps diagnostics over the documents
    table. Oracle = the same frequency ranking + regression identity."""
    from dbpedia_spotlight_spark.datapipe.textstats import vocab_profile

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return vocab_profile(docs, top_k=100)


def q_mask_entities(spark, sf_dir):
    """Salient-span masking (datapipe/interleaved.py:mask_spans — the
    REALM objective: spans merged per doc via interval_coalesce,
    clipped to text bounds, assembled with one lag window + one sorted
    collect, zero UDF): two overlapping head spans (merge), one
    out-of-range span (drop), one span clipped at the text end.
    Oracle = direct substring assembly of the known merged layout."""
    from dbpedia_spotlight_spark.datapipe.interleaved import mask_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b = (F.col("doc_id") % 4) * 8
    n = F.length("text")
    spans = (
        docs.select("doc_id", b.alias("begin"), (b + 10).alias("end"))
        .unionByName(
            docs.select(
                "doc_id", (b + 6).alias("begin"), (b + 16).alias("end")
            )
        )
        .unionByName(
            docs.select(
                "doc_id", F.lit(5000).alias("begin"), F.lit(5010).alias("end")
            )
        )
        .unionByName(
            docs.select(
                "doc_id", (n - 5).alias("begin"), (n + 50).alias("end")
            )
        )
    )
    return mask_spans(docs, spans)


def q_span_layer_align(spark, sf_dir):
    """Annotation-layer overlap join (datapipe/interleaved.py:
    span_align — one doc-keyed equi-join, Allen-style CASE
    classification + char Jaccard in codegen, never a keyless range
    join): a base layer against a second layer with an exact twin, a
    shifted overlap, and a nested span per doc. Oracle = the same
    predicate + CASE in SQL."""
    from dbpedia_spotlight_spark.datapipe.interleaved import span_align

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    b = (F.col("doc_id") % 4) * 8
    left = docs.select(
        "doc_id", b.alias("begin"), (b + 10).alias("end"),
        F.lit("L").alias("label"),
    )
    right = (
        docs.select(
            "doc_id", b.alias("begin"), (b + 10).alias("end"),
            F.lit("R-exact").alias("label"),
        )
        .unionByName(
            docs.select(
                "doc_id", (b + 5).alias("begin"), (b + 15).alias("end"),
                F.lit("R-ov").alias("label"),
            )
        )
        .unionByName(
            docs.select(
                "doc_id", (b + 2).alias("begin"), (b + 8).alias("end"),
                F.lit("R-in").alias("label"),
            )
        )
    )
    return span_align(left, right)


def q_kg_taxonomy_profile(spark, sf_dir):
    """Class-hierarchy profile (operators/kglayout.py:taxonomy_profile
    — longest-chain depths via iterative relaxation, one join + one
    groupBy-max per round with lineage truncation; degree aggregates
    for roots/leaves/tangledness): the geo taxonomy with a second
    'group' parent per nation so multi-inheritance is real. Oracle =
    recursive-CTE longest paths + the same degree algebra."""
    from dbpedia_spotlight_spark.operators.kglayout import taxonomy_profile

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    sub = (
        nat.select(
            F.concat(F.lit("n"), F.col("n_nationkey")).alias("sub"),
            F.concat(F.lit("r"), F.col("n_regionkey")).alias("sup"),
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("sub"),
                F.lit("world").alias("sup"),
            ).distinct()
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("sub"),
                F.concat(F.lit("g"), F.col("n_nationkey") % 3).alias("sup"),
            )
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("g"), F.col("n_nationkey") % 3).alias("sub"),
                F.lit("world").alias("sup"),
            ).distinct()
        )
    )
    return taxonomy_profile(sub)


def q_kg_neighborhood_agg(spark, sf_dir):
    """GraphSAGE-mean feature smoothing (operators/graph.py:
    neighborhood_aggregate — h_k = mean over self ∪ neighbors of
    h_{k-1}, one join + one map-side-combinable groupBy per hop,
    per-hop rounding for cross-engine float stability): account
    balances smoothed 2 hops over the geo graph. Oracle = the same two
    unrolled rounds."""
    from dbpedia_spotlight_spark.operators.graph import neighborhood_aggregate

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    edges = (
        cust.filter(F.col("c_custkey") < 200)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("src"),
            F.concat(F.lit("n"), F.col("c_nationkey")).alias("dst"),
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("src"),
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("dst"),
            )
        )
        .unionByName(
            reg.select(
                F.concat(F.lit("r"), F.col("r_regionkey")).alias("src"),
                F.lit("world").alias("dst"),
            )
        )
    )
    feats = (
        cust.filter(F.col("c_custkey") < 200)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("node"),
            F.col("c_acctbal").cast("double").alias("value"),
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("node"),
                F.col("n_nationkey").cast("double").alias("value"),
            )
        )
        .unionByName(
            reg.select(
                F.concat(F.lit("r"), F.col("r_regionkey")).alias("node"),
                F.col("r_regionkey").cast("double").alias("value"),
            )
        )
    )
    # scale=2: exact fixed-point mode (centi-units as BIGINTs, half-up
    # integer-division means) — bit-identical across engines and
    # partitionings, so the oracle match is exact, not
    # rounded-float-lucky.
    return neighborhood_aggregate(edges, feats, hops=2, scale=2)


def q_kg_edit_join(spark, sf_dir):
    """Lossless edit-distance self-join (operators/kbaugment.py:
    edit_distance_join — Ed-Join: padded q-gram types, each string's
    tau*q+1 globally-rarest grams as its prefix signature, candidates
    only on signature grams, codegen levenshtein verify; catches
    first-character edits that align_entities' first-char blocking
    loses): customer names under key 300 at tau=1. Oracle = brute-force
    DuckDB levenshtein over all pairs — proving losslessness, not just
    agreement."""
    from dbpedia_spotlight_spark.operators.kbaugment import edit_distance_join

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    recs = cust.filter(F.col("c_custkey") < 300).select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("uri"),
        F.col("c_name").alias("label"),
    )
    return edit_distance_join(recs, max_edits=1)


def q_kg_temporal_constraints(spark, sf_dir):
    """Temporal-consistency checking (operators/temporal.py:
    temporal_constraints — broadcast rules dim, violation join keyed on
    (subj, rule), per-entity pair bound): first_seen/last_seen instants
    derived from orders, violations where a last_seen precedes a
    first_seen of the same entity. Oracle = the same keyed join."""
    from dbpedia_spotlight_spark.operators.temporal import temporal_constraints

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    facts = (
        o.filter(F.col("o_orderkey") % 5 == 0)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey") % 400).alias("subj"),
            F.lit("first_seen").alias("pred"),
            (F.col("o_orderkey") % 90).cast("int").alias("valid_from"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 7 == 0).select(
                F.concat(F.lit("c"), F.col("o_custkey") % 400).alias("subj"),
                F.lit("last_seen").alias("pred"),
                ((F.col("o_orderkey") * 3) % 90).cast("int")
                .alias("valid_from"),
            )
        )
    )
    return temporal_constraints(facts, [("first_seen", "last_seen")])


def q_calibration_curve(spark, sf_dir):
    """Confidence calibration table (pipeline/evaluate.py:
    calibration_table — equal-count ntile bins over a total order, one
    gold left join, per-bin mean-score vs precision gap): synthetic
    scored links over documents against a deterministic gold. Oracle =
    the same ntile + join algebra."""
    from dbpedia_spotlight_spark.pipeline.evaluate import calibration_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        "doc_id",
        (F.col("doc_id") % 7).cast("int").alias("offset"),
        F.concat(F.lit("u"), F.col("doc_id") % 3).alias("uri"),
        (F.round((F.col("doc_id") % 97) / 97.0, 6)).alias("score"),
    )
    gold = docs.select(
        "doc_id",
        (F.col("doc_id") % 7).cast("int").alias("offset"),
        F.concat(F.lit("u"), F.col("doc_id") % 2).alias("uri"),
    )
    return calibration_table(scored, gold, num_bins=10)


def q_kg_skolemize(spark, sf_dir):
    """RDF 1.1 skolemization (functions/rdf.py:skolemize — genid IRIs
    from canonical_bnode_labels so isomorphic inputs skolemize
    identically on any engine; automorphic twins get a deterministic
    ~k rank suffix; application is two keyed left joins): the
    kg_bnode_canon reified-orders fixture with its blank nodes
    replaced. Oracle = the canon 2-round SQL + the same window rank +
    joins."""
    from dbpedia_spotlight_spark.functions.rdf import skolemize

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = F.concat(F.lit("_:o"), F.col("o_orderkey"))
    c = F.concat(F.lit("_:c"), F.col("o_custkey"))
    tri = (
        orders.select(
            o.alias("subj"), F.lit("by").alias("pred"), c.alias("obj")
        )
        .unionByName(
            orders.select(
                o.alias("subj"),
                F.lit("status").alias("pred"),
                F.col("o_orderstatus").alias("obj"),
            )
        )
        .unionByName(
            cust.select(
                F.concat(F.lit("_:c"), F.col("c_custkey")).alias("subj"),
                F.lit("seg").alias("pred"),
                F.col("c_mktsegment").alias("obj"),
            )
        )
    )
    return skolemize(tri, base="https://kg.example/genid/")


def q_distant_supervision(spark, sf_dir):
    """Distant supervision (pipeline/triples.py:distant_supervision —
    Mintz et al.: KB-FIRST join order so only KB-related mention pairs
    ever materialize — subject mentions x KB on the uri, then one
    equi-join on (doc_id, object uri); distance filter post-join in
    codegen): lineitem-derived mentions against a deterministic
    partkey KB. Oracle = the same two keyed joins."""
    from dbpedia_spotlight_spark.pipeline.triples import distant_supervision

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    mentions = li.select(
        (F.col("l_orderkey") % 300).cast("long").alias("doc_id"),
        (F.col("l_linenumber") + (F.col("l_partkey") % 5) * 7)
        .cast("int").alias("pos"),
        F.concat(F.lit("part"), F.col("l_partkey") % 100).alias("uri"),
    )
    kb = part.select(
        F.concat(F.lit("part"), F.col("p_partkey") % 100).alias("subj"),
        F.lit("brandmate").alias("pred"),
        F.concat(
            F.lit("part"), (F.col("p_partkey") % 100 + 13) % 100
        ).alias("obj"),
    )
    return distant_supervision(mentions, kb, max_distance=20)


def q_kg_jsonld(spark, sf_dir):
    """Flattened JSON-LD serialization (pipeline/serializers.py:
    triples_to_jsonld — one canonical node object per subject, sorted
    predicates/values, Jackson escaping via to_json, IRI objects as
    {"@id": ...} node refs): the geo graph with edge objects lifted to
    http:// IRIs so both value forms appear. Oracle = the same string
    assembly with DuckDB to_json."""
    from dbpedia_spotlight_spark.pipeline.serializers import triples_to_jsonld

    t = _kg_geo_triples(spark, sf_dir)
    lifted = t.withColumn(
        "obj",
        F.when(
            F.col("pred").isin("inNation", "within"),
            F.concat(F.lit("http://kg/"), F.col("obj")),
        ).otherwise(F.col("obj")),
    )
    return triples_to_jsonld(lifted)


def q_kg_view_delta(spark, sf_dir):
    """Incremental BGP view maintenance (operators/kgquery.py:
    bgp_view_delta — telescoping delta-rule candidates, every term
    delta-driven, set-semantics verification by semi-joins; no full
    recompute of the view): the customer-in-nation-within-region view
    under a changeset adding new customers and retracting the within
    edges of nations 0-4. Oracle = bgp(new) EXCEPT bgp(old) both
    ways — the semantic definition the incremental plan must equal."""
    from dbpedia_spotlight_spark.operators.kgquery import bgp_view_delta

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    base = (
        cust.filter(F.col("c_custkey") < 500)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
            F.lit("inNation").alias("pred"),
            F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
                F.lit("within").alias("pred"),
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("obj"),
            )
        )
    )
    adds = cust.filter(
        (F.col("c_custkey") >= 500) & (F.col("c_custkey") < 600)
    ).select(
        F.concat(F.lit("x"), F.col("c_custkey")).alias("subj"),
        F.lit("inNation").alias("pred"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("obj"),
    )
    dels = nat.filter(F.col("n_nationkey") < 5).select(
        F.concat(F.lit("n"), F.col("n_nationkey")).alias("subj"),
        F.lit("within").alias("pred"),
        F.concat(F.lit("r"), F.col("n_regionkey")).alias("obj"),
    )
    return bgp_view_delta(
        base, adds, dels, [("?x", "inNation", "?n"), ("?n", "within", "?r")]
    )


def q_nquads_roundtrip(spark, sf_dir):
    """N-Quads dataset round trip (functions/rdf.py:to_nquads /
    parse_nquads — the RDF 1.1 dataset exchange format: named-graph
    lines plus default-graph N-Triples lines with escaped literals):
    customer facts across two named graphs plus an unescaped-hostile
    default-graph literal, serialized and parsed back. Returning the
    PARSED rows hash-checked against the original quads proves the
    pair are mutual inverses. Oracle = the original quad set."""
    from dbpedia_spotlight_spark.functions.rdf import parse_nquads, to_nquads

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    quads = (
        cust.select(
            F.concat(F.lit("http://ex/c"), F.col("c_custkey")).alias("subj"),
            F.lit("http://ex/inNation").alias("pred"),
            F.concat(F.lit("http://ex/n"), F.col("c_nationkey")).alias("obj"),
            F.concat(
                F.lit("http://g/"), F.col("c_custkey") % 2
            ).alias("graph"),
        )
        .unionByName(
            cust.select(
                F.concat(F.lit("http://ex/c"), F.col("c_custkey")).alias(
                    "subj"
                ),
                F.lit("http://ex/name").alias("pred"),
                F.col("c_name").alias("obj"),
                F.lit(None).cast("string").alias("graph"),
            )
        )
    )
    return parse_nquads(to_nquads(quads))


def q_kg_community_metrics(spark, sf_dir):
    """Community-quality metrics (operators/graph.py:community_metrics
    — per-community Newman modularity contribution + conductance via
    two endpoint-stamping joins and metric groupBys, never pair
    lists): the geo graph partitioned by region membership. Oracle =
    the same stamp-and-aggregate algebra."""
    from dbpedia_spotlight_spark.operators.graph import community_metrics

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    edges = (
        cust.filter(F.col("c_custkey") < 300)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("src"),
            F.concat(F.lit("n"), F.col("c_nationkey")).alias("dst"),
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("src"),
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("dst"),
            )
        )
        .unionByName(
            reg.select(
                F.concat(F.lit("r"), F.col("r_regionkey")).alias("src"),
                F.lit("world").alias("dst"),
            )
        )
    )
    membership = (
        cust.filter(F.col("c_custkey") < 300)
        .join(
            nat.select("n_nationkey", "n_regionkey"),
            cust["c_nationkey"] == nat["n_nationkey"],
        )
        .select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("node"),
            F.concat(F.lit("r"), F.col("n_regionkey")).alias("community"),
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("node"),
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("community"),
            )
        )
        .unionByName(
            reg.select(
                F.concat(F.lit("r"), F.col("r_regionkey")).alias("node"),
                F.concat(F.lit("r"), F.col("r_regionkey")).alias("community"),
            )
        )
        .unionByName(
            reg.limit(1).select(
                F.lit("world").alias("node"), F.lit("world").alias("community")
            )
        )
    )
    return community_metrics(edges, membership)


def q_event_bursts(spark, sf_dir):
    """Burst detection (streaming/sessions.py:burst_windows — rolling
    z-score against each key's own trailing-24-bucket baseline, one
    stream-collapsing groupBy then one per-key window): hourly
    event-type bursts at z >= 1.5. Oracle = the identical window
    frame in SQL."""
    from dbpedia_spotlight_spark.streaming.sessions import burst_windows

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = burst_windows(ev, z=1.5)
    # string bucket: pandas would otherwise carry ns-vs-us timestamp
    # units into the value hash
    return out.withColumn("bucket_ts", F.col("bucket_ts").cast("string"))


def q_kg_fellegi_sunter(spark, sf_dir):
    """Fellegi-Sunter match weights (operators/kbaugment.py:
    fellegi_sunter_score — sum of per-field log-likelihood ratios as a
    constant-folded CASE chain, zero shuffle; the decision layer over
    the edit-distance/sorted-neighborhood blockers): synthetic
    agreement vectors over customer pairs, thresholded. Oracle embeds
    the IDENTICAL Python-computed ln constants so the sums are
    bit-equal."""
    from dbpedia_spotlight_spark.operators.kbaugment import (
        fellegi_sunter_score,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    k = F.col("c_custkey")
    pairs = cust.filter(k < 500).select(
        F.concat(F.lit("c"), k).alias("a"),
        F.concat(F.lit("c"), k + 7).alias("b"),
        (k % 3 == 0).alias("name_agree"),
        (k % 5 < 2).alias("seg_agree"),
    )
    return fellegi_sunter_score(
        pairs,
        ["name", "seg"],
        m={"name": 0.9, "seg": 0.75},
        u={"name": 0.05, "seg": 0.3},
        threshold=0.0,
    )


def q_kg_graph_sample(spark, sf_dir):
    """Deterministic node-induced subgraph sampling (operators/
    graph.py:induced_subgraph_sample — md5-bucket keep test on each
    endpoint, zero joins, rate² edge survival, degree-honest unlike
    edge sampling): the geo edge list at rate 0.5. Oracle = the same
    md5-tail arithmetic on both endpoints."""
    from dbpedia_spotlight_spark.operators.graph import induced_subgraph_sample

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    edges = cust.select(
        F.concat(F.lit("c"), F.col("c_custkey")).alias("src"),
        F.concat(F.lit("n"), F.col("c_nationkey")).alias("dst"),
    ).unionByName(
        nat.select(
            F.concat(F.lit("n"), F.col("n_nationkey")).alias("src"),
            F.concat(F.lit("r"), F.col("n_regionkey")).alias("dst"),
        )
    )
    return induced_subgraph_sample(edges, rate=0.5)


def q_score_blend(spark, sf_dir):
    """Percentile score blending (datapipe/packing.py:blend_scores —
    per-signal percent_rank over a (signal, id) total order, weighted
    sum, negative weights invert; the mixing-desk step before
    priority/quota sampling): document length blended against a
    synthetic noise signal. Oracle = the same percent_rank windows."""
    from dbpedia_spotlight_spark.datapipe.packing import blend_scores

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.col("n_chars").cast("double").alias("len_signal"),
        ((F.col("doc_id") * 37) % 101).cast("double").alias("noise_signal"),
    )
    return blend_scores(
        docs, {"len_signal": 1.0, "noise_signal": -0.5}
    )


def q_mixture_check(spark, sf_dir):
    """Mixture-drift chi-square (datapipe/packing.py:mixture_drift —
    one corpus groupBy, per-stratum (obs-exp)²/exp on the stratum dim,
    unplanned strata flagged with NULL instead of divided by zero):
    the documents lang mixture against a declared target. Oracle = the
    same decomposition."""
    from dbpedia_spotlight_spark.datapipe.packing import mixture_drift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return mixture_drift(
        docs,
        {"en": 0.4, "de": 0.15, "es": 0.15, "fr": 0.15, "zh": 0.15},
        stratum_col="lang",
    )


def q_shard_kl(spark, sf_dir):
    """Per-shard unigram KL divergence (datapipe/textstats.py:
    shard_divergence — one explode + one (shard, token) groupBy, KL
    sum keyed by shard, finite by construction): language shards vs
    the whole corpus. Oracle = the same two-level frequency algebra."""
    from dbpedia_spotlight_spark.datapipe.textstats import shard_divergence

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return shard_divergence(docs, shard_col="lang")


def q_label_noise(spark, sf_dir):
    """Confident-learning noise matrix (pipeline/evaluate.py:
    label_noise_estimate — per-class mean-confidence thresholds in
    EXACT fixed point (half-up integer division), off-diagonal
    suspect counts; the cleaner for annotation_vote /
    distant_supervision silver labels): synthetic disagreeing labels
    over documents. Oracle = the same integer threshold algebra."""
    from dbpedia_spotlight_spark.pipeline.evaluate import label_noise_estimate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        F.col("doc_id").alias("id"),
        F.concat(F.lit("u"), F.col("doc_id") % 2).alias("given_label"),
        F.concat(F.lit("u"), F.col("doc_id") % 3).alias("pred_label"),
        F.round((F.col("doc_id") % 97) / 97.0, 6).alias("score"),
    )
    return label_noise_estimate(scored)


def q_kg_cbd(spark, sf_dir):
    """Concise Bounded Description (operators/kgquery.py:
    concise_bounded_description — W3C CBD: outbound triples plus
    recursion through blank-node objects, one frontier semi-join per
    round; the spec-named upgrade over sparql_describe's
    outbound-only form): order resources whose structured values live
    behind a two-level bnode chain. Oracle = the two levels unrolled
    (the fixture's exact bnode depth)."""
    from dbpedia_spotlight_spark.operators.kgquery import (
        concise_bounded_description,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    ok = F.col("o_orderkey")
    tri = (
        o.select(
            F.concat(F.lit("o"), ok).alias("subj"),
            F.lit("items").alias("pred"),
            F.concat(F.lit("_:bag"), ok).alias("obj"),
        )
        .unionByName(
            o.select(
                F.concat(F.lit("_:bag"), ok).alias("subj"),
                F.lit("status").alias("pred"),
                F.col("o_orderstatus").alias("obj"),
            )
        )
        .unionByName(
            o.select(
                F.concat(F.lit("_:bag"), ok).alias("subj"),
                F.lit("head").alias("pred"),
                F.concat(F.lit("_:item"), ok).alias("obj"),
            )
        )
        .unionByName(
            o.select(
                F.concat(F.lit("_:item"), ok).alias("subj"),
                F.lit("cust").alias("pred"),
                F.concat(F.lit("c"), F.col("o_custkey")).alias("obj"),
            )
        )
        .unionByName(
            o.select(
                F.concat(F.lit("c"), F.col("o_custkey")).alias("subj"),
                F.lit("class").alias("pred"),
                F.lit("Customer").alias("obj"),
            )
        )
    )
    res = o.filter(ok < 500).select(F.concat(F.lit("o"), ok).alias("r"))
    return concise_bounded_description(tri, res)


def q_kg_join_card(spark, sf_dir):
    """Histogram join-cardinality estimation vs truth
    (operators/kglayout.py:join_cardinality_check — per-bucket
    n·n/max(ndv) in exact integer arithmetic over shared equi-width
    buckets, plus the true join count and the q-error): two lineitem
    quantity populations. Oracle = the same integer algebra."""
    from dbpedia_spotlight_spark.operators.kglayout import (
        join_cardinality_check,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    t = li.select(
        F.col("l_orderkey").cast("string").alias("subj"),
        F.when(F.col("l_orderkey") % 2 == 0, F.lit("qty"))
        .otherwise(F.lit("qty2")).alias("pred"),
        F.col("l_quantity").cast("double").cast("string").alias("obj"),
    )
    return join_cardinality_check(t, "qty", "qty2", bucket_width=5.0)


def q_kg_kb_timeline(spark, sf_dir):
    """KB composition over time (operators/temporal.py:kb_timeline —
    broadcast instant dim, one containment join with |instants|
    fan-out, one groupBy; no per-instant snapshot materialization):
    status-fact counts at three probe dates over the order-status
    changelog. Oracle = the closed-form per-instant counts."""
    from dbpedia_spotlight_spark.operators.temporal import (
        fold_changelog,
        kb_timeline,
    )

    v = fold_changelog(_order_status_changelog(spark, sf_dir))
    out = kb_timeline(
        v, ["1994-06-17", "1995-06-17", "1996-06-17"], key_col="obj"
    )
    return out.withColumn("at", F.col("at").cast("string"))


def q_event_quantiles(spark, sf_dir):
    """Exact per-key discrete quantiles (streaming/sessions.py:
    event_quantiles — value at row ceil(q·n) of the per-key order by
    explicit rank arithmetic, pinned across engines instead of
    trusting percentile_disc implementations): p25/p50/p90/p99 of
    event values per type. Oracle = the identical rank arithmetic."""
    from dbpedia_spotlight_spark.streaming.sessions import event_quantiles

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_quantiles(ev, [0.25, 0.5, 0.9, 0.99])


def q_sft_pack(spark, sf_dir):
    """SFT packing with loss masks (datapipe/packing.py:sft_pack —
    sequence_pack's distributed prefix sum + integer span algebra,
    plus each slice's completion-token intersection in chunk-local
    coordinates so prompt tokens never take gradient): documents
    split prompt = first 10 tokens / completion = rest, packed at
    budget 64. Oracle = the seq_pack prefix-sum SQL extended with the
    same clamped intersection."""
    from dbpedia_spotlight_spark.datapipe.packing import sft_pack
    from dbpedia_spotlight_spark.datapipe.textstats import words_col

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = words_col(F.col("text"))
    pairs = docs.select(
        "doc_id",
        F.array_join(F.slice(w, 1, 10), " ").alias("prompt"),
        F.array_join(F.slice(w, 11, 1 << 20), " ").alias("completion"),
    )
    return sft_pack(pairs, 64, id_col="doc_id")


def q_ann_recall(spark, sf_dir):
    """ANN quality audit (datapipe/similarity.py:ann_recall — recall@k
    of the bucketed LSH path against the exact brute-force top-k, one
    keyed join + groupBy, silent-miss queries surfaced at recall 0):
    the standing lsh_topk configuration scored against knn_cosine's
    ground truth. Oracle composes the two existing oracle queries and
    joins them the same way."""
    from dbpedia_spotlight_spark.datapipe.similarity import (
        ann_recall,
        brute_force_topk,
        lsh_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.filter(F.col("vec_id") < 5)
    approx = lsh_topk(emb, q, dim=64, k=10, num_planes=6, num_tables=4)
    exact = brute_force_topk(emb, q, k=10)
    return ann_recall(approx, exact, k=10)


def q_harmonic_pack(spark, sf_dir):
    """No-split harmonic bin packing (datapipe/packing.py:
    harmonic_pack — class k = floor(budget/len), class-k bins hold
    exactly k docs so bin totals <= budget BY CONSTRUCTION; one
    per-class rank window + one per-bin cumsum, pure integer):
    documents packed whole at budget 64. Oracle = the identical rank
    arithmetic."""
    from dbpedia_spotlight_spark.datapipe.packing import harmonic_pack

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return harmonic_pack(docs, 64)


def q_word_dropout(spark, sf_dir):
    """Deterministic word-dropout augmentation (datapipe/textstats.py:
    word_dropout — per-token md5(doc, pos) bucket decides the drop, so
    the corrupted corpus replays identically on any engine; one
    posexplode + one doc-keyed groupBy): documents at rate 0.2.
    Oracle = the same per-token hash + ordered reassembly."""
    from dbpedia_spotlight_spark.datapipe.textstats import word_dropout

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return word_dropout(docs, 0.2)


def q_kg_star_card(spark, sf_dir):
    """Characteristic-set star cardinality vs truth
    (operators/kglayout.py:star_cardinality_check — Neumann/Moerkotte:
    subject counts exact from CS coverage, result size from per-CS
    multiplicity products, q-error against the true star-join size;
    the ICDE'11 claim made measurable): an orders-derived star with
    CORRELATED multiplicities so the estimate genuinely deviates.
    Oracle = the same CS algebra."""
    from dbpedia_spotlight_spark.operators.kglayout import (
        star_cardinality_check,
    )

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    c = F.concat(F.lit("c"), F.col("o_custkey"))
    t = (
        o.select(
            c.alias("subj"),
            F.lit("ordered").alias("pred"),
            F.concat(F.lit("o"), F.col("o_orderkey")).alias("obj"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 3 == 0).select(
                c.alias("subj"),
                F.lit("urgent").alias("pred"),
                F.concat(F.lit("o"), F.col("o_orderkey")).alias("obj"),
            )
        )
        .unionByName(
            cust.select(
                F.concat(F.lit("c"), F.col("c_custkey")).alias("subj"),
                F.lit("seg").alias("pred"),
                F.col("c_mktsegment").alias("obj"),
            )
        )
    )
    return star_cardinality_check(t, ["ordered", "urgent"])


def q_hearst_isa(spark, sf_dir):
    """Hearst-pattern taxonomy induction (pipeline/triples.py:
    hearst_patterns — 'such as' / 'and other' / 'including' frames as
    pure regexp codegen, comma-lists exploded, one support groupBy;
    the is-a feed for the subclass operators): documents with
    deterministic injected frames so every pattern path fires with
    known support. Oracle = the same regexes in DuckDB."""
    from dbpedia_spotlight_spark.pipeline.triples import hearst_patterns

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" brand"), F.col("doc_id") % 7,
            F.lit(" such as item"), F.col("doc_id") % 5,
            F.lit(", gadget"), F.col("doc_id") % 3,
            F.lit(". widget"), F.col("doc_id") % 4,
            F.lit(" and other tools. metals including iron"),
            F.col("doc_id") % 6, F.lit("."),
        ).alias("text"),
    )
    return hearst_patterns(injected, min_support=2)


def q_acronym_mine(spark, sf_dir):
    """Acronym/long-form mining (pipeline/triples.py:acronym_pairs —
    Schwartz-Hearst right-anchored initials check as codegen
    transforms; the surface-form enrichment feed for lexicalization
    tables): deterministic injected '(ABC)' sentences, one of four
    per doc, plus an initials-mismatch decoy that must never
    survive. Oracle = the same regex + initials algebra."""
    from dbpedia_spotlight_spark.pipeline.triples import acronym_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    forms = F.array(
        F.lit("The Alpha Beta Unit (ABU)"),
        F.lit("Crooked Example (ZZZ)"),
        F.lit("Global Data Office (GDO)"),
        F.lit("Nice Pair (NP)"),
    )
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" "),
            F.element_at(forms, (F.col("doc_id") % 4 + 1).cast("int")),
            F.lit(" closed."),
        ).alias("text"),
    )
    return acronym_pairs(injected)


def q_conformal_nil(spark, sf_dir):
    """Split-conformal NIL thresholds (pipeline/evaluate.py:
    conformal_thresholds — per-class max(1, floor(alpha*(n+1)))-th
    smallest calibration score, exact rank arithmetic; the
    distribution-free replacement for hand-tuned confidence cutoffs):
    calibration set = the correctly-linked rows of the label_noise
    fixture. Oracle = the identical rank pick."""
    from dbpedia_spotlight_spark.pipeline.evaluate import conformal_thresholds

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    calib = docs.filter(
        F.col("doc_id") % 2 == F.col("doc_id") % 3
    ).select(
        F.concat(F.lit("u"), F.col("doc_id") % 2).alias("label"),
        F.round((F.col("doc_id") % 97) / 97.0, 6).alias("score"),
    )
    return conformal_thresholds(calib, alpha=0.1)


def q_textrank_summary(spark, sf_dir):
    """TextRank extractive summaries (datapipe/textstats.py:
    textrank_summaries — sentence graph with Jaccard weights, damped
    weighted PageRank run ENTIRELY in integer fixed point so ranks are
    bit-identical on any engine; all joins doc-keyed): corpus texts
    re-chunked into 7-token sentences, top-2 per doc after 3
    iterations. Oracle = the identical integer algebra, 3 rounds
    unrolled."""
    from dbpedia_spotlight_spark.datapipe.textstats import (
        textrank_summaries,
        words_col,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = words_col(F.col("text"))
    n_sent = (F.ceil(F.size(w) / 7.0)).cast("int")
    text2 = F.array_join(
        F.transform(
            F.sequence(F.lit(0), n_sent - 1),
            lambda j: F.array_join(F.slice(w, j * 7 + 1, 7), " "),
        ),
        ". ",
    )
    sentenced = docs.select("doc_id", text2.alias("text"))
    return textrank_summaries(sentenced, top_k=2, iterations=3)


def q_blocklist_screen(spark, sf_dir):
    """Blocklist screening (datapipe/textstats.py:blocklist_filter —
    literal broadcast term array, one codegen intersection per row,
    matched terms reported for the audit trail): documents with a
    deterministic injected policy term on every 5th doc. Oracle = the
    same list algebra; the matched array is emitted comma-joined so
    the value hash is representation-stable."""
    from dbpedia_spotlight_spark.datapipe.textstats import blocklist_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.col("text"), F.lit(" forbidden topic verboten")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    out = blocklist_filter(injected, ["forbidden", "verboten", "absent"])
    return out.select(
        "doc_id", "blocked", F.array_join("matched", ",").alias("matched")
    )


def q_dedup_audit(spark, sf_dir):
    """Dedup-path audit (datapipe/dedup.py:dedup_audit — pair-level
    recall/precision of the banded MinHash path against the LOSSLESS
    prefix-filter join at identical shingle/threshold settings; at
    test scale verification makes both exact, which this query PINS):
    k=5 shingles at Jaccard 0.8. Oracle = the brute-force pair set on
    both sides of the same audit algebra."""
    from dbpedia_spotlight_spark.datapipe.dedup import (
        dedup_audit,
        minhash_near_duplicates,
        prefix_filter_jaccard_join,
    )

    docs = _docs(spark, sf_dir)
    approx = minhash_near_duplicates(docs, threshold=0.8)
    exact = prefix_filter_jaccard_join(docs, shingle_k=5, threshold=0.8)
    return dedup_audit(approx, exact)


def q_feature_hash(spark, sf_dir):
    """Hashing-trick featurization (datapipe/textstats.py:
    feature_hash — token -> ±1 at md5 mod dim, no vocabulary build,
    one groupBy + one per-doc sorted collect): sparse vectors over
    documents at dim 1024; arrays serialized comma-joined so the value
    hash is representation-stable across engines. Oracle = the same
    hash arithmetic + ordered string assembly."""
    from dbpedia_spotlight_spark.datapipe.textstats import feature_hash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = feature_hash(docs, dim=1024)
    return out.select(
        "doc_id",
        F.array_join(F.transform("indices", lambda x: x.cast("string")), ",")
        .alias("indices"),
        F.array_join(
            F.transform("values", lambda x: x.cast("long").cast("string")),
            ",",
        ).alias("values"),
    )


def q_kg_directed_profile(spark, sf_dir):
    """Directed-graph profile (operators/graph.py:directed_profile —
    reciprocity via one reversed-key semi-join, source/sink anti-joins,
    self-loops reported separately; the orientation-aware complement
    to the undirected kg_graph_summary): a modular-arithmetic relation
    graph with genuine reciprocal pairs and self-loops. Oracle = the
    same set algebra."""
    from dbpedia_spotlight_spark.operators.graph import directed_profile

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    edges = o.select(
        F.concat(F.lit("n"), F.col("o_orderkey") % 50).alias("src"),
        F.concat(F.lit("n"), (F.col("o_orderkey") * 3) % 50).alias("dst"),
    )
    return directed_profile(edges)


def q_kg_winsorize(spark, sf_dir):
    """Numeric-literal winsorization (operators/kglayout.py:
    winsorize_literals — exact rank-arithmetic quantile bands per
    predicate, broadcast band dim, codegen clamp; the repair half of
    kg_literal_outliers): lineitem quantities with injected 100x unit
    errors clamped back into the [p5, p95] band. Oracle = the same
    rank band + clamp."""
    from dbpedia_spotlight_spark.operators.kglayout import winsorize_literals

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    t = li.select(
        F.concat(F.lit("l"), F.col("l_orderkey"), F.lit("_"),
                 F.col("l_linenumber")).alias("subj"),
        F.lit("qty").alias("pred"),
        (
            F.col("l_quantity").cast("double")
            * F.when(F.col("l_orderkey") % 97 == 0, 100.0).otherwise(1.0)
        ).cast("string").alias("obj"),
    )
    return winsorize_literals(t)


def q_kg_topo_layers(spark, sf_dir):
    """Longest-path topological layering (operators/graph.py:
    topological_layers — one join + groupBy-max per round with lineage
    truncation, cycle detection by no-source/unreachable checks): the
    geo DAG customer -> nation -> region -> world. Oracle = recursive
    longest root-paths."""
    from dbpedia_spotlight_spark.operators.graph import topological_layers

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    reg = spark.read.parquet(f"{sf_dir}/region.parquet")
    edges = (
        cust.filter(F.col("c_custkey") < 300)
        .select(
            F.concat(F.lit("c"), F.col("c_custkey")).alias("src"),
            F.concat(F.lit("n"), F.col("c_nationkey")).alias("dst"),
        )
        .unionByName(
            nat.select(
                F.concat(F.lit("n"), F.col("n_nationkey")).alias("src"),
                F.concat(F.lit("r"), F.col("n_regionkey")).alias("dst"),
            )
        )
        .unionByName(
            reg.select(
                F.concat(F.lit("r"), F.col("r_regionkey")).alias("src"),
                F.lit("world").alias("dst"),
            )
        )
    )
    return topological_layers(edges)


def q_sf_ambiguity(spark, sf_dir):
    """Surface-form ambiguity profile (operators/modelbuild.py:
    surface_ambiguity — sense entropy via the one-pass identity
    H = ln T − Σ c·ln c / T over the M3 candidate map; the number
    spotter tuning and prior-only linking decisions key on): the
    standing occurrence fixture's pair counts. Oracle = the same
    identity in SQL."""
    from dbpedia_spotlight_spark.operators.auxstats import surface_ambiguity
    from dbpedia_spotlight_spark.operators.modelbuild import pair_counts

    return surface_ambiguity(pair_counts(_occs(spark, sf_dir)))


def q_ngram_novelty(spark, sf_dir):
    """Corpus novelty curve (datapipe/textstats.py:ngram_novelty —
    first-occurrence ownership per distinct n-gram, one gram groupBy
    + one doc groupBy; the marginal-content signal behind dedup ROI):
    trigram novelty over documents in doc_id order. Oracle = the same
    min-owner algebra."""
    from dbpedia_spotlight_spark.datapipe.textstats import ngram_novelty

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return ngram_novelty(docs, n=3)


def q_kg_fd_profile(spark, sf_dir):
    """Functional-dependency discovery (operators/kglayout.py:
    functional_dependencies — one countDistinct groupBy per ordered
    column pair, column-pruned scans, no joins; the key-choice
    profiler for direct_mapping/r2rml_map): customer key, nation, and
    segment columns. Oracle = the same per-pair aggregation."""
    from dbpedia_spotlight_spark.operators.kglayout import (
        functional_dependencies,
    )

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return functional_dependencies(
        cust, ["c_custkey", "c_nationkey", "c_mktsegment"]
    )


def q_source_report(spark, sf_dir):
    """Per-source quality league table — a COMPOSITE over the text
    family (datapipe/textstats.py quality_score + token_count), the
    same demonstrate-the-composition role kg_quality_report plays for
    the KG QA family: one groupBy(source) over per-doc codegen
    signals. Oracle = the same formulas rolled up in SQL."""
    from dbpedia_spotlight_spark.datapipe.textstats import (
        quality_score,
        token_count,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    per_doc = docs.select(
        "source",
        token_count(F.col("text")).alias("_n"),
        quality_score(F.col("text")).alias("_q"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("_n").cast("long").alias("n_tokens"),
        F.round(F.avg("_q"), 4).alias("avg_quality"),
        F.round(F.min("_q"), 4).alias("min_quality"),
    )


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic explicit-register HyperLogLog
    (datapipe/sketches.py:hll_registers/hll_estimate, Flajolet et al.
    2007): per-bucket distinct-token estimates over the documents corpus
    — the register-based counterpart of `kmv_distinct`. Because the hash,
    bucket split, and rank are all defined (48-bit md5 prefix, low-8-bit
    bucket, length(bin(w)) rank — no float log anywhere in the sketch),
    the DuckDB twin replays the registers bit-for-bit and the harmonic
    estimator (sums of powers of two, exact in float64) to the last
    digit."""
    from dbpedia_spotlight_spark.datapipe.sketches import (
        hll_estimate,
        hll_registers,
    )

    toks = (
        _docs(spark, sf_dir)
        .select(
            (F.col("doc_id") % 4).cast("long").alias("bucket_key"),
            F.explode(F.split(F.lower("text"), " ")).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    regs = hll_registers(toks, ["bucket_key"], "token", p=8)
    return hll_estimate(regs, ["bucket_key"], p=8)


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries (datapipe/sketches.py:cms_sketch /
    cms_point_estimates, Cormode & Muthukrishnan 2005): build a 3x64
    counter table over the token stream in one scan (the shuffle carries
    the 192-cell table, never the vocabulary), then estimate the exact
    top-20 tokens' counts from the sketch. Deterministic keyed hashes
    (md5_48(i·US·token) mod width), so every cell and every min-over-rows
    estimate is integer-exact in the DuckDB twin; the output pairs each
    true count with its CMS upper bound."""
    from dbpedia_spotlight_spark.datapipe.sketches import (
        cms_point_estimates,
        cms_sketch,
    )

    toks = (
        _docs(spark, sf_dir)
        .select(F.explode(F.split(F.lower("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
    )
    sk = cms_sketch(toks, "token", depth=3, width=64)
    truth = toks.groupBy("token").agg(
        F.count("*").cast("long").alias("true_cnt")
    )
    top = truth.orderBy(F.desc("true_cnt"), F.asc("token")).limit(20)
    est = cms_point_estimates(
        sk, top.select("token"), "token", depth=3, width=64
    )
    return top.join(est, "token").select("token", "true_cnt", "cms_estimate")


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit (datapipe/pii.py:
    k_anonymity_report, Sweeney 2002; Machanavajjhala et al. 2007) of the
    customer table under quasi-identifiers (nation, account-balance
    band): per equivalence class, its size, the k=5 anonymity verdict,
    and the distinct-l-diversity of the market segment treated as the
    sensitive attribute. One groupBy — the release-gate audit a
    user-derived training table passes before export."""
    from dbpedia_spotlight_spark.datapipe.pii import k_anonymity_report

    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_nationkey").cast("long").alias("nation_key"),
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bal_band"),
        "c_mktsegment",
    )
    return k_anonymity_report(
        cust, ["nation_key", "bal_band"], "c_mktsegment", k=5
    )


def q_greedy_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy submodular max-coverage selection
    (datapipe/selection.py:greedy_max_coverage, Nemhauser et al. 1978):
    pick 5 documents maximizing distinct token-BIGRAM coverage of the
    corpus (bigrams, because the synthetic corpus's unigram vocabulary is
    tiny enough for one document to cover it) — the exact greedy with its
    (1-1/e) guarantee, k driver-loop rounds of one bounded aggregate each
    (anti-join remaining features, argmax by (gain desc, doc_id)).
    Deterministic tie-breaks make the pick sequence unique; the DuckDB
    twin unrolls the same 5 rounds."""
    from dbpedia_spotlight_spark.datapipe.selection import greedy_max_coverage

    feats = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.filter(
                F.split(F.lower("text"), " "), lambda x: x != ""
            ).alias("toks"),
        )
        .filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2),"
                    " i -> concat(toks[i], ' ', toks[i + 1]))"
                )
            ).alias("token"),
        )
    )
    return greedy_max_coverage(feats, "doc_id", "token", k=5)


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over the events stream (the all-subtotals
    companion of the existing ROLLUP query `docs_rollup`): counts and
    exact cent-sums by (event_type, value decile band), every marginal
    and the grand total in ONE pass — Spark expands the cube into a
    single Expand+Aggregate, 4 grouping sets sharing one shuffle instead
    of 4 scans. gid = 2*grouping(event_type)+grouping(val_band)
    disambiguates subtotal rows from genuine NULL groups."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type",
        F.floor(F.col("value") / 10).cast("long").alias("val_band"),
        F.round(F.col("value") * 100).cast("long").alias("_cents"),
    )
    return (
        ev.cube("event_type", "val_band")
        .agg(
            (
                F.grouping("event_type") * 2 + F.grouping("val_band")
            ).cast("int").alias("gid"),
            F.count("*").cast("long").alias("n"),
            F.sum("_cents").cast("long").alias("value_cents"),
        )
        .select("event_type", "val_band", "gid", "n", "value_cents")
    )


def q_kg_transitive_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive reduction of a taxonomy DAG
    (operators/closure.py:transitive_reduction, Aho/Garey/Ullman 1972):
    the class hierarchy from `kg_subclass_closure` (k -> k div 2) is
    polluted with deterministic grandparent shortcuts (k -> k div 4, the
    redundancy harvested edge sets actually contain), and the reduction
    must drop exactly the implied edges while keeping every irreducible
    one. closure (repeated squaring) + midpoint join + anti-join; oracle
    = DuckDB recursive CTE with the same NOT EXISTS."""
    from dbpedia_spotlight_spark.operators.closure import transitive_reduction

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    tree = part.filter(F.col("p_partkey") >= 2).select(
        F.col("p_partkey").cast("long").alias("class_id"),
        F.expr("p_partkey div 2").cast("long").alias("ancestor_id"),
    )
    shortcuts = part.filter(F.col("p_partkey") >= 4).select(
        F.col("p_partkey").cast("long").alias("class_id"),
        F.expr("p_partkey div 4").cast("long").alias("ancestor_id"),
    )
    return transitive_reduction(
        tree.unionByName(shortcuts), "class_id", "ancestor_id"
    )


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the clickstream
    (datapipe/funnel.py:event_transitions): per (src, dst) event-type
    pair, the per-user consecutive-transition count and row-normalized
    P(dst | src). One lead() window keyed on user (duplicate timestamps
    tie-broken by event_id), one pair groupBy; the normalizer windows
    over the |types|^2 matrix, never the stream."""
    from dbpedia_spotlight_spark.datapipe.funnel import event_transitions

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_transitions(ev)


def q_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution (datapipe/funnel.py:touch_attribution):
    purchase conversions distribute credit over each user's earlier
    view/click/signup touches under the first/last/linear position
    models. Linear credit is fixed-point (floor(1e6/n) micro-credits,
    exact BIGINT sums — no float accumulation order), making the whole
    report hash-checkable; `linear_credit` is one terminal division."""
    from dbpedia_spotlight_spark.datapipe.funnel import touch_attribution

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return touch_attribution(
        ev, "purchase", ["view", "click", "signup"]
    )


def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment readout (datapipe/funnel.py:
    ab_test_report): md5-parity hash split of users into two arms,
    conversion = any purchase event, and the two-proportion pooled
    z-statistic. sqrt is IEEE correctly-rounded and the DuckDB twin
    mirrors the exact expression tree, so even the test statistic
    hash-checks."""
    from dbpedia_spotlight_spark.datapipe.funnel import ab_test_report

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ab_test_report(ev, "purchase")


def q_event_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (datapipe/funnel.py:event_ohlc): per
    (event_type, hour), open/high/low/close in exact integer cents with
    count and volume — the candlestick/metrics-rollup shape. Open/close
    are first/last by (ts, event_id); all aggregates are integer-exact.
    Bucket timestamps are emitted as formatted strings (the engine-
    portable timestamp convention of `events_windowed`)."""
    from dbpedia_spotlight_spark.datapipe.funnel import event_ohlc

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_ohlc(ev).select(
        "event_type",
        F.date_format("bucket_ts", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "open_cents",
        "high_cents",
        "low_cents",
        "close_cents",
        "n",
        "volume_cents",
    )


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch / Flesch-Kincaid readability
    (datapipe/textstats.py:readability_scores): regex-only word,
    sentence, and vowel-group syllable counts per document plus the two
    published linear scores — a standard corpus-quality feature next to
    the Gopher stats. Pure codegen projections, RE2-safe patterns, no
    shuffle."""
    from dbpedia_spotlight_spark.datapipe.textstats import readability_scores

    return readability_scores(_docs(spark, sf_dir))


def q_hilbert_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout keys over (user_id, json k)
    (functions/zorder.py:with_hilbert_key) — the premium space-filling
    curve next to the Morton `zorder_keys` query: consecutive key values
    are always grid-adjacent, so key-range file pruning touches fewer
    tiles for the same predicate. One chain of integer projections
    (shift/and/xor/CASE), whole-stage codegen, bit-for-bit replayed by
    the oracle's staged-CTE unroll (tested against the classic xy2d
    reference in tests/test_text_functions.py)."""
    from dbpedia_spotlight_spark.functions.zorder import with_hilbert_key

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id",
        F.col("user_id").alias("x"),
        F.get_json_object("props", "$.k").cast("long").alias("y"),
    )
    return with_hilbert_key(ev, "x", "y", bits=8).select(
        "event_id", "hilbert_key"
    )


def q_docgen_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python Data Source API generator (io/datasource.py:
    DocGenDataSource, SPARK-44076): a deterministic synthetic corpus —
    every (doc_id, position) token is md5_48(doc·US·pos) mod vocab, the
    id range split across InputPartitions, rows crossing to the JVM as
    Arrow batches. The BASELINE input-hint's "synthesize the input
    deterministically" as a first-class `spark.read.format` source; the
    oracle replays every token with generate_series + the same md5
    arithmetic (sf_dir-independent by design — the source IS the
    generator)."""
    from dbpedia_spotlight_spark.io.datasource import register_sources

    register_sources(spark)
    return (
        spark.read.format("docgen")
        .option("n_docs", 300)
        .option("doc_len", 30)
        .option("vocab", 61)
        .option("partitions", 8)
        .load()
    )


def q_tpch_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping-priority top-10: BUILDING-segment
    customers' orders placed before the cutoff with lineitems shipped
    after it, ranked by discounted revenue. Three fact-side hash joins
    (customer dim filtered first so the probe side shrinks early), one
    group-by, and the top-10 is TakeOrderedAndProject (per-partition
    heaps — no global sort), revenue ties broken by orderkey so the
    selection is deterministic."""
    for t in ("lineitem", "orders", "customer"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(
            f"v_{t}"
        )
    return spark.sql(
        """
        SELECT l.l_orderkey,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 6)
                 AS revenue,
               date_format(o.o_orderdate, 'yyyy-MM-dd') AS order_date,
               o.o_orderpriority
        FROM v_customer c
        JOIN v_orders o ON c.c_custkey = o.o_custkey
        JOIN v_lineitem l ON o.o_orderkey = l.l_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < timestamp'1998-06-01 00:00:00'
          AND l.l_shipdate > timestamp'1998-06-01 00:00:00'
        GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
        ORDER BY sum(l.l_extendedprice * (1 - l.l_discount)) DESC,
                 l.l_orderkey
        LIMIT 10
        """
    )


def q_event_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..5 autocorrelation of each event type's value series
    (datapipe/funnel.py:event_acf): Pearson correlation of the
    cent-exact series with its (ts, id)-ordered shifts, computed from
    five BIGINT power sums so only the terminal expression is floating
    point — the seasonality/burst-memory profile, hash-checkable like
    ab_test's z."""
    from dbpedia_spotlight_spark.datapipe.funnel import event_acf

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return event_acf(ev, max_lag=5)


def q_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals
    (datapipe/expectations.py:benford_profile): per digit 1..9 the
    observed share vs log10(1+1/d) and the chi-square term — the
    classic fabricated-data / unit-error screen as one 9-key groupBy.
    Expected shares are bound as literals so both engines embed the
    identical doubles."""
    from dbpedia_spotlight_spark.datapipe.expectations import benford_profile

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return benford_profile(orders, "o_totalprice")


def q_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversity rerank
    (datapipe/similarity.py:mmr_rerank, Carbonell & Goldstein 1998):
    from query vec_id 0's exact top-20 pool, greedily pick 5 docs by
    lam·rel − (1−lam)·max-sim-to-selected (lam 0.7) — the rerank
    between ANN retrieval and the context window. Distributed top-pool
    + pool² cosine matrix; only the bounded matrix reaches the driver.
    Scores pre-rounded to 9 decimals on both engines so the greedy
    cascade can't diverge on last-ulp cosine differences; the DuckDB
    twin unrolls the same 5 argmax rounds."""
    from dbpedia_spotlight_spark.datapipe.similarity import mmr_rerank

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    return mmr_rerank(emb, query_vec_id=0, pool_size=20, k=5, lam=0.7)


def q_rrf_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion (datapipe/similarity.py:rrf_fuse, Cormack
    et al. 2009): merge the two bm25_search queries' top-10 lists by
    Σ 1/(60+rank) — the calibration-free hybrid-retrieval merge. The
    per-list terms accumulate through a FIXED chain of outer joins
    (not a groupBy float sum), so the score is order-deterministic and
    the DuckDB twin replays it exactly."""
    from dbpedia_spotlight_spark.datapipe.similarity import rrf_fuse
    from dbpedia_spotlight_spark.operators.bm25 import bm25_scores

    qs = spark.createDataFrame(
        [(0, "join"), (0, "hash"), (1, "customer"), (1, "slow"), (1, "merge")],
        "query_id long, term string",
    )
    ranked = bm25_scores(_docs(spark, sf_dir), qs, k=10)
    return rrf_fuse(
        [
            ranked.filter(F.col("query_id") == 0),
            ranked.filter(F.col("query_id") == 1),
        ]
    )


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) event-time windows — the overlapping-window
    companion of the tumbling `events_windowed`: 1-hour windows every
    30 minutes, so each event lands in exactly duration/slide = 2
    windows; Spark expands this as one Expand + single shuffle, not two
    scans. Oracle replays the epoch-grid window starts with
    unnest([0, 1])."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").cast("long").alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("ws"),
            "event_type",
            "n",
        )
    )


def q_kg_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the entity co-occurrence graph
    (operators/graph.py:degree_assortativity, Newman 2002): the Pearson
    correlation of endpoint degrees over the symmetrized edge list —
    hub-mixing profile in one number, computed from BIGINT power sums
    with a single terminal float expression (the ACF discipline)."""
    from dbpedia_spotlight_spark.operators.graph import degree_assortativity

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    return degree_assortativity(
        edges.select(
            F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
        )
    )


def q_docgen_interleaved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The docgen source's interleaved mode (io/datasource.py): the
    BASELINE input-hint table (doc_id, spans array<struct<kind, text,
    media_ref, offset>>) synthesized deterministically — every 5th doc
    splits its text at the token midpoint around a media span. The
    query flattens via posexplode to engine-comparable rows; the oracle
    replays the exact token/offset recipe, nested construction
    included, with generate_series + string_agg."""
    from dbpedia_spotlight_spark.io.datasource import register_sources

    register_sources(spark)
    docs = (
        spark.read.format("docgen")
        .option("n_docs", 200)
        .option("doc_len", 30)
        .option("vocab", 61)
        .option("partitions", 4)
        .option("interleaved", "true")
        .load()
    )
    return docs.select(
        "doc_id", F.posexplode("spans").alias("span_pos", "s")
    ).select(
        "doc_id",
        "span_pos",
        F.col("s.kind").alias("kind"),
        F.length("s.text").alias("text_len"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.offset").alias("offset"),
    )


def q_orders_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto frontier (operators/skyline.py, Börzsönyi
    et al. 2001): orders not dominated on (price, order date) — cheaper
    AND earlier, both minimized, exact integer units (cents + epoch
    seconds). Two-phase distributed skyline (lossless per-partition
    local prune, then the bounded survivor set); the oracle is the
    textbook NOT EXISTS dominance definition, so the hash check proves
    the optimized plan equals the definition."""
    from dbpedia_spotlight_spark.operators.skyline import skyline_2d

    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("order_day"),
    )
    return skyline_2d(o, "price_cents", "order_day")


def q_kg_temporal_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting earliest-arrival reachability
    (operators/graph.py:earliest_arrival, Wu et al. 2014): over the
    temporal entity graph (an edge per co-occurring entity pair
    timestamped by its doc_id), the earliest time each entity is
    reachable from the lexicographically smallest one along paths with
    STRICTLY INCREASING timestamps, <= 3 hops — the "when could this
    have propagated" provenance primitive plain BFS over-reports.
    Min-arrival frontier pruning is lossless (earlier arrival enables a
    superset of later edges); oracle = bounded recursive CTE over all
    increasing paths."""
    from dbpedia_spotlight_spark.operators.graph import earliest_arrival

    du = (
        _occs(spark, sf_dir)
        .select("doc_id", "uri")
        .distinct()
    )
    te = (
        du.alias("a")
        .join(du.alias("b"), "doc_id")
        .filter(F.col("a.uri") != F.col("b.uri"))
        .select(
            F.col("a.uri").alias("src"),
            F.col("b.uri").alias("dst"),
            F.col("doc_id").cast("long").alias("ts"),
        )
    )
    sources = te.agg(F.min("src").alias("node"))
    return earliest_arrival(te, sources, max_hops=3)


def q_ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (datapipe/funnel.py:ab_cuped,
    Deng et al. 2013): pre-period (before Jan 15) per-user cent sums as
    the covariate for the post-period metric; per-arm adjusted means,
    pooled theta, and the variance-reduction ratio — all closed forms
    over seven BIGINT power sums, so even theta hash-checks."""
    from dbpedia_spotlight_spark.datapipe.funnel import ab_cuped

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ab_cuped(ev, "2024-01-15 00:00:00")


def q_ab_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U between the md5-parity arms
    (datapipe/funnel.py:mann_whitney_u): the nonparametric rank-sum
    test computed by VALUE-HISTOGRAM convolution — no global rank
    window, no pairwise join; U doubled to stay integer under ties,
    tie-corrected normal z as one terminal float expression over exact
    BIGINT sums."""
    from dbpedia_spotlight_spark.datapipe.funnel import mann_whitney_u

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return mann_whitney_u(ev)


def q_annotator_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent English detectors
    (datapipe/expectations.py:cohens_kappa): the full language-ID
    heuristic vs a bare marker-word test — the weak-supervision
    agreement audit run before trusting silver labels. Kappa is a
    ratio of exact integers (one terminal division), so it
    hash-checks."""
    from dbpedia_spotlight_spark.datapipe.expectations import cohens_kappa
    from dbpedia_spotlight_spark.datapipe.textstats import (
        _LANG_MARKERS,
        language_id,
        words_col,
    )

    docs = _docs(spark, sf_dir)
    lab = docs.select(
        (language_id(F.col("text")) == "en").cast("int").alias("a"),
        F.arrays_overlap(
            words_col(F.col("text")),
            F.array(*[F.lit(m) for m in _LANG_MARKERS["en"]]),
        ).cast("int").alias("b"),
    )
    return cohens_kappa(lab, "a", "b")


def q_kg_truthy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wikidata-style best-rank statement filtering
    (operators/kbmaintain.py:truthy_statements): mention statements
    carry deterministic preferred/normal/deprecated ranks (by token
    position), and the truthy view keeps preferred-if-any else normal
    per (subj, pred), always dropping deprecated — the wdt: flattening
    every Wikidata consumer applies. One keyed window, no join."""
    from dbpedia_spotlight_spark.operators.kbmaintain import truthy_statements

    st = _occs(spark, sf_dir).select(
        F.col("uri").alias("subj"),
        F.lit("mentionedIn").alias("pred"),
        F.concat(F.lit("d"), F.col("doc_id")).alias("obj"),
        F.when(F.col("pos") % 7 == 0, F.lit("preferred"))
        .when(F.col("pos") % 5 == 0, F.lit("deprecated"))
        .otherwise(F.lit("normal"))
        .alias("rank"),
    )
    return truthy_statements(st).select("subj", "pred", "obj", "rank")


def q_doc_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document
    (datapipe/textstats.py:tfidf_keywords): exact integer tf/df with
    the smoothed-idf single-ln score, per-doc rank window tie-broken by
    term — the classic salience baseline next to textrank_summary."""
    from dbpedia_spotlight_spark.datapipe.textstats import tfidf_keywords

    return tfidf_keywords(_docs(spark, sf_dir), k=3)


def q_kg_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution power-law exponent MLE
    (operators/graph.py:powerlaw_alpha, Clauset et al. 2009): the
    heavy-tail profile of the entity co-occurrence graph — the number
    that says whether the skew-join treatment is warranted. Weighted ln
    sum over the bounded distinct-degree domain, d_min = 2."""
    from dbpedia_spotlight_spark.operators.graph import powerlaw_alpha

    edges = cooccurrence_edges(_occs(spark, sf_dir), min_count=150)
    return powerlaw_alpha(
        edges.select(
            F.col("src_uri").alias("src"), F.col("dst_uri").alias("dst")
        ),
        d_min=2,
    )


def q_funnel_absorption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-step absorption probability of the clickstream Markov chain
    (datapipe/funnel.py:absorption_probability): how likely a user in
    each event state reaches `purchase` within 10 transitions — the
    chain-based complement of the positional funnel. The bounded
    event-type matrix iterates driver-side in a fixed alphabetical
    float order; the oracle unrolls the identical 10 stages over the
    five states, so every probability hash-checks."""
    from dbpedia_spotlight_spark.datapipe.funnel import absorption_probability

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return absorption_probability(ev, "purchase", steps=10)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # Ordered never-driver-sampled-first: the driver checks ~50 queries per
    # round, so queries without a CORRECTNESS_r* row yet must lead the dict.
    # r5: the ordering is now computed from the committed CORRECTNESS_r*.json
    # records themselves (stable within each group), so every new round's
    # sample automatically rotates to the back and the never-sampled backlog
    # drains ~50/round. Every entry has an oracle_sql twin unless its
    # docstring declares rows-only.
    base = {
        "kg_betweenness_sampled": q_kg_betweenness_sampled,
        "kg_closeness_sampled": q_kg_closeness_sampled,
        "annotate_windowed_scored": q_annotate_windowed_scored,
        "funnel_absorption": q_funnel_absorption,
        "kg_powerlaw": q_kg_powerlaw,
        "doc_keywords": q_doc_keywords,
        "kg_truthy": q_kg_truthy,
        "annotator_kappa": q_annotator_kappa,
        "ab_mann_whitney": q_ab_mann_whitney,
        "ab_cuped": q_ab_cuped,
        "orders_skyline": q_orders_skyline,
        "kg_temporal_paths": q_kg_temporal_paths,
        "docgen_interleaved": q_docgen_interleaved,
        "rrf_fuse": q_rrf_fuse,
        "events_sliding": q_events_sliding,
        "kg_assortativity": q_kg_assortativity,
        "mmr_rerank": q_mmr_rerank,
        "event_acf": q_event_acf,
        "benford_audit": q_benford_audit,
        "tpch_shipping": q_tpch_shipping,
        "docgen_corpus": q_docgen_corpus,
        "hilbert_keys": q_hilbert_keys,
        "event_transitions": q_event_transitions,
        "touch_attribution": q_touch_attribution,
        "ab_test": q_ab_test,
        "event_ohlc": q_event_ohlc,
        "readability": q_readability,
        "hll_distinct": q_hll_distinct,
        "cms_counts": q_cms_counts,
        "k_anonymity": q_k_anonymity,
        "greedy_cover": q_greedy_cover,
        "events_cube": q_events_cube,
        "kg_transitive_reduction": q_kg_transitive_reduction,
        "source_report": q_source_report,
        "kg_fd_profile": q_kg_fd_profile,
        "sf_ambiguity": q_sf_ambiguity,
        "ngram_novelty": q_ngram_novelty,
        "kg_topo_layers": q_kg_topo_layers,
        "kg_winsorize": q_kg_winsorize,
        "kg_directed_profile": q_kg_directed_profile,
        "feature_hash": q_feature_hash,
        "blocklist_screen": q_blocklist_screen,
        "dedup_audit": q_dedup_audit,
        "textrank_summary": q_textrank_summary,
        "conformal_nil": q_conformal_nil,
        "acronym_mine": q_acronym_mine,
        "hearst_isa": q_hearst_isa,
        "kg_star_card": q_kg_star_card,
        "word_dropout": q_word_dropout,
        "harmonic_pack": q_harmonic_pack,
        "ann_recall": q_ann_recall,
        "sft_pack": q_sft_pack,
        "kg_kb_timeline": q_kg_kb_timeline,
        "event_quantiles": q_event_quantiles,
        "kg_cbd": q_kg_cbd,
        "kg_join_card": q_kg_join_card,
        "label_noise": q_label_noise,
        "mixture_check": q_mixture_check,
        "shard_kl": q_shard_kl,
        "kg_fellegi_sunter": q_kg_fellegi_sunter,
        "kg_graph_sample": q_kg_graph_sample,
        "score_blend": q_score_blend,
        "kg_community_metrics": q_kg_community_metrics,
        "event_bursts": q_event_bursts,
        "nquads_roundtrip": q_nquads_roundtrip,
        "kg_jsonld": q_kg_jsonld,
        "kg_view_delta": q_kg_view_delta,
        "distant_supervision": q_distant_supervision,
        "kg_skolemize": q_kg_skolemize,
        "kg_edit_join": q_kg_edit_join,
        "kg_temporal_constraints": q_kg_temporal_constraints,
        "calibration_curve": q_calibration_curve,
        "mask_entities": q_mask_entities,
        "span_layer_align": q_span_layer_align,
        "kg_taxonomy_profile": q_kg_taxonomy_profile,
        "kg_neighborhood_agg": q_kg_neighborhood_agg,
        "kg_luby_mis": q_kg_luby_mis,
        "kg_equi_depth": q_kg_equi_depth,
        "kg_completeness": q_kg_completeness,
        "vocab_zipf": q_vocab_zipf,
        "kg_validity_histogram": q_kg_validity_histogram,
        "priority_mix": q_priority_mix,
        "contrastive_mine": q_contrastive_mine,
        "kg_interval_subtract": q_kg_interval_subtract,
        "kg_verbalize": q_kg_verbalize,
        "temperature_mix": q_temperature_mix,
        "leakage_split": q_leakage_split,
        "span_vote": q_span_vote,
        "kg_sorted_neighborhood": q_kg_sorted_neighborhood,
        "kg_path_trace": q_kg_path_trace,
        "kg_ifp_sameas": q_kg_ifp_sameas,
        "kg_char_sets": q_kg_char_sets,
        "kg_ic_similarity": q_kg_ic_similarity,
        "kg_interval_coalesce": q_kg_interval_coalesce,
        "kg_scc": q_kg_scc,
        "kg_closeness": q_kg_closeness,
        "kg_exists": q_kg_exists,
        "kg_interval_align": q_kg_interval_align,
        "kg_interval_overlaps": q_kg_interval_overlaps,
        "kg_shape_infer": q_kg_shape_infer,
        "kg_literal_outliers": q_kg_literal_outliers,
        "rdfstar_roundtrip": q_rdfstar_roundtrip,
        "kg_condensation": q_kg_condensation,
        "kg_disjoint_violations": q_kg_disjoint_violations,
        "kg_pg_to_rdf": q_kg_pg_to_rdf,
        "kg_pg_roundtrip": q_kg_pg_roundtrip,
        "kg_best_label": q_kg_best_label,
        "kg_betweenness": q_kg_betweenness,
        "kg_eccentricity": q_kg_eccentricity,
        "kg_type_propagation": q_kg_type_propagation,
        "kg_link_pred_eval": q_kg_link_pred_eval,
        "kg_quality_report": q_kg_quality_report,
        "kg_datalog": q_kg_datalog,
        "kg_r2rml": q_kg_r2rml,
        "kg_nil_clustering": q_kg_nil_clustering,
        "kg_rule_mining": q_kg_rule_mining,
        "iv_entity_spans": q_iv_entity_spans,
        "kg_eigenvector": q_kg_eigenvector,
        "kg_asof_bgp": q_kg_asof_bgp,
        "kg_wu_palmer": q_kg_wu_palmer,
        "kg_sparql_strfuncs": q_kg_sparql_strfuncs,
        "kg_path_quantified": q_kg_path_quantified,
        "kg_rdf_lists": q_kg_rdf_lists,
        "kg_reify": q_kg_reify,
        "kg_unreify": q_kg_unreify,
        "kg_katz": q_kg_katz,
        "kg_walks": q_kg_walks,
        "kg_asof": q_kg_asof,
        "kg_kb_delta": q_kg_kb_delta,
        "kg_shacl_terms": q_kg_shacl_terms,
        "trig_blocks": q_trig_blocks,
        "kg_coref": q_kg_coref,
        "kg_pred_align": q_kg_pred_align,
        "kg_subsumption": q_kg_subsumption,
        "kg_bnode_canon": q_kg_bnode_canon,
        "kg_fact_fusion": q_kg_fact_fusion,
        "kg_conflict_resolution": q_kg_conflict_resolution,
        "kg_graph_clause": q_kg_graph_clause,
        "kg_lang_literals": q_kg_lang_literals,
        "kg_sparql_lang": q_kg_sparql_lang,
        "iv_stats": q_iv_stats,
        "iv_media_context": q_iv_media_context,
        "iv_pack": q_iv_pack,
        "iv_span_diff": q_iv_span_diff,
        "rdfxml_blocks": q_rdfxml_blocks,
        "kg_graph_summary": q_kg_graph_summary,
        "kg_adamic_adar": q_kg_adamic_adar,
        "bpe_learn": q_bpe_learn,
        "bpe_tokens": q_bpe_tokens,
        "kg_property_table": q_kg_property_table,
        "kg_schema_summary": q_kg_schema_summary,
        "kg_fact_ranking": q_kg_fact_ranking,
        "kg_entity_digest": q_kg_entity_digest,
        "kg_update": q_kg_update,
        "kg_owl_entailment": q_kg_owl_entailment,
        "kg_void_stats": q_kg_void_stats,
        "events_funnel": q_events_funnel,
        "events_retention": q_events_retention,
        "kg_fastrp": q_kg_fastrp,
        "kg_predicate_profile": q_kg_predicate_profile,
        "kg_path_profile": q_kg_path_profile,
        "kg_direct_mapping": q_kg_direct_mapping,
        "kg_dangling": q_kg_dangling,
        "trigram_perplexity": q_trigram_perplexity,
        "wiki_kg_extract": q_wiki_kg_extract,
        "kg_sameas": q_kg_sameas,
        "kg_diff": q_kg_diff,
        "kg_closure_delta": q_kg_closure_delta,
        "kg_kcore": q_kg_kcore,
        "kg_hits": q_kg_hits,
        "kg_truss": q_kg_truss,
        "jsonld_nodes": q_jsonld_nodes,
        "kg_schema_entailment": q_kg_schema_entailment,
        "kg_shacl": q_kg_shacl,
        "warc_roundtrip": q_warc_roundtrip,
        "url_canonical": q_url_canonical,
        "html_extract": q_html_extract,
        "nt_lines": q_nt_lines,
        "nquads_lines": q_nquads_lines,
        "turtle_blocks": q_turtle_blocks,
        "annotate_windowed": q_annotate_windowed,
        "kg_construct": q_kg_construct,
        "kg_path_inverse": q_kg_path_inverse,
        "kg_ask": q_kg_ask,
        "kg_negated_path": q_kg_negated_path,
        "kg_bind": q_kg_bind,
        "kg_not_exists": q_kg_not_exists,
        "kg_having": q_kg_having,
        "kg_count_distinct": q_kg_count_distinct,
        "kg_describe": q_kg_describe,
        "kg_subquery": q_kg_subquery,
        "kg_group_concat": q_kg_group_concat,
        "kg_path_star": q_kg_path_star,
        "kg_path_seq_alt": q_kg_path_seq_alt,
        "kg_bgp_two_optionals": q_kg_bgp_two_optionals,
        "kg_values_multi": q_kg_values_multi,
        "annotations_json": q_annotations_json,
        "annotations_xml": q_annotations_xml,
        "kg_degree_hist": q_kg_degree_hist,
        "kg_property_path": q_kg_property_path,
        "kg_clustering": q_kg_clustering,
        "kg_entity_jaccard": q_kg_entity_jaccard,
        "kg_bgp_minus": q_kg_bgp_minus,
        "kg_sparql_agg": q_kg_sparql_agg,
        "kg_bgp_union": q_kg_bgp_union,
        "kmv_distinct": q_kmv_distinct,
        "table_expectations": q_table_expectations,
        "kg_negative_samples": q_kg_negative_samples,
        "random_walks": q_random_walks,
        "kmv_intersection": q_kmv_intersection,
        "winnow_docs": q_winnow_docs,
        "nfc_normalize": q_nfc_normalize,
        "quota_sample": q_quota_sample,
        "simhash_pairs": q_simhash_pairs,
        "ngram_jaccard_dups": q_ngram_jaccard_dups,
        "dedup_spans": q_dedup_spans,
        "dedup_spans_clean": q_dedup_spans_clean,
        "dedup_embedding": q_dedup_embedding,
        "semantic_dedup": q_semantic_dedup,
        "ivf_topk": q_ivf_topk,
        "events_windowed": q_events_windowed,
        "sessionize": q_sessionize,
        "events_asof": q_events_asof,
        "events_props": q_events_props,
        "docs_rollup": q_docs_rollup,
        "events_pivot": q_events_pivot,
        "session_events": q_session_events,
        "length_quantiles": q_length_quantiles,
        "event_value_stats": q_event_value_stats,
        "graph_triangles": q_graph_triangles,
        "event_deltas": q_event_deltas,
        "dedup_incremental": q_dedup_incremental,
        "zorder_keys": q_zorder_keys,
        "vocab_setops": q_vocab_setops,
        "ccnet_buckets": q_ccnet_buckets,
        "dtw_series": q_dtw_series,
        "tpch_pricing": q_tpch_pricing,
        "embedding_pool": q_embedding_pool,
        "events_join_within": q_events_join_within,
        "tpch_priority": q_tpch_priority,
        "fuzzy_words": q_fuzzy_words,
        "daily_dense": q_daily_dense,
        "tpch_revenue": q_tpch_revenue,
        "pii_scrub": q_pii_scrub,
        "repetition_stats": q_repetition_stats,
        "seq_pack": q_seq_pack,
        "doc_chunks": q_doc_chunks,
        "stratified_sample": q_stratified_sample,
        "quality_filter": q_quality_filter,
        "unigram_logprob": q_unigram_logprob,
        "dsir_select": q_dsir_select,
        "decontaminate": q_decontaminate,
        "graph_centrality": q_graph_centrality,
        "spot_dictionary": q_spot_dictionary,
        "prior_top1": q_prior_top1,
        "nif_triples": q_nif_triples,
        "m1_uri_counts": q_m1_uri_counts,
        "m2_sf_total_counts": q_m2_sf_total_counts,
        "m3_pair_counts": q_m3_pair_counts,
        "m5_occurrences_count": q_m5_occurrences_count,
        "m6_cooccurrence": q_m6_cooccurrence,
        "m7_sorted_occurrences": q_m7_sorted_occurrences,
        "m8_redirect_closure": q_m8_redirect_closure,
        "s13_lexicalizations": q_s13_lexicalizations,
        "spot_selectors": q_spot_selectors,
        "f8_narrow_context": q_f8_narrow_context,
        "dedup_exact": q_dedup_exact,
        "dedup_prefix": q_dedup_prefix,
        "text_stats": q_text_stats,
        "lang_id": q_lang_id,
        "knn_cosine": q_knn_cosine,
        "interleave_roundtrip": q_interleave_roundtrip,
        "minhash_near_dups": q_minhash_near_dups,
        "simhash_buckets": q_simhash_buckets,
        "lsh_topk": q_lsh_topk,
        "doc_fingerprint": q_doc_fingerprint,
        "dedup_clusters": q_dedup_clusters,
        "wikilink_corpus": q_wikilink_corpus,
        "wiki_dump_source": q_wiki_dump_source,
        "m14_aux_stats": q_m14_aux_stats,
        "annotate_prior": q_annotate_prior,
        "d3_generative": q_d3_generative,
        "m4_token_counts": q_m4_token_counts,
        "m10_concepts": q_m10_concepts,
        "media_features": q_media_features,
        "bm25_search": q_bm25_search,
        "scd2_resources": q_scd2_resources,
        "bpe_merges": q_bpe_merges,
        "kg_two_hop": q_kg_two_hop,
        "kg_subclass_closure": q_kg_subclass_closure,
        "kg_bgp": q_kg_bgp,
        "kg_bfs": q_kg_bfs,
        "kg_pagerank": q_kg_pagerank,
        "kg_communities": q_kg_communities,
        "heavy_hitters": q_heavy_hitters,
        "entity_salience": q_entity_salience,
        "emerging_entities": q_emerging_entities,
        "relation_extract": q_relation_extract,
        "kg_components": q_kg_components,
        "kg_type_entailment": q_kg_type_entailment,
        "entity_alignment": q_entity_alignment,
        "kg_shortest_paths": q_kg_shortest_paths,
        "kg_bgp_optional": q_kg_bgp_optional,
        "f_filter_chain": q_f_filter_chain,
        "m9_resolve": q_m9_resolve,
        "d2_windows": q_d2_windows,
        "c1_candidates": q_c1_candidates,
        "d6_tficf": q_d6_tficf,
        "s7_token_bags": q_s7_token_bags,
        "d9_mixtures": q_d9_mixtures,
        "d16_pagerank": q_d16_pagerank,
        "eval_linking": q_eval_linking,
        "annotate_e2e": q_annotate_e2e,
    }
    import glob as _glob
    import json as _json
    import os

    sampled: set = set()
    here = os.path.dirname(os.path.abspath(__file__))
    for rec in sorted(_glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        try:
            with open(rec) as fh:
                sampled.update(_json.load(fh).keys())
        except (OSError, ValueError):
            pass
    # stable partition: never-driver-sampled first, each group in the
    # hand-curated base order
    return {k: base[k] for k in sorted(base, key=lambda q: q in sampled)}


def oracle_sql() -> dict[str, str]:
    sql: dict[str, str] = {}

    # Ring-and-tails cyclic fixture twin (see _ring_edges): nation rings
    # per region via the same lead/first window, customer tails.
    _RING_CTE = """
ring AS (
  SELECT 'n' || n_nationkey::VARCHAR AS src,
         'n' || coalesce(
            lead(n_nationkey) OVER w,
            first_value(n_nationkey) OVER (
              PARTITION BY n_regionkey ORDER BY n_nationkey
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
         )::VARCHAR AS dst
  FROM nation
  WINDOW w AS (PARTITION BY n_regionkey ORDER BY n_nationkey)
),
edges AS (
  SELECT src, dst FROM ring
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'n' || c_nationkey::VARCHAR
  FROM customer
),
nodes AS (
  SELECT DISTINCT node FROM (
    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)
)"""

    sql["kg_scc"] = f"""
WITH RECURSIVE {_RING_CTE.lstrip()},
reach (src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
mutual AS (
  SELECT a.src AS node, a.dst AS peer
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
  UNION ALL
  SELECT node, node FROM nodes
)
SELECT node, min(peer) AS component FROM mutual GROUP BY 1
"""

    sql["kg_closeness"] = f"""
WITH RECURSIVE {_RING_CTE.lstrip()},
walk (src, dst, d) AS (
  SELECT src, dst, 1 FROM edges WHERE src != dst
  UNION
  SELECT w.src, e.dst, w.d + 1
  FROM walk w JOIN edges e ON w.dst = e.src
  WHERE w.d < 8 AND w.src != e.dst
),
dist AS (SELECT src, dst, min(d) AS d FROM walk GROUP BY 1, 2),
per AS (
  SELECT src AS node, count(*) AS reached, sum(d) AS total_dist,
         sum(1.0 / d) AS harmonic
  FROM dist GROUP BY 1
),
n AS (SELECT count(*) AS total FROM nodes)
SELECT nodes.node,
       coalesce(per.reached, 0)::BIGINT AS reached,
       coalesce(per.total_dist, 0)::BIGINT AS total_dist,
       round(CASE WHEN per.total_dist IS NOT NULL
             THEN (per.reached / (n.total - 1.0))
                  * (per.reached / per.total_dist)
             ELSE 0.0 END, 6) AS closeness,
       round(coalesce(per.harmonic, 0.0), 6) AS harmonic
FROM nodes CROSS JOIN n LEFT JOIN per ON per.node = nodes.node
"""

    sql["kg_exists"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT t.subj AS c, t.obj AS n
FROM tr t
WHERE t.pred = 'inNation'
  AND EXISTS (
    SELECT 1 FROM tr s WHERE s.pred = 'segment' AND s.subj = t.subj
  )
"""

    sql["kg_interval_align"] = """
WITH l AS (
  SELECT 'o' || o_orderkey::VARCHAR AS key,
         o_orderdate::DATE AS l_start,
         o_orderdate::DATE + 30 AS l_end
  FROM orders
),
r AS (
  SELECT 'o' || l_orderkey::VARCHAR AS key,
         l_shipdate::DATE AS r_start,
         l_shipdate::DATE + (l_quantity::INT + 1) AS r_end
  FROM lineitem
)
SELECT l.key,
  strftime(l.l_start, '%Y-%m-%d') AS l_start,
  strftime(l.l_end, '%Y-%m-%d') AS l_end,
  strftime(r.r_start, '%Y-%m-%d') AS r_start,
  strftime(r.r_end, '%Y-%m-%d') AS r_end,
  CASE
    WHEN l_start = r_start AND l_end = r_end THEN 'equals'
    WHEN l_end < r_start THEN 'before'
    WHEN r_end < l_start THEN 'after'
    WHEN l_end = r_start THEN 'meets'
    WHEN r_end = l_start THEN 'met_by'
    WHEN l_start = r_start AND l_end < r_end THEN 'starts'
    WHEN l_start = r_start AND r_end < l_end THEN 'started_by'
    WHEN l_end = r_end AND r_start < l_start THEN 'finishes'
    WHEN l_end = r_end AND l_start < r_start THEN 'finished_by'
    WHEN r_start < l_start AND l_end < r_end THEN 'during'
    WHEN l_start < r_start AND r_end < l_end THEN 'contains'
    WHEN l_start < r_start AND r_start < l_end AND l_end < r_end
      THEN 'overlaps'
    WHEN r_start < l_start AND l_start < r_end AND r_end < l_end
      THEN 'overlapped_by'
  END AS relation
FROM l JOIN r USING (key)
"""

    sql["kg_interval_overlaps"] = """
WITH iv AS (
  SELECT 'o' || o_orderkey::VARCHAR AS id,
         o_orderdate::DATE AS s, o_orderdate::DATE + 30 AS e
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey = 7
)
SELECT a.id AS a, b.id AS b,
       strftime(a.s, '%Y-%m-%d') AS a_start,
       strftime(a.e, '%Y-%m-%d') AS a_end,
       strftime(b.s, '%Y-%m-%d') AS b_start,
       strftime(b.e, '%Y-%m-%d') AS b_end
FROM iv a JOIN iv b
  ON a.id < b.id AND a.s < b.e AND b.s < a.e
"""

    # kg_shape_infer: term_datatype replicated for the fixture's three
    # term forms (plain IRI, '"v"', '"v"^^<dt>'); in_values from the
    # distinct projection with the same <= 8 cap.
    sql["kg_shape_infer"] = """
WITH tri AS (
  SELECT 'c' || c_custkey::VARCHAR AS subj, 'rdf:type' AS pred,
         'Customer' AS obj FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'inNation',
         'n' || c_nationkey::VARCHAR FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'name', '"' || c_name || '"'
  FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'bal',
         '"' || (c_custkey % 100)::VARCHAR
             || '"^^<http://www.w3.org/2001/XMLSchema#integer>'
  FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'segment', '"BUILDING"'
  FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'rdf:type', 'Nation' FROM nation
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'within',
         'r' || n_regionkey::VARCHAR FROM nation
),
types AS (
  SELECT subj AS inst, obj AS cls FROM tri WHERE pred = 'rdf:type'
),
cls_n AS (SELECT cls, count(DISTINCT inst) AS n FROM types GROUP BY 1),
props AS (
  SELECT t.cls, p.pred, p.subj, p.obj,
         CASE WHEN p.obj LIKE '"%' THEN 1 ELSE 0 END AS is_lit,
         CASE
           WHEN regexp_extract(p.obj, '\\^\\^<([^>]*)>$', 1) != ''
             THEN regexp_extract(p.obj, '\\^\\^<([^>]*)>$', 1)
           WHEN p.obj LIKE '"%'
             THEN 'http://www.w3.org/2001/XMLSchema#string'
         END AS dt
  FROM tri p JOIN types t ON p.subj = t.inst
  WHERE p.pred != 'rdf:type'
),
per_focus AS (
  SELECT cls, pred, subj, count(*) AS cnt
  FROM props GROUP BY 1, 2, 3
),
card AS (
  SELECT cls, pred, count(*) AS n_focus,
         min(cnt) AS min_present, max(cnt) AS max_count
  FROM per_focus GROUP BY 1, 2
),
vals AS (
  SELECT cls, pred, min(is_lit) AS all_lit, max(is_lit) AS any_lit,
         count(DISTINCT dt) AS n_dt, min(dt) AS dt
  FROM props GROUP BY 1, 2
),
dvals AS (
  SELECT DISTINCT cls, pred, obj FROM props
),
capped AS (
  SELECT cls, pred, obj,
         row_number() OVER (PARTITION BY cls, pred ORDER BY obj) AS rn
  FROM dvals
),
enum AS (
  SELECT cls, pred, count(*) AS n_vals,
         string_agg(obj, '|' ORDER BY obj) AS val_set
  FROM capped WHERE rn <= 9 GROUP BY 1, 2
)
SELECT card.cls AS target_class, card.pred,
       card.n_focus::BIGINT AS n_focus,
       (CASE WHEN card.n_focus < cls_n.n THEN 0
             ELSE card.min_present END)::BIGINT AS min_count,
       card.max_count::BIGINT AS max_count,
       CASE WHEN vals.all_lit = 1 THEN 'Literal'
            WHEN vals.any_lit = 0 THEN 'IRI' END AS node_kind,
       CASE WHEN vals.all_lit = 1 AND vals.n_dt = 1 THEN vals.dt
       END AS datatype,
       CASE WHEN enum.n_vals <= 8 THEN enum.val_set END AS in_values
FROM card
JOIN vals ON vals.cls = card.cls AND vals.pred = card.pred
JOIN enum ON enum.cls = card.cls AND enum.pred = card.pred
JOIN cls_n ON cls_n.cls = card.cls
WHERE card.n_focus >= 1
"""

    sql["kg_literal_outliers"] = """
WITH vals AS (
  SELECT 'bal' AS pred, 'c' || c_custkey::VARCHAR AS subj,
         (CASE WHEN c_custkey % 97 = 0 THEN (c_custkey % 100) * 100
               ELSE c_custkey % 100 END)::DOUBLE AS value
  FROM customer
  UNION ALL
  SELECT 'qty', 'o' || l_orderkey::VARCHAR, l_quantity::INT::DOUBLE
  FROM lineitem
),
fences AS (
  SELECT pred,
         quantile_cont(value, 0.25)
           - 3.0 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25))
           AS lo,
         quantile_cont(value, 0.75)
           + 3.0 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25))
           AS hi
  FROM vals GROUP BY 1 HAVING count(*) >= 10
)
SELECT v.pred, v.subj, round(v.value, 6) AS value,
       round(f.lo, 6) AS lo, round(f.hi, 6) AS hi
FROM vals v JOIN fences f USING (pred)
WHERE v.value < f.lo OR v.value > f.hi
"""

    # rdfstar_roundtrip: parse(serialize(x)) == x, so the oracle IS the
    # original annotation set.
    sql["rdfstar_roundtrip"] = """
WITH base AS (
  SELECT 'http://ex/c' || c_custkey::VARCHAR AS subj,
         'http://ex/inNation' AS pred,
         'http://ex/n' || c_nationkey::VARCHAR AS obj
  FROM customer
)
SELECT subj, pred, obj, 'http://ex/confidence' AS ann_pred,
       '0.' || (length(subj) % 10)::VARCHAR AS ann_obj
FROM base
UNION ALL
SELECT subj, pred, obj, 'http://ex/source', 'http://src/' || subj
FROM base
"""

    sql["kg_condensation"] = f"""
WITH RECURSIVE {_RING_CTE.lstrip()},
reach (src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
mutual AS (
  SELECT a.src AS node, a.dst AS peer
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
  UNION ALL
  SELECT node, node FROM nodes
),
comp AS (SELECT node, min(peer) AS component FROM mutual GROUP BY 1)
SELECT DISTINCT cs.component AS src, cd.component AS dst
FROM edges e
JOIN comp cs ON cs.node = e.src
JOIN comp cd ON cd.node = e.dst
WHERE cs.component != cd.component
"""

    sql["kg_disjoint_violations"] = """
WITH direct AS (
  SELECT 'c' || c_custkey::VARCHAR AS inst, c_mktsegment AS cls
  FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'FURNITURE'
  FROM customer WHERE c_custkey % 50 = 0
),
types AS (
  SELECT DISTINCT inst, cls FROM (
    SELECT inst, cls FROM direct
    UNION ALL
    SELECT inst, 'HomeGoods' FROM direct WHERE cls = 'FURNITURE'
  )
),
pairs AS (
  SELECT least(a, b) AS class_a, greatest(a, b) AS class_b FROM (
    VALUES ('BUILDING', 'FURNITURE'), ('HomeGoods', 'AUTOMOBILE')
  ) AS v(a, b)
)
SELECT t1.inst, t1.cls AS class_a, t2.cls AS class_b
FROM types t1
JOIN types t2 ON t1.inst = t2.inst AND t1.cls < t2.cls
JOIN pairs p ON p.class_a = t1.cls AND p.class_b = t2.cls
"""

    sql["kg_pg_to_rdf"] = """
SELECT 'c' || c_custkey::VARCHAR AS subj, 'rdf:type' AS pred,
       'Customer' AS obj FROM customer
UNION ALL
SELECT 'n' || n_nationkey::VARCHAR, 'rdf:type', 'Nation' FROM nation
UNION ALL
SELECT 'c' || c_custkey::VARCHAR, 'name', c_name FROM customer
UNION ALL
SELECT 'n' || n_nationkey::VARCHAR, 'name', n_name FROM nation
UNION ALL
SELECT 'c' || c_custkey::VARCHAR, 'segment', c_mktsegment
FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT 'c' || c_custkey::VARCHAR, 'IN_NATION',
       'n' || c_nationkey::VARCHAR FROM customer
"""

    # kg_pg_roundtrip: the round trip is the identity, so the oracle IS
    # the original node table.
    sql["kg_pg_roundtrip"] = """
SELECT 'c' || c_custkey::VARCHAR AS id, 'Customer' AS label,
       c_name AS name,
       CASE WHEN c_mktsegment = 'BUILDING' THEN c_mktsegment END AS segment
FROM customer
UNION ALL
SELECT 'n' || n_nationkey::VARCHAR, 'Nation', n_name, NULL FROM nation
"""

    # kg_best_label: rank 0 = @de, 1 = @en, 2 = untagged; tie-break on
    # the raw term string (same collation: both engines compare bytes
    # of ASCII here).
    sql["kg_best_label"] = """
WITH labels AS (
  SELECT 'n' || n_nationkey::VARCHAR AS subj, n_name AS label,
         'en' AS lang, '"' || n_name || '"@en' AS term
  FROM nation
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, lower(n_name), 'de',
         '"' || lower(n_name) || '"@de'
  FROM nation WHERE n_nationkey % 5 != 0
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, reverse(lower(n_name)), 'de',
         '"' || reverse(lower(n_name)) || '"@de'
  FROM nation WHERE n_nationkey = 7
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'x-' || n_name, '',
         '"x-' || n_name || '"'
  FROM nation
),
ranked AS (
  SELECT subj, label, lang,
         row_number() OVER (
           PARTITION BY subj
           ORDER BY CASE WHEN lang = 'de' OR lang LIKE 'de-%' THEN 0
                         WHEN lang = 'en' OR lang LIKE 'en-%' THEN 1
                         ELSE 2 END,
                    term
         ) AS rn
  FROM labels
)
SELECT subj, label, lang FROM ranked WHERE rn = 1
"""

    # kg_betweenness: walks of length <= 14 enumerated (one CTE row per
    # walk, branching 2 -> bounded), min length = BFS dist, walk count
    # at min length = sigma; then the same pair-dependency triple join.
    sql["kg_betweenness"] = """
WITH RECURSIVE e AS (
  SELECT 'n' || n_nationkey::VARCHAR AS u,
         'n' || ((n_nationkey + 1) % 25)::VARCHAR AS v
  FROM nation
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR,
         'n' || ((n_nationkey + 2) % 25)::VARCHAR
  FROM nation
),
walk (s, node, k) AS (
  SELECT DISTINCT u, u, 0 FROM e
  UNION ALL
  SELECT w.s, e.v, w.k + 1 FROM walk w JOIN e ON w.node = e.u
  WHERE w.k < 14
),
mind AS (SELECT s, node, min(k) AS dist FROM walk GROUP BY 1, 2),
sig AS (
  SELECT w.s AS source, w.node, m.dist, count(*) AS sigma
  FROM walk w JOIN mind m ON m.s = w.s AND m.node = w.node AND m.dist = w.k
  GROUP BY 1, 2, 3
),
contrib AS (
  SELECT sv.node AS v,
         sum(sv.sigma * vt.sigma / st.sigma::DOUBLE) AS b
  FROM sig sv
  JOIN sig vt ON vt.source = sv.node AND vt.node != sv.node
  JOIN sig st ON st.source = sv.source AND st.node = vt.node
  WHERE sv.source != sv.node AND sv.source != vt.node
    AND sv.dist + vt.dist = st.dist
  GROUP BY 1
)
SELECT m.node, round(coalesce(c.b, 0.0), 6) AS betweenness
FROM (SELECT DISTINCT node FROM sig WHERE dist = 0) m
LEFT JOIN contrib c ON c.v = m.node
"""

    # kg_betweenness_sampled: same circulant, 12 md5-ordered pivots,
    # forward + reverse walk enumeration restricted to the pivots, the
    # same triple join, scaled by n(n-1)/(k(k-1)) = 600/132.
    sql["kg_betweenness_sampled"] = """
WITH RECURSIVE e AS (
  SELECT 'n' || n_nationkey::VARCHAR AS u,
         'n' || ((n_nationkey + 1) % 25)::VARCHAR AS v
  FROM nation
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR,
         'n' || ((n_nationkey + 2) % 25)::VARCHAR
  FROM nation
),
nodes AS (SELECT DISTINCT node FROM
          (SELECT u AS node FROM e UNION ALL SELECT v FROM e) un),
piv AS (SELECT node FROM nodes ORDER BY md5(node), node LIMIT 12),
walk (s, node, k) AS (
  SELECT node, node, 0 FROM piv
  UNION ALL
  SELECT w.s, e.v, w.k + 1 FROM walk w JOIN e ON w.node = e.u
  WHERE w.k < 14
),
mind AS (SELECT s, node, min(k) AS dist FROM walk GROUP BY 1, 2),
sigf AS (
  SELECT w.s AS source, w.node, m.dist, count(*) AS sigma
  FROM walk w JOIN mind m ON m.s = w.s AND m.node = w.node AND m.dist = w.k
  GROUP BY 1, 2, 3
),
rwalk (s, node, k) AS (
  SELECT node, node, 0 FROM piv
  UNION ALL
  SELECT w.s, e.u, w.k + 1 FROM rwalk w JOIN e ON w.node = e.v
  WHERE w.k < 14
),
rmind AS (SELECT s, node, min(k) AS dist FROM rwalk GROUP BY 1, 2),
sigr AS (
  SELECT w.s AS source, w.node, m.dist, count(*) AS sigma
  FROM rwalk w JOIN rmind m
    ON m.s = w.s AND m.node = w.node AND m.dist = w.k
  GROUP BY 1, 2, 3
),
contrib AS (
  SELECT sv.node AS v,
         (600::DOUBLE / 132::DOUBLE)
           * sum(sv.sigma * tv.sigma / st.sigma::DOUBLE) AS b
  FROM sigf sv
  JOIN sigr tv ON tv.node = sv.node
  JOIN sigf st ON st.source = sv.source AND st.node = tv.source
  WHERE sv.source != sv.node
    AND tv.source != tv.node
    AND sv.source != tv.source
    AND sv.dist + tv.dist = st.dist
  GROUP BY 1
)
SELECT nodes.node, round(coalesce(c.b, 0.0), 6) AS betweenness
FROM nodes LEFT JOIN contrib c ON c.v = nodes.node
"""

    # kg_closeness_sampled: 10 md5-ordered probe targets, one reverse
    # walk from the probes, per-node sums scaled by (n-1)/k'(v).
    sql["kg_closeness_sampled"] = """
WITH RECURSIVE e AS (
  SELECT 'n' || n_nationkey::VARCHAR AS u,
         'n' || ((n_nationkey + 1) % 25)::VARCHAR AS v
  FROM nation
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR,
         'n' || ((n_nationkey + 2) % 25)::VARCHAR
  FROM nation
),
nodes AS (SELECT DISTINCT node FROM
          (SELECT u AS node FROM e UNION ALL SELECT v FROM e) un),
piv AS (SELECT node FROM nodes ORDER BY md5(node), node LIMIT 10),
rwalk (s, node, k) AS (
  SELECT node, node, 0 FROM piv
  UNION ALL
  SELECT w.s, e.u, w.k + 1 FROM rwalk w JOIN e ON w.node = e.v
  WHERE w.k < 14
),
rmind AS (SELECT s, node, min(k) AS dist FROM rwalk GROUP BY 1, 2),
per AS (
  SELECT node, count(*) AS r, sum(dist) AS sum_d,
         sum(1.0 / dist) AS sum_inv
  FROM rmind WHERE dist > 0 GROUP BY 1
),
kp AS (
  SELECT nodes.node,
         10 - CASE WHEN piv.node IS NOT NULL THEN 1 ELSE 0 END AS kprime
  FROM nodes LEFT JOIN piv ON piv.node = nodes.node
)
SELECT kp.node,
       round(coalesce(per.r * (24::DOUBLE / kp.kprime), 0.0), 6) AS reached,
       round(coalesce(per.sum_d * (24::DOUBLE / kp.kprime), 0.0), 6)
         AS total_dist,
       round(CASE WHEN per.sum_d IS NOT NULL
             THEN (per.r / kp.kprime) * (per.r / per.sum_d)
             ELSE 0.0 END, 6) AS closeness,
       round(coalesce(per.sum_inv * (24::DOUBLE / kp.kprime), 0.0), 6)
         AS harmonic
FROM kp LEFT JOIN per ON per.node = kp.node
"""

    sql["kg_eccentricity"] = f"""
WITH RECURSIVE {_RING_CTE.lstrip()},
walk (src, dst, d) AS (
  SELECT src, dst, 1 FROM edges WHERE src != dst
  UNION
  SELECT w.src, e.dst, w.d + 1
  FROM walk w JOIN edges e ON w.dst = e.src
  WHERE w.d < 8 AND w.src != e.dst
),
dist AS (SELECT src, dst, min(d) AS d FROM walk GROUP BY 1, 2),
per AS (
  SELECT src AS node, count(*) AS reached, max(d) AS ecc
  FROM dist GROUP BY 1
)
SELECT nodes.node,
       coalesce(per.reached, 0)::BIGINT AS reached,
       coalesce(per.ecc, 0)::BIGINT AS eccentricity
FROM nodes LEFT JOIN per ON per.node = nodes.node
"""

    sql["kg_type_propagation"] = """
WITH types AS (
  SELECT 'n' || n_nationkey::VARCHAR AS inst,
         'Region' || n_regionkey::VARCHAR AS cls
  FROM nation
),
ed AS (
  SELECT 'c' || c_custkey::VARCHAR AS src,
         'n' || c_nationkey::VARCHAR AS dst FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR,
         'n' || (c_custkey % 25)::VARCHAR FROM customer
),
sym AS (SELECT src AS node, dst AS peer FROM ed
        UNION ALL SELECT dst, src FROM ed),
votes AS (
  SELECT s.node, t.cls, count(*) AS votes
  FROM sym s
  JOIN types t ON t.inst = s.peer
  WHERE s.node NOT IN (SELECT inst FROM types)
  GROUP BY 1, 2
),
ranked AS (
  SELECT node, cls, votes,
         row_number() OVER (
           PARTITION BY node ORDER BY votes DESC, cls ASC
         ) AS rn
  FROM votes
)
SELECT node AS inst, cls, votes FROM ranked WHERE rn = 1
"""

    sql["kg_link_pred_eval"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
alled AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
split AS (
  SELECT s, d,
         substring(md5(s || chr(31) || d), 1, 1) IN ('0','1','2') AS is_test
  FROM alled
),
train AS (SELECT s, d FROM split WHERE NOT is_test),
test AS (SELECT s, d FROM split WHERE is_test),
sym AS (SELECT s AS u, d AS v FROM train UNION ALL SELECT d, s FROM train),
deg AS (SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY u),
aa AS (
  SELECT a.u AS src, b.v AS dst, round(sum(1.0 / ln(m.deg)), 6) AS score
  FROM sym a JOIN sym b ON a.v = b.u AND a.u < b.v
  JOIN deg m ON m.u = a.v
  ANTI JOIN train e ON e.s = a.u AND e.d = b.v
  GROUP BY 1, 2
),
target AS (
  SELECT t.s AS src, t.d AS dst, a.score AS target_score
  FROM test t LEFT JOIN aa a ON a.src = t.s AND a.dst = t.d
),
ranks AS (
  SELECT tg.src, tg.dst, tg.target_score,
         sum(CASE WHEN a.score > tg.target_score
                    OR (a.score = tg.target_score AND a.dst < tg.dst)
                  THEN 1 ELSE 0 END) AS n_beat
  FROM target tg LEFT JOIN aa a ON a.src = tg.src
  GROUP BY 1, 2, 3
)
SELECT src, dst,
       CASE WHEN target_score IS NOT NULL
            THEN (n_beat + 1)::BIGINT END AS rank,
       CASE WHEN target_score IS NOT NULL
            THEN round(1.0 / (n_beat + 1), 6) END AS reciprocal_rank
FROM ranks
"""

    sql["kg_quality_report"] = """
WITH tri AS (
  SELECT 'c' || c_custkey::VARCHAR AS subj, 'rdf:type' AS pred,
         'Customer' AS obj FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'inNation',
         'n' || c_nationkey::VARCHAR FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'name', '"' || c_name || '"'
  FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'segment', '"BUILDING"'
  FROM customer WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'rdf:type', 'Nation' FROM nation
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'within',
         'r' || n_regionkey::VARCHAR FROM nation
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'bal',
         '"' || (CASE WHEN c_custkey % 97 = 0
                      THEN (c_custkey % 100) * 100
                      ELSE c_custkey % 100 END)::VARCHAR
             || '"^^<http://www.w3.org/2001/XMLSchema#integer>'
  FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'rdf:type', 'FURNITURE'
  FROM customer WHERE c_custkey % 50 = 0
),
subjects AS (SELECT DISTINCT subj FROM tri),
dangling AS (
  SELECT count(*) AS n FROM tri
  WHERE pred != 'rdf:type'
    AND obj NOT IN (SELECT subj FROM subjects)
),
types AS (
  SELECT DISTINCT subj AS inst, obj AS cls FROM tri WHERE pred = 'rdf:type'
),
pairs AS (
  SELECT least(a, b) AS ca, greatest(a, b) AS cb FROM (
    VALUES ('BUILDING', 'FURNITURE'), ('AUTOMOBILE', 'FURNITURE')
  ) AS v(a, b)
),
viol AS (
  SELECT count(*) AS n
  FROM types t1 JOIN types t2 ON t1.inst = t2.inst AND t1.cls < t2.cls
  JOIN pairs p ON p.ca = t1.cls AND p.cb = t2.cls
),
vals AS (
  SELECT regexp_extract(obj, '^"([^"]*)"', 1)::DOUBLE AS value
  FROM tri
  WHERE pred = 'bal'
),
fences AS (
  SELECT quantile_cont(value, 0.25)
           - 3.0 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25))
           AS lo,
         quantile_cont(value, 0.75)
           + 3.0 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25))
           AS hi
  FROM vals HAVING count(*) >= 10
),
outliers AS (
  SELECT count(*) AS n FROM vals v, fences f
  WHERE v.value < f.lo OR v.value > f.hi
)
SELECT 'n_triples' AS "check", count(*)::BIGINT AS n FROM tri
UNION ALL
SELECT 'dangling_objects', n::BIGINT FROM dangling
UNION ALL
SELECT 'disjoint_violations', n::BIGINT FROM viol
UNION ALL
SELECT 'numeric_outliers', n::BIGINT FROM outliers
"""

    sql["kg_datalog"] = f"""
WITH RECURSIVE {_KG_GEO_CTE.lstrip()},
w (subj, obj) AS (
  SELECT subj, obj FROM tr WHERE pred = 'within'
  UNION
  SELECT w.subj, t.obj FROM w
  JOIN (SELECT subj, obj FROM tr WHERE pred = 'within') t
    ON w.obj = t.subj
),
located AS (
  SELECT c.subj, 'locatedIn' AS pred, w.obj
  FROM (SELECT subj, obj FROM tr WHERE pred = 'inNation') c
  JOIN w ON w.subj = c.obj
)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT subj, pred, obj FROM tr
  UNION ALL
  SELECT subj, 'within', obj FROM w
  UNION ALL
  SELECT subj, pred, obj FROM located
)
"""

    sql["kg_r2rml"] = """
SELECT 'http://ex/order/' || o_orderkey::VARCHAR AS subj,
       'rdf:type' AS pred, 'http://ex/Order' AS obj
FROM orders
UNION ALL
SELECT 'http://ex/order/' || o_orderkey::VARCHAR, 'http://ex/placedBy',
       'http://ex/customer/' || o_custkey::VARCHAR
FROM orders
UNION ALL
SELECT 'http://ex/order/' || o_orderkey::VARCHAR, 'http://ex/status',
       o_orderstatus
FROM orders
UNION ALL
SELECT 'http://ex/order/' || o_orderkey::VARCHAR, 'http://ex/priority',
       o_orderpriority
FROM orders
"""

    sql["kg_nil_clustering"] = _BASE_CTES.replace(
        "WITH ", "WITH RECURSIVE ", 1
    ) + """,
nil AS (
  SELECT doc_id || chr(31) || pos::VARCHAR AS mention_id,
         doc_id, pos,
         regexp_replace(lower(trim(surface_form)), '\\s+', ' ', 'g')
           AS sfn,
         toks
  FROM occs WHERE prior < 0.5
),
mt AS (
  SELECT DISTINCT mention_id, sfn, unnest(toks) AS tok FROM nil
),
pairs AS (
  SELECT a.mention_id AS a, b.mention_id AS b
  FROM mt a
  JOIN mt b ON a.sfn = b.sfn AND a.tok = b.tok
            AND a.mention_id < b.mention_id
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sym AS (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
reach (node, peer) AS (
  SELECT a, b FROM sym
  UNION
  SELECT r.node, s.b FROM reach r JOIN sym s ON r.peer = s.a
),
comp AS (
  SELECT node, min(peer) AS m FROM (
    SELECT node, peer FROM reach
    UNION ALL SELECT a, a FROM sym
  ) GROUP BY 1
)
SELECT n.mention_id, n.doc_id, n.pos::INT AS pos,
       n.sfn AS surface_form_norm,
       'NEW:' || n.sfn || '#' || coalesce(c.m, n.mention_id) AS cluster_id
FROM nil n LEFT JOIN comp c ON c.node = n.mention_id
"""

    sql["kg_rule_mining"] = f"""
WITH {_KG_GEO_CTE.lstrip()},
ground AS (
  SELECT 'c' || c.c_custkey::VARCHAR AS subj, 'locatedIn' AS pred,
         'r' || n.n_regionkey::VARCHAR AS obj
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE c.c_custkey % 10 != 0
),
e AS (
  SELECT subj, pred, obj FROM tr
  UNION ALL SELECT subj, pred, obj FROM ground
),
comp AS (
  SELECT DISTINCT x.subj AS a, y.obj AS b, x.pred AS q, y.pred AS r
  FROM e x JOIN e y ON x.obj = y.subj
),
n_body AS (SELECT q, r, count(*) AS n_body FROM comp GROUP BY 1, 2),
heads AS (SELECT DISTINCT subj AS a, obj AS b, pred AS p FROM e),
support AS (
  SELECT h.p, c.q, c.r, count(*) AS support
  FROM comp c JOIN heads h ON h.a = c.a AND h.b = c.b
  GROUP BY 1, 2, 3
)
SELECT s.p AS head_pred, s.q AS body_pred1, s.r AS body_pred2,
       s.support::BIGINT AS support, nb.n_body::BIGINT AS n_body,
       round(s.support / nb.n_body::DOUBLE, 6) AS confidence
FROM support s JOIN n_body nb ON nb.q = s.q AND nb.r = s.r
WHERE s.support >= 5 AND s.support / nb.n_body::DOUBLE >= 0.05
"""

    # iv_entity_spans: the media/text span synthesis (halves + img://)
    # replayed in SQL, annotations at token char offsets, one shared
    # row_number ordering (offset, original-before-entity, position/uri).
    sql["iv_entity_spans"] = _BASE_CTES + f""",
halves AS (
  SELECT doc_id::VARCHAR AS doc_id, toks, len(toks) AS n,
         (len(toks) + 1) // 2 AS k
  FROM tk
),
parts AS (
  SELECT doc_id, n,
         array_to_string(list_slice(toks, 1, k), ' ') AS first,
         array_to_string(list_slice(toks, k + 1, n), ' ') AS second
  FROM halves
),
orig AS (
  SELECT doc_id, 'text' AS kind, first AS text,
         NULL::VARCHAR AS media_ref, 0 AS off, 0 AS is_ent, '0' AS tie
  FROM parts WHERE n >= 2
  UNION ALL
  SELECT doc_id, 'media', NULL, 'img://' || doc_id,
         length(first) + 1, 0, '1'
  FROM parts WHERE n >= 2
  UNION ALL
  SELECT doc_id, 'text', second, NULL, length(first) + 1, 0, '2'
  FROM parts WHERE n >= 2
  UNION ALL
  SELECT p.doc_id, 'text', d.text, NULL, 0, 0, '0'
  FROM parts p JOIN documents d ON d.doc_id::VARCHAR = p.doc_id
  WHERE p.n < 2
),
ents AS (
  SELECT doc_id::VARCHAR AS doc_id, 'entity' AS kind,
         surface_form AS text, uri AS media_ref,
         ({_SQL_OFFSET}) AS off, 1 AS is_ent, uri AS tie
  FROM occs
),
merged AS (
  SELECT * FROM orig UNION ALL SELECT * FROM ents
)
SELECT doc_id,
       (row_number() OVER (
          PARTITION BY doc_id ORDER BY off, is_ent, tie
        ) - 1)::INT AS span_idx,
       kind, text, media_ref, off::INT AS offset
FROM merged
"""

    # kg_eigenvector: 4 power-iteration rounds with L2 normalization
    # unrolled; x0 = 1/sqrt(n) over the ring-and-tails node set.
    _eig_round = """
i{t} AS (
  SELECT e.dst AS node, sum(x.x) AS raw
  FROM x{p} x JOIN edges e ON x.node = e.src GROUP BY 1
),
r{t} AS (
  SELECT nodes.node, coalesce(i.raw, 0.0) AS raw
  FROM nodes LEFT JOIN i{t} i USING (node)
),
n{t} AS (SELECT sqrt(sum(raw * raw)) AS nrm FROM r{t}),
x{t} AS (SELECT r.node, r.raw / n.nrm AS x FROM r{t} r, n{t} n)"""
    sql["kg_eigenvector"] = f"""
WITH {_RING_CTE.lstrip()},
cnt AS (SELECT count(*) AS n FROM nodes),
x0 AS (SELECT node, 1.0 / sqrt(n) AS x FROM nodes, cnt),""" + ",".join(
        _eig_round.format(t=t, p=t - 1) for t in (1, 2, 3, 4)
    ) + """
SELECT node, round(x, 6) AS eigenvector FROM x4
"""

    sql["kg_asof_bgp"] = """
WITH snap AS (
  SELECT 'o' || o_orderkey::VARCHAR AS subj, 'status' AS pred,
         CASE WHEN o_orderdate + INTERVAL 30 DAY <= TIMESTAMP '1995-06-17'
              THEN o_orderstatus ELSE 'OPEN' END AS obj
  FROM orders WHERE o_orderdate <= TIMESTAMP '1995-06-17'
  UNION ALL
  SELECT 'o' || o_orderkey::VARCHAR, 'priority', o_orderpriority
  FROM orders WHERE o_orderdate <= TIMESTAMP '1995-06-17'
)
SELECT DISTINCT s.subj AS o, p.obj AS p
FROM snap s JOIN snap p ON p.subj = s.subj AND p.pred = 'priority'
WHERE s.pred = 'status' AND s.obj = 'F'
"""

    # source_report: same quality formula rolled up per source.
    sql["source_report"] = rf"""
WITH w AS (
  SELECT source, text,
         regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
m AS (
  SELECT source,
    len(words) AS n,
    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
      / greatest(length(text), 1) AS praw,
    len(list_intersect(words, ['the', 'and', 'of', 'to', 'is', 'in', 'that', 'it', 'was', 'for']))
      / greatest(len(list_distinct(words)), 1) AS sraw
  FROM w
),
q AS (
  SELECT source, n,
    (least(n / 100.0, 1.0) + (1.0 - least(praw * 5.0, 1.0))
     + least(sraw * 5.0, 1.0)) / 3.0 AS quality
  FROM m
)
SELECT source, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens,
       round(avg(quality), 4) AS avg_quality,
       round(min(quality), 4) AS min_quality
FROM q GROUP BY source
"""

    # kg_fd_profile: same per-pair countDistinct aggregation.
    sql["kg_fd_profile"] = """
SELECT 'c_custkey' AS determinant, 'c_nationkey' AS dependent,
       count(*)::BIGINT AS n_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_violating_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT c_custkey AS a, count(DISTINCT c_nationkey) AS nb
      FROM customer GROUP BY c_custkey)
UNION ALL
SELECT 'c_custkey' AS determinant, 'c_mktsegment' AS dependent,
       count(*)::BIGINT AS n_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_violating_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT c_custkey AS a, count(DISTINCT c_mktsegment) AS nb
      FROM customer GROUP BY c_custkey)
UNION ALL
SELECT 'c_nationkey' AS determinant, 'c_custkey' AS dependent,
       count(*)::BIGINT AS n_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_violating_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT c_nationkey AS a, count(DISTINCT c_custkey) AS nb
      FROM customer GROUP BY c_nationkey)
UNION ALL
SELECT 'c_nationkey' AS determinant, 'c_mktsegment' AS dependent,
       count(*)::BIGINT AS n_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_violating_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT c_nationkey AS a, count(DISTINCT c_mktsegment) AS nb
      FROM customer GROUP BY c_nationkey)
UNION ALL
SELECT 'c_mktsegment' AS determinant, 'c_custkey' AS dependent,
       count(*)::BIGINT AS n_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_violating_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT c_mktsegment AS a, count(DISTINCT c_custkey) AS nb
      FROM customer GROUP BY c_mktsegment)
UNION ALL
SELECT 'c_mktsegment' AS determinant, 'c_nationkey' AS dependent,
       count(*)::BIGINT AS n_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_violating_keys,
       sum(CASE WHEN nb > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM (SELECT c_mktsegment AS a, count(DISTINCT c_nationkey) AS nb
      FROM customer GROUP BY c_mktsegment)
"""

    # sf_ambiguity: H = ln T - sum(c ln c)/T over the candidate map.
    sql["sf_ambiguity"] = _BASE_CTES + """
, pc AS (
  SELECT surface_form, uri, count(*)::BIGINT AS c
  FROM occs GROUP BY surface_form, uri
)
SELECT surface_form,
       count(*)::BIGINT AS n_senses,
       sum(c)::BIGINT AS total,
       round(ln(sum(c)::DOUBLE) - sum(c * ln(c::DOUBLE)) / sum(c), 6)
         AS entropy,
       round(max(c)::DOUBLE / sum(c), 6) AS top_prior
FROM pc GROUP BY surface_form
"""

    # ngram_novelty: same first-owner algebra over trigram sets.
    sql["ngram_novelty"] = r"""
WITH w AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
grams AS (
  SELECT DISTINCT doc_id, gram FROM (
    SELECT doc_id,
           CASE WHEN len(toks) < 3
                THEN [array_to_string(toks, ' ')]
                ELSE [array_to_string(toks[i:i+2], ' ')
                      FOR i IN generate_series(1, len(toks) - 2)]
           END AS gs
    FROM w
  ), unnest(gs) AS t(gram)
),
first AS (SELECT gram, min(doc_id) AS fd FROM grams GROUP BY gram)
SELECT g.doc_id, count(*)::BIGINT AS n_ngrams,
       sum(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_new,
       round(sum(CASE WHEN f.fd = g.doc_id THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS novelty
FROM grams g JOIN first f ON f.gram = g.gram
GROUP BY g.doc_id
"""

    # kg_topo_layers: recursive longest root-paths, max per node.
    sql["kg_topo_layers"] = """
WITH RECURSIVE e AS (
  SELECT DISTINCT * FROM (
    SELECT 'c' || c_custkey::VARCHAR AS src,
           'n' || c_nationkey::VARCHAR AS dst
    FROM customer WHERE c_custkey < 300
    UNION ALL
    SELECT 'n' || n_nationkey::VARCHAR, 'r' || n_regionkey::VARCHAR
    FROM nation
    UNION ALL
    SELECT 'r' || r_regionkey::VARCHAR, 'world' FROM region
  ) WHERE src <> dst
),
nodes AS (SELECT DISTINCT node FROM (
  SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
roots AS (
  SELECT node FROM nodes WHERE node NOT IN (SELECT dst FROM e)
),
walk (node, d) AS (
  SELECT node, 0 FROM roots
  UNION ALL
  SELECT e.dst, walk.d + 1 FROM walk JOIN e ON e.src = walk.node
  WHERE walk.d < 32
)
SELECT node, max(d)::INTEGER AS layer FROM walk GROUP BY node
"""

    # kg_winsorize: same rank band + clamp.
    sql["kg_winsorize"] = """
WITH vals AS (
  SELECT 'l' || l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR
           AS subj,
         'qty' AS pred,
         l_quantity::DOUBLE
           * (CASE WHEN l_orderkey % 97 = 0 THEN 100.0 ELSE 1.0 END)
           AS value
  FROM lineitem
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY pred ORDER BY value ASC) AS rn,
         count(*) OVER (PARTITION BY pred) AS n
  FROM vals
),
band AS (
  SELECT pred,
         max(CASE WHEN rn = ceil(0.05 * n) THEN value END) AS lo,
         max(CASE WHEN rn = ceil(0.95 * n) THEN value END) AS hi
  FROM ranked GROUP BY pred
)
SELECT v.subj, v.pred, v.value,
       least(greatest(v.value, b.lo), b.hi) AS clamped_value,
       (v.value < b.lo OR v.value > b.hi) AS clamped
FROM vals v JOIN band b ON b.pred = v.pred
"""

    # kg_directed_profile: same reciprocity/source/sink set algebra.
    sql["kg_directed_profile"] = """
WITH e AS (
  SELECT DISTINCT 'n' || (o_orderkey % 50)::VARCHAR AS src,
         'n' || ((o_orderkey * 3) % 50)::VARCHAR AS dst
  FROM orders
),
loops AS (SELECT * FROM e WHERE src = dst),
clean AS (SELECT * FROM e WHERE src <> dst),
recip AS (
  SELECT c.* FROM clean c
  WHERE EXISTS (SELECT 1 FROM clean r
                WHERE r.src = c.dst AND r.dst = c.src)
),
srcs AS (SELECT DISTINCT src FROM clean),
dsts AS (SELECT DISTINCT dst AS src FROM clean)
SELECT (SELECT count(*) FROM clean)::BIGINT AS n_edges,
       (SELECT count(*) FROM loops)::BIGINT AS n_self_loops,
       (SELECT count(*) FROM recip)::BIGINT AS n_reciprocal,
       round((SELECT count(*) FROM recip)::DOUBLE
             / (SELECT count(*) FROM clean), 6) AS reciprocity,
       (SELECT count(*) FROM srcs
        WHERE src NOT IN (SELECT src FROM dsts))::BIGINT AS n_sources,
       (SELECT count(*) FROM dsts
        WHERE src NOT IN (SELECT src FROM srcs))::BIGINT AS n_sinks
"""

    # feature_hash: identical md5 index/sign arithmetic.
    sql["feature_hash"] = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
hashed AS (
  SELECT doc_id,
         ('0x' || substr(md5(token), 1, 12))::BIGINT % 1024 AS i,
         CASE WHEN (('0x' || substr(md5(token), 1, 12))::BIGINT // 1024)
                   % 2 = 0
              THEN 1 ELSE -1 END AS s
  FROM toks
),
summed AS (
  SELECT doc_id, i, sum(s)::BIGINT AS v
  FROM hashed GROUP BY doc_id, i
  HAVING sum(s) <> 0
)
SELECT doc_id,
       string_agg(i::VARCHAR, ',' ORDER BY i) AS indices,
       string_agg(v::VARCHAR, ',' ORDER BY i) AS "values"
FROM summed GROUP BY doc_id
"""

    # blocklist_screen: identical list algebra, comma-joined matches.
    sql["blocklist_screen"] = r"""
WITH t AS (
  SELECT doc_id,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' forbidden topic verboten' ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       len(list_sort(list_intersect(
         list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')),
         ['absent', 'forbidden', 'verboten']))) > 0 AS blocked,
       coalesce(array_to_string(list_sort(list_intersect(
         list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')),
         ['absent', 'forbidden', 'verboten'])), ','), '') AS matched
FROM t
"""

    # textrank_summary: identical integer fixed-point PageRank, the
    # three rounds unrolled.
    sql["textrank_summary"] = r"""
WITH w0 AS (
  SELECT doc_id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
t2 AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             generate_series(0, cast(ceil(len(words) / 7.0) AS INT) - 1),
             j -> array_to_string(
                    list_slice(words, j * 7 + 1, j * 7 + 7), ' ')),
           '. ') AS text
  FROM w0
),
sarr AS (
  SELECT doc_id AS doc, regexp_split_to_array(text, '\. ') AS arr FROM t2
),
sents AS (
  SELECT doc, i - 1 AS sid, arr[i] AS sentence,
         list_distinct(regexp_split_to_array(trim(lower(arr[i])), '\s+'))
           AS toks
  FROM (SELECT doc, arr, unnest(generate_series(1, len(arr))) AS i
        FROM sarr)
  WHERE trim(arr[i]) <> ''
),
e AS (
  SELECT a.doc, a.sid AS u, b.sid AS v,
         (1000000::BIGINT * len(list_intersect(a.toks, b.toks)))
           // len(list_distinct(list_concat(a.toks, b.toks))) AS w
  FROM sents a JOIN sents b ON b.doc = a.doc AND a.sid <> b.sid
  WHERE (1000000::BIGINT * len(list_intersect(a.toks, b.toks)))
          // len(list_distinct(list_concat(a.toks, b.toks))) > 0
),
ow AS (SELECT doc, u, sum(w) AS wsum FROM e GROUP BY doc, u),
nd AS (SELECT doc, count(*) AS n FROM sents GROUP BY doc),
p0 AS (
  SELECT s.doc, s.sid, 1000000000::BIGINT // nd.n AS p, nd.n
  FROM sents s JOIN nd ON nd.doc = s.doc
),
c1 AS (
  SELECT e.doc, e.v AS sid, sum((e.w * p.p) // ow.wsum) AS inm
  FROM e
  JOIN p0 p ON p.doc = e.doc AND p.sid = e.u
  JOIN ow ON ow.doc = e.doc AND ow.u = e.u
  GROUP BY e.doc, e.v
),
p1 AS (
  SELECT p.doc, p.sid,
         (1000000000::BIGINT * 15) // (100 * p.n)
           + (85 * coalesce(c.inm, 0)) // 100 AS p,
         p.n
  FROM p0 p LEFT JOIN c1 c ON c.doc = p.doc AND c.sid = p.sid
),
c2 AS (
  SELECT e.doc, e.v AS sid, sum((e.w * p.p) // ow.wsum) AS inm
  FROM e
  JOIN p1 p ON p.doc = e.doc AND p.sid = e.u
  JOIN ow ON ow.doc = e.doc AND ow.u = e.u
  GROUP BY e.doc, e.v
),
p2 AS (
  SELECT p.doc, p.sid,
         (1000000000::BIGINT * 15) // (100 * p.n)
           + (85 * coalesce(c.inm, 0)) // 100 AS p,
         p.n
  FROM p1 p LEFT JOIN c2 c ON c.doc = p.doc AND c.sid = p.sid
),
c3 AS (
  SELECT e.doc, e.v AS sid, sum((e.w * p.p) // ow.wsum) AS inm
  FROM e
  JOIN p2 p ON p.doc = e.doc AND p.sid = e.u
  JOIN ow ON ow.doc = e.doc AND ow.u = e.u
  GROUP BY e.doc, e.v
),
p3 AS (
  SELECT p.doc, p.sid,
         (1000000000::BIGINT * 15) // (100 * p.n)
           + (85 * coalesce(c.inm, 0)) // 100 AS p,
         p.n
  FROM p2 p LEFT JOIN c3 c ON c.doc = p.doc AND c.sid = p.sid
)
SELECT p.doc AS doc_id, p.sid, s.sentence,
       p.p::DOUBLE / 1000000000 AS score, rnk AS rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc ORDER BY p DESC, sid ASC) AS rnk
  FROM p3
) p
JOIN sents s ON s.doc = p.doc AND s.sid = p.sid
WHERE rnk <= 2
"""

    # conformal_nil: identical rank-pick arithmetic.
    sql["conformal_nil"] = """
WITH calib AS (
  SELECT 'u' || (doc_id % 2)::VARCHAR AS label,
         round((doc_id % 97) / 97.0, 6) AS score
  FROM documents WHERE doc_id % 2 = doc_id % 3
),
ranked AS (
  SELECT label, score,
         row_number() OVER (PARTITION BY label ORDER BY score ASC) AS rn,
         count(*) OVER (PARTITION BY label) AS n
  FROM calib
)
SELECT label, n::BIGINT AS n, score AS threshold
FROM ranked
WHERE rn = greatest(1, floor(0.1 * (n + 1))::BIGINT)
"""

    # acronym_mine: same regex + right-anchored initials in SQL.
    sql["acronym_mine"] = r"""
WITH t AS (
  SELECT text || ' ' ||
         (CASE doc_id % 4
            WHEN 0 THEN 'The Alpha Beta Unit (ABU)'
            WHEN 1 THEN 'Crooked Example (ZZZ)'
            WHEN 2 THEN 'Global Data Office (GDO)'
            ELSE 'Nice Pair (NP)' END) || ' closed.' AS txt
  FROM documents
),
m AS (
  SELECT unnest(list_zip(
    regexp_extract_all(txt, '((?:[A-Z][a-z]+ )+)\(([A-Z]{2,})\)', 1),
    regexp_extract_all(txt, '((?:[A-Z][a-z]+ )+)\(([A-Z]{2,})\)', 2)
  )) AS z
  FROM t
),
pairs AS (
  SELECT string_split(trim(z[1]), ' ') AS w, z[2] AS acronym FROM m
),
anchored AS (
  SELECT array_to_string(
           list_slice(w, len(w) - length(acronym) + 1, len(w)), ' ')
           AS long_form,
         acronym
  FROM pairs WHERE len(w) >= length(acronym)
)
SELECT long_form, acronym, count(*)::BIGINT AS support
FROM anchored
WHERE array_to_string(
        list_transform(string_split(long_form, ' '), x -> x[1]), '')
      = acronym
GROUP BY long_form, acronym
"""

    # hearst_isa: the same three frames in DuckDB regex.
    sql["hearst_isa"] = r"""
WITH t AS (
  SELECT lower(text || ' brand' || (doc_id % 7)::VARCHAR
         || ' such as item' || (doc_id % 5)::VARCHAR
         || ', gadget' || (doc_id % 3)::VARCHAR
         || '. widget' || (doc_id % 4)::VARCHAR
         || ' and other tools. metals including iron'
         || (doc_id % 6)::VARCHAR || '.') AS txt
  FROM documents
),
sa AS (
  SELECT unnest(string_split(m[1], ', ')) AS hyponym, m[2] AS hypernym,
         'such_as' AS pattern
  FROM (
    SELECT unnest(list_zip(
      regexp_extract_all(txt,
        '([a-z0-9]+) such as ((?:[a-z0-9]+, )*[a-z0-9]+)', 2),
      regexp_extract_all(txt,
        '([a-z0-9]+) such as ((?:[a-z0-9]+, )*[a-z0-9]+)', 1))) AS m
    FROM t
  )
),
ao AS (
  SELECT m[1] AS hyponym, m[2] AS hypernym, 'and_other' AS pattern
  FROM (
    SELECT unnest(list_zip(
      regexp_extract_all(txt, '([a-z0-9]+) and other ([a-z0-9]+)', 1),
      regexp_extract_all(txt, '([a-z0-9]+) and other ([a-z0-9]+)', 2))) AS m
    FROM t
  )
),
inc AS (
  SELECT m[1] AS hyponym, m[2] AS hypernym, 'including' AS pattern
  FROM (
    SELECT unnest(list_zip(
      regexp_extract_all(txt, '([a-z0-9]+) including ([a-z0-9]+)', 2),
      regexp_extract_all(txt, '([a-z0-9]+) including ([a-z0-9]+)', 1))) AS m
    FROM t
  )
)
SELECT hyponym, hypernym, pattern, count(*)::BIGINT AS support
FROM (SELECT * FROM sa UNION ALL SELECT * FROM ao
      UNION ALL SELECT * FROM inc)
GROUP BY hyponym, hypernym, pattern
HAVING count(*) >= 2
"""

    # kg_star_card: identical CS coverage + multiplicity algebra.
    sql["kg_star_card"] = """
WITH tri AS (
  SELECT 'c' || o_custkey::VARCHAR AS subj, 'ordered' AS pred,
         'o' || o_orderkey::VARCHAR AS obj FROM orders
  UNION ALL
  SELECT 'c' || o_custkey::VARCHAR, 'urgent', 'o' || o_orderkey::VARCHAR
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'seg', c_mktsegment FROM customer
),
per AS (
  SELECT subj,
         array_to_string(list_sort(list(DISTINCT pred)), ',') AS cs,
         sum(CASE WHEN pred = 'ordered' THEN 1 ELSE 0 END)::BIGINT AS c0,
         sum(CASE WHEN pred = 'urgent' THEN 1 ELSE 0 END)::BIGINT AS c1
  FROM tri GROUP BY subj
),
cov AS (SELECT * FROM per WHERE c0 > 0 AND c1 > 0),
exact AS (
  SELECT count(*)::BIGINT AS n_subjects_exact,
         coalesce(sum(c0 * c1), 0)::BIGINT AS true_n
  FROM cov
),
per_cs AS (
  SELECT cs, count(*) AS ns, sum(c0) AS s0, sum(c1) AS s1
  FROM cov GROUP BY cs
),
e AS (
  SELECT round(coalesce(sum(ns::DOUBLE * (s0::DOUBLE / ns)
                             * (s1::DOUBLE / ns)), 0.0), 4) AS est
  FROM per_cs
)
SELECT n_subjects_exact, est, true_n,
       CASE WHEN est > 0 AND true_n > 0
            THEN round(greatest(est / true_n, true_n / est), 4) END
         AS q_error
FROM exact, e
"""

    # word_dropout: per-token md5 bucket + ordered reassembly.
    sql["word_dropout"] = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
toks AS (
  SELECT doc_id, i - 1 AS pos, words[i] AS token
  FROM (SELECT doc_id, words,
               unnest(generate_series(1, len(words))) AS i
        FROM w)
),
flagged AS (
  SELECT doc_id, pos, token,
         ('0x' || substr(md5(doc_id::VARCHAR || chr(31) || pos::VARCHAR),
                         25, 8))::BIGINT % 10000 < 2000 AS dropped
  FROM toks
)
SELECT doc_id,
       coalesce(string_agg(CASE WHEN NOT dropped THEN token END,
                           ' ' ORDER BY pos) FILTER (WHERE NOT dropped),
                '') AS text,
       sum(CASE WHEN dropped THEN 1 ELSE 0 END)::BIGINT AS n_dropped
FROM flagged GROUP BY doc_id
"""

    # harmonic_pack: identical class/rank/cumsum integer arithmetic.
    sql["harmonic_pack"] = r"""
WITH n AS (
  SELECT doc_id,
         len(regexp_split_to_array(trim(lower(text)), '\s+'))::BIGINT
           AS n_tok
  FROM documents
),
base AS (
  SELECT doc_id, n_tok, (64 // n_tok)::BIGINT AS k
  FROM n WHERE n_tok > 0 AND n_tok <= 64
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY k ORDER BY doc_id) - 1 AS r
  FROM base
),
placed AS (
  SELECT k::VARCHAR || '/' || (r // k)::VARCHAR AS bin_id,
         doc_id, (r % k)::BIGINT AS slot, n_tok
  FROM ranked
)
SELECT bin_id, doc_id, slot, n_tok,
       coalesce(SUM(n_tok) OVER (PARTITION BY bin_id ORDER BY slot
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         AS bin_offset
FROM placed
"""

    # sft_pack: the seq_pack prefix-sum SQL + clamped loss spans.
    sql["sft_pack"] = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
n AS (
  SELECT doc_id, len(words)::BIGINT AS n_tok,
         least(10, len(words))::BIGINT AS np
  FROM t
),
c AS (
  SELECT doc_id, n_tok, np,
    coalesce(SUM(n_tok) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      AS tok_offset
  FROM n
),
s AS (
  SELECT doc_id, n_tok, np, tok_offset,
    unnest(generate_series(tok_offset // 64,
                           (tok_offset + n_tok - 1) // 64)) AS chunk_id
  FROM c WHERE n_tok > 0
),
b AS (
  SELECT chunk_id, doc_id, np, n_tok, tok_offset,
    greatest(chunk_id * 64 - tok_offset, 0)::BIGINT AS tok_start,
    least((chunk_id + 1) * 64 - tok_offset, n_tok)::BIGINT AS tok_end
  FROM s
)
SELECT chunk_id, doc_id,
  (tok_offset + tok_start - chunk_id * 64)::BIGINT AS chunk_pos,
  (tok_end - tok_start)::BIGINT AS n_tok_slice,
  (tok_offset + tok_start - chunk_id * 64
   + least(greatest(tok_start, np), tok_end) - tok_start)::BIGINT
    AS loss_start,
  (tok_offset + tok_start - chunk_id * 64
   + tok_end - tok_start)::BIGINT AS loss_end
FROM b
"""

    # kg_kb_timeline: closed-form per-instant status counts.
    sql["kg_kb_timeline"] = """
WITH probes AS (
  SELECT TIMESTAMP '1994-06-17' AS at UNION ALL
  SELECT TIMESTAMP '1995-06-17' UNION ALL
  SELECT TIMESTAMP '1996-06-17'
)
SELECT CASE WHEN o_orderdate + INTERVAL 30 DAY <= p.at
            THEN o_orderstatus ELSE 'OPEN' END AS obj,
       p.at::VARCHAR AS at,
       count(*)::BIGINT AS n_facts
FROM orders o JOIN probes p ON o.o_orderdate <= p.at
GROUP BY 1, 2
"""

    # event_quantiles: identical explicit rank arithmetic.
    sql["event_quantiles"] = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (
           PARTITION BY event_type ORDER BY value ASC) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type, q, value
FROM ranked
JOIN (SELECT unnest([0.25, 0.5, 0.9, 0.99]) AS q) ON true
WHERE rn = ceil(q * n)
"""

    # kg_cbd: the fixture's bnode depth is exactly 2 — unroll it.
    sql["kg_cbd"] = """
WITH tri AS (
  SELECT 'o' || o_orderkey::VARCHAR AS subj, 'items' AS pred,
         '_:bag' || o_orderkey::VARCHAR AS obj FROM orders
  UNION ALL
  SELECT '_:bag' || o_orderkey::VARCHAR, 'status', o_orderstatus
  FROM orders
  UNION ALL
  SELECT '_:bag' || o_orderkey::VARCHAR, 'head',
         '_:item' || o_orderkey::VARCHAR FROM orders
  UNION ALL
  SELECT '_:item' || o_orderkey::VARCHAR, 'cust',
         'c' || o_custkey::VARCHAR FROM orders
  UNION ALL
  SELECT 'c' || o_custkey::VARCHAR, 'class', 'Customer' FROM orders
),
r0 AS (
  SELECT 'o' || o_orderkey::VARCHAR AS r FROM orders WHERE o_orderkey < 500
),
l0 AS (SELECT t.* FROM tri t JOIN r0 ON r0.r = t.subj),
r1 AS (SELECT DISTINCT obj AS r FROM l0 WHERE starts_with(obj, '_:')),
l1 AS (SELECT t.* FROM tri t JOIN r1 ON r1.r = t.subj),
r2 AS (SELECT DISTINCT obj AS r FROM l1 WHERE starts_with(obj, '_:')),
l2 AS (SELECT t.* FROM tri t JOIN r2 ON r2.r = t.subj)
SELECT DISTINCT subj, pred, obj FROM (
  SELECT * FROM l0 UNION ALL SELECT * FROM l1 UNION ALL SELECT * FROM l2
)
"""

    # kg_join_card: same integer per-bucket estimate + true join count.
    sql["kg_join_card"] = """
WITH t AS (
  SELECT CASE WHEN l_orderkey % 2 = 0 THEN 'qty' ELSE 'qty2' END AS pred,
         l_quantity::DOUBLE AS v
  FROM lineitem
),
a AS (SELECT v, floor(v / 5.0)::BIGINT AS b FROM t WHERE pred = 'qty'),
bb AS (SELECT v, floor(v / 5.0)::BIGINT AS b FROM t WHERE pred = 'qty2'),
ha AS (SELECT b, count(*)::BIGINT AS na, count(DISTINCT v)::BIGINT AS va
       FROM a GROUP BY b),
hb AS (SELECT b, count(*)::BIGINT AS nb, count(DISTINCT v)::BIGINT AS vb
       FROM bb GROUP BY b),
e AS (
  SELECT coalesce(sum((na * nb) // greatest(va, vb)), 0)::BIGINT AS est
  FROM ha JOIN hb ON hb.b = ha.b
),
tr AS (
  SELECT count(*)::BIGINT AS true_n
  FROM a JOIN bb ON bb.v = a.v
)
SELECT est, true_n,
       round(CASE WHEN est > 0 AND true_n > 0
                  THEN greatest(est::DOUBLE / true_n, true_n::DOUBLE / est)
             END, 4) AS q_error
FROM e, tr
"""

    # label_noise: exact integer thresholds, same half-up division.
    sql["label_noise"] = """
WITH scored AS (
  SELECT doc_id AS id,
         'u' || (doc_id % 2)::VARCHAR AS given_label,
         'u' || (doc_id % 3)::VARCHAR AS pred_label,
         round((doc_id % 97) / 97.0, 6) AS score
  FROM documents
),
q AS (SELECT *, round(score * 1000000)::BIGINT AS si FROM scored),
th AS (
  SELECT pred_label,
         (2 * sum(si) + count(si)) // (2 * count(si)) AS ti
  FROM q GROUP BY pred_label
)
SELECT q.given_label, q.pred_label,
       count(*)::BIGINT AS n_pairs,
       sum(CASE WHEN q.si >= th.ti THEN 1 ELSE 0 END)::BIGINT AS n_suspect,
       round(max(th.ti)::DOUBLE / 1000000, 6) AS threshold
FROM q JOIN th ON th.pred_label = q.pred_label
WHERE q.given_label <> q.pred_label
GROUP BY q.given_label, q.pred_label
"""

    # mixture_check: chi-square decomposition on the stratum dim.
    sql["mixture_check"] = """
WITH counts AS (
  SELECT lang, count(*)::BIGINT AS observed FROM documents GROUP BY lang
),
t AS (SELECT sum(observed)::DOUBLE AS total FROM counts)
SELECT lang, observed,
       round(CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.15
                       WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15
                       WHEN 'zh' THEN 0.15 ELSE 0.0 END
             * (SELECT total FROM t), 6) AS expected,
       round(CASE WHEN CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.15
                                 WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15
                                 WHEN 'zh' THEN 0.15 ELSE 0.0 END > 0
                  THEN pow(observed - CASE lang WHEN 'en' THEN 0.4
                                                WHEN 'de' THEN 0.15
                                                WHEN 'es' THEN 0.15
                                                WHEN 'fr' THEN 0.15
                                                WHEN 'zh' THEN 0.15
                                                ELSE 0.0 END
                                      * (SELECT total FROM t), 2)
                       / (CASE lang WHEN 'en' THEN 0.4 WHEN 'de' THEN 0.15
                                    WHEN 'es' THEN 0.15 WHEN 'fr' THEN 0.15
                                    WHEN 'zh' THEN 0.15 ELSE 0.0 END
                          * (SELECT total FROM t))
                  ELSE NULL END, 6) AS chi2
FROM counts
"""

    # shard_kl: two-level unigram frequencies + the KL sum.
    sql["shard_kl"] = """
WITH tok AS (
  SELECT lang AS shard,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
  FROM documents
),
st AS (
  SELECT shard, token, count(*)::BIGINT AS n_st
  FROM tok GROUP BY shard, token
),
corpus AS (SELECT token, sum(n_st)::BIGINT AS n_t FROM st GROUP BY token),
stot AS (SELECT shard, sum(n_st)::BIGINT AS n_s FROM st GROUP BY shard),
ctot AS (SELECT sum(n_t)::DOUBLE AS n FROM corpus)
SELECT st.shard AS lang, max(stot.n_s)::BIGINT AS n_tokens,
       count(*)::BIGINT AS vocab_size,
       round(sum((st.n_st::DOUBLE / stot.n_s)
                 * ln((st.n_st::DOUBLE / stot.n_s)
                      / (corpus.n_t / (SELECT n FROM ctot)))), 6) AS kl
FROM st
JOIN corpus ON corpus.token = st.token
JOIN stot ON stot.shard = st.shard
GROUP BY st.shard
"""

    # kg_fellegi_sunter: ln constants precomputed in Python on BOTH
    # sides, so the CASE sums are bit-identical.
    sql["kg_fellegi_sunter"] = """
WITH pairs AS (
  SELECT 'c' || c_custkey::VARCHAR AS a,
         'c' || (c_custkey + 7)::VARCHAR AS b,
         (c_custkey % 3 = 0) AS name_agree,
         (c_custkey % 5 < 2) AS seg_agree
  FROM customer WHERE c_custkey < 500
)
SELECT a, b, name_agree, seg_agree,
       round(
         (CASE WHEN name_agree THEN 2.8903717578961645 ELSE -2.2512917986064953 END)
         + (CASE WHEN seg_agree THEN 0.9162907318741551 ELSE -1.0296194171811581 END), 6) AS weight
FROM pairs
WHERE (CASE WHEN name_agree THEN 2.8903717578961645 ELSE -2.2512917986064953 END)
      + (CASE WHEN seg_agree THEN 0.9162907318741551 ELSE -1.0296194171811581 END) >= 0.0
"""

    # kg_graph_sample: md5-tail keep test on both endpoints.
    sql["kg_graph_sample"] = """
WITH e AS (
  SELECT 'c' || c_custkey::VARCHAR AS src,
         'n' || c_nationkey::VARCHAR AS dst
  FROM customer
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'r' || n_regionkey::VARCHAR
  FROM nation
)
SELECT src, dst FROM e
WHERE ('0x' || substr(md5(src), 25, 8))::BIGINT % 10000 < 5000
  AND ('0x' || substr(md5(dst), 25, 8))::BIGINT % 10000 < 5000
"""

    # score_blend: identical percent_rank windows.
    sql["score_blend"] = """
WITH d AS (
  SELECT doc_id, n_chars::DOUBLE AS len_signal,
         ((doc_id * 37) % 101)::DOUBLE AS noise_signal
  FROM documents
),
r AS (
  SELECT doc_id, len_signal, noise_signal,
         percent_rank() OVER (ORDER BY len_signal, doc_id) AS len_signal_pct,
         percent_rank() OVER (ORDER BY noise_signal, doc_id)
           AS noise_signal_pct
  FROM d
)
SELECT doc_id, len_signal, noise_signal, len_signal_pct, noise_signal_pct,
       round(1.0 * len_signal_pct + -0.5 * noise_signal_pct, 6) AS blended
FROM r
"""

    # kg_community_metrics: stamp both endpoints, aggregate metrics.
    sql["kg_community_metrics"] = """
WITH raw AS (
  SELECT 'c' || c_custkey::VARCHAR AS u, 'n' || c_nationkey::VARCHAR AS v
  FROM customer WHERE c_custkey < 300
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'r' || n_regionkey::VARCHAR
  FROM nation
  UNION ALL
  SELECT 'r' || r_regionkey::VARCHAR, 'world' FROM region
),
und AS (
  SELECT DISTINCT least(u, v) AS u, greatest(u, v) AS v
  FROM raw WHERE u <> v
),
mem AS (
  SELECT 'c' || c.c_custkey::VARCHAR AS node,
         'r' || n.n_regionkey::VARCHAR AS community
  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
  WHERE c.c_custkey < 300
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'r' || n_regionkey::VARCHAR
  FROM nation
  UNION ALL
  SELECT 'r' || r_regionkey::VARCHAR, 'r' || r_regionkey::VARCHAR
  FROM region
  UNION ALL
  SELECT 'world', 'world'
),
m AS (SELECT count(*)::DOUBLE AS m FROM und),
stamped AS (
  SELECT e.u, e.v, mu.community AS cu, mv.community AS cv
  FROM und e JOIN mem mu ON mu.node = e.u JOIN mem mv ON mv.node = e.v
),
internal AS (
  SELECT cu AS community, count(*) AS internal_edges
  FROM stamped WHERE cu = cv GROUP BY cu
),
cut AS (
  SELECT community, count(*) AS cut_edges FROM (
    SELECT cu AS community FROM stamped WHERE cu <> cv
    UNION ALL
    SELECT cv FROM stamped WHERE cu <> cv
  ) GROUP BY community
),
deg AS (
  SELECT node, count(*) AS d FROM (
    SELECT u AS node FROM und UNION ALL SELECT v FROM und
  ) GROUP BY node
),
cd AS (
  SELECT mem.community, count(*) AS n_nodes,
         sum(coalesce(deg.d, 0)) AS degree_sum
  FROM mem LEFT JOIN deg ON deg.node = mem.node
  GROUP BY mem.community
)
SELECT cd.community, cd.n_nodes::BIGINT AS n_nodes,
       coalesce(i.internal_edges, 0)::BIGINT AS internal_edges,
       coalesce(c.cut_edges, 0)::BIGINT AS cut_edges,
       cd.degree_sum::BIGINT AS degree_sum,
       round(coalesce(i.internal_edges, 0) / (SELECT m FROM m)
             - pow(cd.degree_sum / (2 * (SELECT m FROM m)), 2), 6)
         AS modularity,
       round(CASE WHEN least(cd.degree_sum,
                             2 * (SELECT m FROM m) - cd.degree_sum) > 0
                  THEN coalesce(c.cut_edges, 0)
                       / least(cd.degree_sum,
                               2 * (SELECT m FROM m) - cd.degree_sum)
                  ELSE 0.0 END, 6) AS conductance
FROM cd
LEFT JOIN internal i ON i.community = cd.community
LEFT JOIN cut c ON c.community = cd.community
"""

    # event_bursts: identical rolling window frame.
    sql["event_bursts"] = """
WITH counts AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS b,
         count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT *, avg(n) OVER w AS mu,
         stddev_pop(n) OVER w AS sd,
         count(n) OVER w AS nb
  FROM counts
  WINDOW w AS (PARTITION BY key ORDER BY b
               ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
)
SELECT key AS event_type, b::VARCHAR AS bucket_ts, n,
       round(mu, 6) AS base_mean, round(sd, 6) AS base_std,
       round((n - mu) / sd, 4) AS zscore
FROM s
WHERE nb >= 2 AND sd > 0 AND (n - mu) / sd >= 1.5
"""

    # nquads_roundtrip: identity oracle — the original quad set.
    sql["nquads_roundtrip"] = """
SELECT 'http://ex/c' || c_custkey::VARCHAR AS subj,
       'http://ex/inNation' AS pred,
       'http://ex/n' || c_nationkey::VARCHAR AS obj,
       'http://g/' || (c_custkey % 2)::VARCHAR AS graph
FROM customer
UNION ALL
SELECT 'http://ex/c' || c_custkey::VARCHAR, 'http://ex/name',
       c_name, NULL
FROM customer
"""

    # kg_jsonld: same canonical assembly with DuckDB to_json.
    sql["kg_jsonld"] = f"""
WITH {_KG_GEO_CTE.lstrip()},
lifted AS (
  SELECT subj, pred,
         CASE WHEN pred IN ('inNation', 'within')
              THEN 'http://kg/' || obj ELSE obj END AS obj
  FROM tr
),
vals AS (
  SELECT DISTINCT subj, pred,
         CASE WHEN contains(obj, '://') OR starts_with(obj, '_:')
              THEN '{{"@id":' || to_json(obj) || '}}'
              ELSE to_json(obj)::VARCHAR END AS v
  FROM lifted
),
frags AS (
  SELECT subj,
         to_json(pred)::VARCHAR || ':[' ||
         string_agg(v, ',' ORDER BY v) || ']' AS frag
  FROM vals GROUP BY subj, pred
)
SELECT subj,
       '{{"@id":' || to_json(subj)::VARCHAR || ',' ||
       string_agg(frag, ',' ORDER BY frag) || '}}' AS jsonld
FROM frags GROUP BY subj
"""

    # kg_view_delta: the semantic definition — new EXCEPT old / old
    # EXCEPT new — which the delta-rule plan must equal exactly.
    sql["kg_view_delta"] = """
WITH old_t AS (
  SELECT 'c' || c_custkey::VARCHAR AS subj, 'inNation' AS pred,
         'n' || c_nationkey::VARCHAR AS obj
  FROM customer WHERE c_custkey < 500
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'within',
         'r' || n_regionkey::VARCHAR FROM nation
),
adds_t AS (
  SELECT 'x' || c_custkey::VARCHAR AS subj, 'inNation' AS pred,
         'n' || c_nationkey::VARCHAR AS obj
  FROM customer WHERE c_custkey >= 500 AND c_custkey < 600
),
dels_t AS (
  SELECT 'n' || n_nationkey::VARCHAR AS subj, 'within' AS pred,
         'r' || n_regionkey::VARCHAR AS obj
  FROM nation WHERE n_nationkey < 5
),
new_t AS (
  SELECT * FROM (SELECT DISTINCT * FROM old_t) o
  WHERE NOT EXISTS (
    SELECT 1 FROM dels_t d
    WHERE d.subj = o.subj AND d.pred = o.pred AND d.obj = o.obj
  )
  UNION SELECT * FROM adds_t
),
r_old AS (
  SELECT DISTINCT c.subj AS x, c.obj AS n, w.obj AS r
  FROM old_t c JOIN old_t w
    ON w.subj = c.obj AND w.pred = 'within'
  WHERE c.pred = 'inNation'
),
r_new AS (
  SELECT DISTINCT c.subj AS x, c.obj AS n, w.obj AS r
  FROM new_t c JOIN new_t w
    ON w.subj = c.obj AND w.pred = 'within'
  WHERE c.pred = 'inNation'
)
SELECT n, r, x, 'add' AS op FROM (
  SELECT * FROM r_new EXCEPT SELECT * FROM r_old)
UNION ALL
SELECT n, r, x, 'del' FROM (
  SELECT * FROM r_old EXCEPT SELECT * FROM r_new)
"""

    # distant_supervision: KB-first keyed joins + distance filter.
    sql["distant_supervision"] = """
WITH m AS (
  SELECT DISTINCT (l_orderkey % 300)::BIGINT AS doc_id,
         (l_linenumber + (l_partkey % 5) * 7)::INTEGER AS pos,
         'part' || (l_partkey % 100)::VARCHAR AS uri
  FROM lineitem
),
kb AS (
  SELECT DISTINCT 'part' || (p_partkey % 100)::VARCHAR AS subj,
         'brandmate' AS pred,
         'part' || ((p_partkey % 100 + 13) % 100)::VARCHAR AS obj
  FROM part
)
SELECT DISTINCT ms.doc_id, ms.pos AS subj_pos, mo.pos AS obj_pos,
       kb.subj AS subj_uri, kb.pred, kb.obj AS obj_uri
FROM m ms
JOIN kb ON kb.subj = ms.uri
JOIN m mo ON mo.doc_id = ms.doc_id AND mo.uri = kb.obj
WHERE ms.pos <> mo.pos AND abs(mo.pos - ms.pos) <= 20
"""

    # kg_skolemize: canon labels (2 rounds, as kg_bnode_canon) + rank
    # suffix + two keyed joins.
    sql["kg_skolemize"] = """
WITH tri AS (
  SELECT '_:o' || o_orderkey AS subj, 'by' AS pred,
         '_:c' || o_custkey AS obj
  FROM orders
  UNION ALL
  SELECT '_:o' || o_orderkey, 'status', o_orderstatus FROM orders
  UNION ALL
  SELECT '_:c' || c_custkey, 'seg', c_mktsegment FROM customer
),
sig1 AS (
  SELECT subj AS bnode,
         'O|' || pred || '|' ||
         (CASE WHEN starts_with(obj, '_:') THEN '' ELSE obj END) AS sig
  FROM tri WHERE starts_with(subj, '_:')
  UNION ALL
  SELECT obj,
         'I|' || pred || '|' ||
         (CASE WHEN starts_with(subj, '_:') THEN '' ELSE subj END)
  FROM tri WHERE starts_with(obj, '_:')
),
lab1 AS (
  SELECT bnode, md5(string_agg(sig, chr(10) ORDER BY sig)) AS label
  FROM sig1 GROUP BY bnode
),
sig2 AS (
  SELECT t.subj AS bnode,
         'O|' || t.pred || '|' || coalesce(l.label, t.obj) AS sig
  FROM tri t LEFT JOIN lab1 l ON t.obj = l.bnode
  WHERE starts_with(t.subj, '_:')
  UNION ALL
  SELECT t.obj,
         'I|' || t.pred || '|' || coalesce(l.label, t.subj)
  FROM tri t LEFT JOIN lab1 l ON t.subj = l.bnode
  WHERE starts_with(t.obj, '_:')
),
lab2 AS (
  SELECT bnode, md5(string_agg(sig, chr(10) ORDER BY sig)) AS label
  FROM sig2 GROUP BY bnode
),
m AS (
  SELECT bnode,
         'https://kg.example/genid/' || label ||
         CASE WHEN rn > 1 THEN '~' || (rn - 1)::VARCHAR ELSE '' END AS iri
  FROM (
    SELECT bnode, label,
           row_number() OVER (PARTITION BY label ORDER BY bnode) AS rn
    FROM lab2
  )
)
SELECT coalesce(ms.iri, t.subj) AS subj, t.pred,
       coalesce(mo.iri, t.obj) AS obj
FROM tri t
LEFT JOIN m ms ON ms.bnode = t.subj
LEFT JOIN m mo ON mo.bnode = t.obj
"""

    # kg_edit_join: BRUTE-FORCE oracle (all pairs + levenshtein) — a
    # stronger check than replaying the filter: it proves the prefix
    # signature loses nothing.
    sql["kg_edit_join"] = """
WITH r AS (
  SELECT 'c' || c_custkey::VARCHAR AS uri, c_name AS label
  FROM customer WHERE c_custkey < 300
)
SELECT a.uri AS a, b.uri AS b, a.label AS name_a, b.label AS name_b,
       levenshtein(a.label, b.label)::INTEGER AS dist
FROM r a JOIN r b ON a.uri < b.uri
WHERE levenshtein(a.label, b.label) <= 1
"""

    # kg_temporal_constraints: keyed before x after join per rule.
    sql["kg_temporal_constraints"] = """
WITH bf AS (
  SELECT 'c' || (o_custkey % 400)::VARCHAR AS subj,
         (o_orderkey % 90)::INTEGER AS t
  FROM orders WHERE o_orderkey % 5 = 0
),
af AS (
  SELECT 'c' || (o_custkey % 400)::VARCHAR AS subj,
         ((o_orderkey * 3) % 90)::INTEGER AS t
  FROM orders WHERE o_orderkey % 7 = 0
)
SELECT bf.subj, 'first_seen' AS pred_before, bf.t AS t_before,
       'last_seen' AS pred_after, af.t AS t_after,
       'first_seen<last_seen' AS rule
FROM bf JOIN af ON af.subj = bf.subj
WHERE af.t < bf.t
"""

    # calibration_curve: same ntile bins over the same total order.
    sql["calibration_curve"] = """
WITH scored AS (
  SELECT doc_id, (doc_id % 7)::INTEGER AS "offset",
         'u' || (doc_id % 3)::VARCHAR AS uri,
         round((doc_id % 97) / 97.0, 6) AS score
  FROM documents
),
g AS (
  SELECT doc_id, (doc_id % 7)::INTEGER AS "offset",
         'u' || (doc_id % 2)::VARCHAR AS gold_uri
  FROM documents
),
j AS (
  SELECT s.*, CASE WHEN s.uri = g.gold_uri THEN 1 ELSE 0 END AS ok
  FROM scored s LEFT JOIN g
    ON g.doc_id = s.doc_id AND g."offset" = s."offset"
),
b AS (
  SELECT *, ntile(10) OVER (ORDER BY score, doc_id, "offset", uri) AS bin
  FROM j
)
SELECT bin, count(*)::BIGINT AS n,
       round(avg(score), 6) AS mean_score,
       round(avg(ok), 6) AS precision,
       round(avg(score) - avg(ok), 6) AS gap
FROM b GROUP BY bin
"""

    # mask_entities: the fixture's merged layout is [b, b+16) and
    # [len-5, len) (disjoint for every doc length in the testdata), so
    # the oracle assembles the masked string directly.
    sql["mask_entities"] = """
WITH d AS (
  SELECT doc_id, text, length(text) AS n,
         ((doc_id % 4) * 8)::BIGINT AS b
  FROM documents
)
SELECT doc_id,
       substr(text, 1, b) || '[MASK]'
         || substr(text, b + 17, (n - 5) - (b + 16)) || '[MASK]'
         AS masked_text,
       2::BIGINT AS n_masked
FROM d
"""

    # span_layer_align: same overlap predicate + CASE chain.
    sql["span_layer_align"] = """
WITH d AS (
  SELECT doc_id, ((doc_id % 4) * 8)::BIGINT AS b FROM documents
),
l AS (SELECT doc_id, b AS lb, b + 10 AS le, 'L' AS ll FROM d),
r AS (
  SELECT doc_id, b AS rb, b + 10 AS re, 'R-exact' AS rl FROM d
  UNION ALL
  SELECT doc_id, b + 5, b + 15, 'R-ov' FROM d
  UNION ALL
  SELECT doc_id, b + 2, b + 8, 'R-in' FROM d
)
SELECT l.doc_id, lb AS l_begin, le AS l_end, ll AS l_label,
       rb AS r_begin, re AS r_end, rl AS r_label,
       CASE WHEN lb = rb AND le = re THEN 'exact'
            WHEN lb >= rb AND le <= re THEN 'left_within'
            WHEN rb >= lb AND re <= le THEN 'right_within'
            ELSE 'overlap' END AS relation,
       round((least(le, re) - greatest(lb, rb))::DOUBLE
             / (greatest(le, re) - least(lb, rb)), 6) AS jaccard
FROM l JOIN r ON r.doc_id = l.doc_id AND lb < re AND rb < le
"""

    # kg_taxonomy_profile: recursive longest root-chains + degree algebra.
    sql["kg_taxonomy_profile"] = """
WITH RECURSIVE sub AS (
  SELECT DISTINCT * FROM (
    SELECT 'n' || n_nationkey::VARCHAR AS s,
           'r' || n_regionkey::VARCHAR AS p FROM nation
    UNION ALL
    SELECT DISTINCT 'r' || n_regionkey::VARCHAR, 'world' FROM nation
    UNION ALL
    SELECT 'n' || n_nationkey::VARCHAR, 'g' || (n_nationkey % 3)::VARCHAR
    FROM nation
    UNION ALL
    SELECT DISTINCT 'g' || (n_nationkey % 3)::VARCHAR, 'world' FROM nation
  )
),
nodes AS (SELECT DISTINCT node FROM (
  SELECT s AS node FROM sub UNION ALL SELECT p FROM sub)),
roots AS (
  SELECT node FROM nodes WHERE node NOT IN (SELECT s FROM sub)
),
walk (node, d) AS (
  SELECT node, 0 FROM roots
  UNION ALL
  SELECT sub.s, walk.d + 1 FROM walk JOIN sub ON sub.p = walk.node
  WHERE walk.d < 16
),
depth AS (SELECT node, max(d)::BIGINT AS d FROM walk GROUP BY node),
pm AS (SELECT s, count(*) AS np FROM sub GROUP BY s)
SELECT (SELECT count(*) FROM nodes)::BIGINT AS n_classes,
       (SELECT count(*) FROM roots)::BIGINT AS n_roots,
       (SELECT count(*) FROM nodes
        WHERE node NOT IN (SELECT p FROM sub))::BIGINT AS n_leaves,
       max(d)::BIGINT AS max_depth,
       round(avg(d), 6) AS avg_depth,
       round((SELECT count(*) FROM pm WHERE np > 1)::DOUBLE
             / (SELECT count(*) FROM pm), 6) AS multi_parent_ratio
FROM depth
"""

    # kg_neighborhood_agg: two unrolled mean-smoothing rounds with the
    # same per-round rounding.
    sql["kg_neighborhood_agg"] = """
WITH raw AS (
  SELECT 'c' || c_custkey::VARCHAR AS u, 'n' || c_nationkey::VARCHAR AS v
  FROM customer WHERE c_custkey < 200
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'r' || n_regionkey::VARCHAR
  FROM nation
  UNION ALL
  SELECT 'r' || r_regionkey::VARCHAR, 'world' FROM region
),
sym AS (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM raw UNION ALL SELECT v, u FROM raw
  ) WHERE u <> v
),
f AS (
  SELECT 'c' || c_custkey::VARCHAR AS node, c_acctbal::DOUBLE AS h
  FROM customer WHERE c_custkey < 200
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, n_nationkey::DOUBLE FROM nation
  UNION ALL
  SELECT 'r' || r_regionkey::VARCHAR, r_regionkey::DOUBLE FROM region
),
fi AS (
  SELECT node, round(h * 100)::BIGINT + (1::BIGINT << 40) AS hi FROM f
),
h1 AS (
  SELECT node, (2 * sum(hi) + count(hi)) // (2 * count(hi)) AS hi FROM (
    SELECT s.u AS node, fi.hi FROM sym s JOIN fi ON fi.node = s.v
    UNION ALL
    SELECT node, hi FROM fi
  ) GROUP BY node
),
h2 AS (
  SELECT node, (2 * sum(hi) + count(hi)) // (2 * count(hi)) AS hi FROM (
    SELECT s.u AS node, h1.hi FROM sym s JOIN h1 ON h1.node = s.v
    UNION ALL
    SELECT node, hi FROM h1
  ) GROUP BY node
)
SELECT f.node, f.h AS value,
       (h2.hi - (1::BIGINT << 40))::DOUBLE / 100 AS value_2
FROM f JOIN h2 ON h2.node = f.node
"""

    # kg_luby_mis: 4 unrolled Luby rounds (converges in 2 on this
    # fixture; empty later rounds select nothing).
    sql["kg_luby_mis"] = """
WITH raw AS (
  SELECT 'c' || c_custkey::VARCHAR AS u, 'n' || c_nationkey::VARCHAR AS v
  FROM customer WHERE c_custkey < 300
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'r' || n_regionkey::VARCHAR
  FROM nation
  UNION ALL
  SELECT 'r' || r_regionkey::VARCHAR, 'world' FROM region
),
e0 AS (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM raw UNION ALL SELECT v, u FROM raw
  ) WHERE u <> v
),
und1 AS (SELECT DISTINCT u AS node FROM e0),
pr1 AS (
  SELECT node,
         ('0x' || substr(md5(node || chr(31) || '1'), 1, 12))::BIGINT AS h
  FROM und1
),
sel1 AS (
  SELECT p.node FROM pr1 p
  WHERE NOT EXISTS (
    SELECT 1 FROM e0 JOIN pr1 q ON q.node = e0.v
    WHERE e0.u = p.node
      AND (q.h < p.h OR (q.h = p.h AND q.node < p.node))
  )
),
und2 AS (
  SELECT node FROM und1
  WHERE node NOT IN (SELECT node FROM sel1)
    AND node NOT IN (
      SELECT e0.v FROM e0 JOIN sel1 s ON e0.u = s.node
    )
),
pr2 AS (
  SELECT node,
         ('0x' || substr(md5(node || chr(31) || '2'), 1, 12))::BIGINT AS h
  FROM und2
),
sel2 AS (
  SELECT p.node FROM pr2 p
  WHERE NOT EXISTS (
    SELECT 1 FROM e0 JOIN pr2 q ON q.node = e0.v
    WHERE e0.u = p.node
      AND (q.h < p.h OR (q.h = p.h AND q.node < p.node))
  )
),
und3 AS (
  SELECT node FROM und2
  WHERE node NOT IN (SELECT node FROM sel2)
    AND node NOT IN (
      SELECT e0.v FROM e0 JOIN sel2 s ON e0.u = s.node
    )
),
pr3 AS (
  SELECT node,
         ('0x' || substr(md5(node || chr(31) || '3'), 1, 12))::BIGINT AS h
  FROM und3
),
sel3 AS (
  SELECT p.node FROM pr3 p
  WHERE NOT EXISTS (
    SELECT 1 FROM e0 JOIN pr3 q ON q.node = e0.v
    WHERE e0.u = p.node
      AND (q.h < p.h OR (q.h = p.h AND q.node < p.node))
  )
),
und4 AS (
  SELECT node FROM und3
  WHERE node NOT IN (SELECT node FROM sel3)
    AND node NOT IN (
      SELECT e0.v FROM e0 JOIN sel3 s ON e0.u = s.node
    )
),
pr4 AS (
  SELECT node,
         ('0x' || substr(md5(node || chr(31) || '4'), 1, 12))::BIGINT AS h
  FROM und4
),
sel4 AS (
  SELECT p.node FROM pr4 p
  WHERE NOT EXISTS (
    SELECT 1 FROM e0 JOIN pr4 q ON q.node = e0.v
    WHERE e0.u = p.node
      AND (q.h < p.h OR (q.h = p.h AND q.node < p.node))
  )
),
und5 AS (
  SELECT node FROM und4
  WHERE node NOT IN (SELECT node FROM sel4)
    AND node NOT IN (
      SELECT e0.v FROM e0 JOIN sel4 s ON e0.u = s.node
    )
)
SELECT node, 1 AS round FROM sel1
UNION ALL SELECT node, 2 FROM sel2
UNION ALL SELECT node, 3 FROM sel3
UNION ALL SELECT node, 4 FROM sel4
"""

    # kg_equi_depth: ntile per key; (lo,hi,n) is tie-order independent.
    sql["kg_equi_depth"] = """
WITH vals AS (
  SELECT l_returnflag AS key, l_quantity::DOUBLE AS v FROM lineitem
),
b AS (
  SELECT key, v, ntile(8) OVER (PARTITION BY key ORDER BY v) AS bucket
  FROM vals
)
SELECT key, bucket, min(v) AS lo, max(v) AS hi, count(*)::BIGINT AS n
FROM b GROUP BY key, bucket
"""

    # kg_completeness: prevalence >= 0.5 threshold, per-entity scoring.
    sql["kg_completeness"] = """
WITH types AS (
  SELECT DISTINCT 'c' || c_custkey::VARCHAR AS inst,
         'seg_' || c_mktsegment AS cls
  FROM customer
),
props AS (
  SELECT DISTINCT 'c' || c_custkey::VARCHAR AS inst, 'phone' AS pred
  FROM customer
  UNION
  SELECT DISTINCT 'c' || c_custkey::VARCHAR, 'balpos'
  FROM customer WHERE c_acctbal > 0
  UNION
  SELECT DISTINCT 'c' || c_custkey::VARCHAR, 'third'
  FROM customer WHERE c_custkey % 3 = 0
),
sizes AS (SELECT cls, count(*) AS n_inst FROM types GROUP BY cls),
prevalence AS (
  SELECT t.cls, p.pred
  FROM types t JOIN props p ON p.inst = t.inst
  GROUP BY t.cls, p.pred
  HAVING count(DISTINCT t.inst)
         >= 0.5 * (SELECT n_inst FROM sizes s WHERE s.cls = t.cls)
),
n_exp AS (SELECT cls, count(*)::BIGINT AS n_expected FROM prevalence GROUP BY cls),
present AS (
  SELECT t.inst, t.cls, count(*)::BIGINT AS n_present
  FROM types t
  JOIN props p ON p.inst = t.inst
  JOIN prevalence x ON x.cls = t.cls AND x.pred = p.pred
  GROUP BY t.inst, t.cls
)
SELECT t.inst, t.cls,
       coalesce(e.n_expected, 0)::BIGINT AS n_expected,
       coalesce(pr.n_present, 0)::BIGINT AS n_present,
       CASE WHEN coalesce(e.n_expected, 0) = 0 THEN 1.0
            ELSE round(coalesce(pr.n_present, 0)::DOUBLE / e.n_expected, 6)
       END AS completeness
FROM types t
LEFT JOIN n_exp e ON e.cls = t.cls
LEFT JOIN present pr ON pr.inst = t.inst AND pr.cls = t.cls
"""

    # vocab_zipf: frequency ranking + covar/var regression identity.
    sql["vocab_zipf"] = r"""
WITH toks AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents
),
freqs AS (SELECT token, count(*)::BIGINT AS freq FROM toks GROUP BY token),
ranked AS (
  SELECT freq,
         row_number() OVER (ORDER BY freq DESC, token ASC) AS rank
  FROM freqs
)
SELECT sum(freq)::BIGINT AS n_tokens,
       count(*)::BIGINT AS vocab_size,
       sum(CASE WHEN freq = 1 THEN 1 ELSE 0 END)::BIGINT AS hapax,
       sum(CASE WHEN freq = 2 THEN 1 ELSE 0 END)::BIGINT AS dis_legomena,
       round(sum(CASE WHEN rank <= 100 THEN freq ELSE 0 END)::DOUBLE
             / sum(freq), 6) AS topk_coverage,
       round(covar_pop(ln(rank::DOUBLE), ln(freq::DOUBLE))
             / var_pop(ln(rank::DOUBLE)), 6) AS zipf_slope
FROM ranked
"""

    # kg_validity_histogram: boundary deltas + per-key cumsum.
    sql["kg_validity_histogram"] = """
WITH f AS (
  SELECT 'c' || (o_custkey % 40)::VARCHAR AS subj,
         (o_orderkey % 90)::INTEGER AS s,
         ((o_orderkey % 90) + 3 + (o_orderkey % 7))::INTEGER AS e
  FROM orders
),
d AS (
  SELECT subj, t, sum(dd)::BIGINT AS dd FROM (
    SELECT subj, s AS t, 1 AS dd FROM f
    UNION ALL
    SELECT subj, e AS t, -1 AS dd FROM f
  ) GROUP BY subj, t
)
SELECT subj, t, sum(dd) OVER (
  PARTITION BY subj ORDER BY t
  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
)::BIGINT AS active
FROM d
"""

    # priority_mix: md5 tail -> uniform in (0,1) -> A-Res key ln(u)/w.
    sql["priority_mix"] = """
WITH keyed AS (
  SELECT doc_id, lang,
         ln((('0x' || substr(md5(doc_id::VARCHAR), 25, 8))::BIGINT
             % 16777216 + 0.5) / 16777216.0) / n_chars AS pk
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
)
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, row_number() OVER (
    PARTITION BY lang ORDER BY pk DESC, doc_id ASC) AS rn
  FROM keyed
) WHERE rn <= 25
"""

    # contrastive_mine: full cosine ranking, symmetric link + self
    # exclusion, top-3 negatives joined back to the directed positives.
    sql["contrastive_mine"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
lk AS (
  SELECT vec_id AS a, vec_id + 250 AS b FROM embeddings WHERE vec_id < 20
),
sym AS (
  SELECT a, b FROM lk UNION SELECT b, a FROM lk
),
anchors AS (SELECT DISTINCT a FROM sym),
scored AS (
  SELECT q.a AS anchor, e.vec_id AS cand_id,
         list_cosine_similarity(qe.v, e.v) AS cos
  FROM anchors q
  JOIN e qe ON qe.vec_id = q.a
  CROSS JOIN e
  WHERE e.vec_id <> q.a
    AND NOT EXISTS (
      SELECT 1 FROM sym s WHERE s.a = q.a AND s.b = e.vec_id
    )
),
negs AS (
  SELECT anchor, cand_id, cos, row_number() OVER (
    PARTITION BY anchor ORDER BY cos DESC, cand_id ASC) AS neg_rank
  FROM scored
)
SELECT lk.a AS anchor, lk.b AS pos_id, n.cand_id AS neg_id,
       n.neg_rank::INTEGER AS neg_rank, round(n.cos, 4) AS neg_cosine
FROM lk JOIN negs n ON n.anchor = lk.a
WHERE n.neg_rank <= 3
"""

    # kg_interval_subtract: coalesce retractions, keyed overlap join,
    # lag-window gap pieces + tail + untouched facts — UNION ALL keeps
    # the duplicate pieces identical facts legitimately produce.
    sql["kg_interval_subtract"] = """
WITH f0 AS (
  SELECT DISTINCT 'c' || (o_custkey % 40)::VARCHAR AS subj,
         'active' AS pred, o_orderstatus AS obj,
         (o_orderkey % 90)::INTEGER AS valid_from,
         ((o_orderkey % 90) + 3 + (o_orderkey % 7))::INTEGER AS valid_to
  FROM orders
),
r0 AS (
  SELECT DISTINCT 'c' || (o_custkey % 40)::VARCHAR AS subj,
         'active' AS pred, o_orderstatus AS obj,
         ((o_orderkey * 7) % 90)::INTEGER AS valid_from,
         (((o_orderkey * 7) % 90) + 2 + (o_orderkey % 5))::INTEGER
           AS valid_to
  FROM orders
),
rm AS (
  SELECT *, max(valid_to) OVER (
    PARTITION BY subj, pred, obj ORDER BY valid_from, valid_to
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ) AS pm
  FROM r0
),
rfl AS (
  SELECT *, CASE WHEN pm IS NULL OR valid_from > pm THEN 1 ELSE 0 END AS ni
  FROM rm
),
risl AS (
  SELECT *, sum(ni) OVER (
    PARTITION BY subj, pred, obj ORDER BY valid_from, valid_to
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS isl
  FROM rfl
),
r AS (
  SELECT subj, pred, obj, min(valid_from) AS rs, max(valid_to) AS re
  FROM risl GROUP BY subj, pred, obj, isl
),
hits AS (
  SELECT f.subj, f.pred, f.obj, f.valid_from AS s, f.valid_to AS e,
         r.rs, r.re
  FROM f0 f
  JOIN r ON r.subj = f.subj AND r.pred = f.pred AND r.obj = f.obj
  WHERE f.valid_from < r.re AND r.rs < f.valid_to
),
untouched AS (
  SELECT f.* FROM f0 f
  WHERE NOT EXISTS (
    SELECT 1 FROM hits h
    WHERE h.subj = f.subj AND h.pred = f.pred AND h.obj = f.obj
      AND h.s = f.valid_from AND h.e = f.valid_to
  )
),
pieces AS (
  SELECT subj, pred, obj,
         coalesce(lag(re) OVER w, s) AS ps, least(e, rs) AS pe
  FROM hits
  WINDOW w AS (PARTITION BY subj, pred, obj, s, e ORDER BY rs)
),
tl AS (
  SELECT subj, pred, obj, re AS ps, e AS pe FROM (
    SELECT *, row_number() OVER (
      PARTITION BY subj, pred, obj, s, e ORDER BY rs DESC
    ) AS rn
    FROM hits
  ) WHERE rn = 1 AND re < e
)
SELECT subj, pred, obj, valid_from, valid_to FROM untouched
UNION ALL
SELECT subj, pred, obj, ps, pe FROM pieces WHERE ps < pe
UNION ALL
SELECT subj, pred, obj, ps, pe FROM tl
"""

    # kg_verbalize: template substitution + label joins + sorted
    # string_agg per subject.
    sql["kg_verbalize"] = f"""
WITH {_KG_GEO_CTE.lstrip()},
lab AS (
  SELECT 'n' || n_nationkey::VARCHAR AS uri, n_name AS label FROM nation
  UNION ALL
  SELECT 'r' || r_regionkey::VARCHAR, r_name FROM region
),
t AS (SELECT subj, pred, obj FROM tr WHERE pred IN ('within', 'named')),
s AS (
  SELECT t.subj,
    CASE t.pred
      WHEN 'within' THEN coalesce(ls.label, t.subj) || ' lies within '
                         || coalesce(lo.label, t.obj) || '.'
      WHEN 'named' THEN coalesce(ls.label, t.subj) || ' is named '
                        || coalesce(lo.label, t.obj) || '.'
    END AS sentence
  FROM t
  LEFT JOIN lab ls ON ls.uri = t.subj
  LEFT JOIN lab lo ON lo.uri = t.obj
)
SELECT subj, string_agg(sentence, ' ' ORDER BY sentence) AS text,
       count(*)::BIGINT AS n_facts
FROM s GROUP BY subj
"""

    # temperature_mix: replay pow/normalize/floor/largest-remainder on
    # the stratum dim, then the md5-rank member pick.
    sql["temperature_mix"] = """
WITH counts AS (
  SELECT lang, count(*)::DOUBLE AS n FROM documents GROUP BY lang
),
alloc AS (
  SELECT lang, n, pow(n, 0.5) / sum(pow(n, 0.5)) OVER () * 200 AS q
  FROM counts
),
alloc2 AS (
  SELECT lang, n, floor(least(q, n)) AS fl,
         least(q, n) - floor(least(q, n)) AS rem
  FROM alloc
),
quota AS (
  SELECT lang,
         least(
           fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang ASC)
                     <= 200 - (SELECT sum(fl) FROM alloc2)
                THEN 1 ELSE 0 END,
           n
         ) AS quota
  FROM alloc2
),
ranked AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT r.doc_id, r.lang
FROM ranked r JOIN quota q ON q.lang = r.lang
WHERE r.rk <= q.quota
"""

    # leakage_split: md5-tail bucket of the GROUP key, cumulative
    # thresholds over sorted split names (test<0.1 | train<0.9 | valid).
    sql["leakage_split"] = """
SELECT doc_id, source,
  CASE
    WHEN ('0x' || substr(md5(source), 25, 8))::BIGINT % 10000 < 1000
      THEN 'test'
    WHEN ('0x' || substr(md5(source), 25, 8))::BIGINT % 10000 < 9000
      THEN 'train'
    ELSE 'valid'
  END AS split
FROM documents
"""

    # span_vote: distinct-source counting + majority pick, label asc ties.
    sql["span_vote"] = """
WITH ann AS (
  SELECT (l_orderkey % 500)::BIGINT AS doc_id,
         ((l_partkey % 20) * 10)::INTEGER AS begin,
         ((l_partkey % 20) * 10 + 5)::INTEGER AS "end",
         l_returnflag AS label,
         's' || (l_suppkey % 3)::VARCHAR AS source
  FROM lineitem
),
votes AS (
  SELECT doc_id, begin, "end", label,
         count(DISTINCT source)::BIGINT AS votes
  FROM ann GROUP BY doc_id, begin, "end", label
),
tot AS (
  SELECT *, sum(votes) OVER (PARTITION BY doc_id, begin, "end") AS _tot,
         row_number() OVER (
           PARTITION BY doc_id, begin, "end"
           ORDER BY votes DESC, label ASC
         ) AS rn
  FROM votes
)
SELECT doc_id, begin, "end", label, votes, _tot::BIGINT AS n_sources,
       round(votes::DOUBLE / _tot, 6) AS agreement
FROM tot WHERE rn = 1
"""

    # kg_sorted_neighborhood: one global row_number + rank-band self
    # join (the oracle may use the single-partition form the Spark side
    # avoids).
    sql["kg_sorted_neighborhood"] = """
WITH recs AS (
  SELECT 'c' || c_custkey::VARCHAR AS uri, c_name AS label
  FROM customer WHERE c_custkey < 400
),
ranked AS (
  SELECT uri, label,
         row_number() OVER (ORDER BY label, uri) - 1 AS rk
  FROM recs
)
SELECT a.uri AS a, b.uri AS b, a.label AS key_a, b.label AS key_b,
       (b.rk - a.rk)::BIGINT AS gap
FROM ranked a JOIN ranked b
  ON b.rk > a.rk AND b.rk < a.rk + 3
"""

    # kg_path_trace: min-dist BFS, min-parent pick, then a second
    # recursive pass reconstructs each node's canonical path over the
    # parent forest — the same min-parent rule the Spark operator uses.
    sql["kg_path_trace"] = """
WITH RECURSIVE e AS (
  SELECT DISTINCT * FROM (
    SELECT 'world' AS src, 'r' || r_regionkey::VARCHAR AS dst FROM region
    UNION ALL
    SELECT 'r' || n_regionkey::VARCHAR, 'n' || n_nationkey::VARCHAR
    FROM nation
    UNION ALL
    SELECT 'r0', 'n' || n_nationkey::VARCHAR FROM nation
    UNION ALL
    SELECT 'n' || c_nationkey::VARCHAR, 'c' || c_custkey::VARCHAR
    FROM customer WHERE c_custkey < 200
  )
),
walk (node, dist) AS (
  SELECT 'world', 0
  UNION ALL
  SELECT e.dst, walk.dist + 1
  FROM walk JOIN e ON e.src = walk.node
  WHERE walk.dist < 8
),
d AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node),
par AS (
  SELECT d.node, d.dist, min(e.src) AS parent
  FROM d
  JOIN e ON e.dst = d.node
  JOIN d dp ON dp.node = e.src AND dp.dist = d.dist - 1
  GROUP BY d.node, d.dist
),
pth (node, dist, path) AS (
  SELECT 'world', 0, 'world'
  UNION ALL
  SELECT p.node, p.dist, pp.path || '/' || p.node
  FROM par p JOIN pth pp ON pp.node = p.parent AND pp.dist = p.dist - 1
)
SELECT 'world' AS source, node, dist, path FROM pth
"""

    # kg_ifp_sameas: per-rule window-min hub, member != hub rows.
    sql["kg_ifp_sameas"] = """
WITH fn AS (
  SELECT DISTINCT 'g' || (c_custkey % 50)::VARCHAR AS k,
         'n' || c_nationkey::VARCHAR AS v
  FROM customer
),
fnh AS (SELECT k, v, min(v) OVER (PARTITION BY k) AS hub FROM fn),
ifp AS (
  SELECT DISTINCT 'e' || (c_custkey % 80)::VARCHAR AS k,
         'c' || c_custkey::VARCHAR AS v
  FROM customer
),
ifph AS (SELECT k, v, min(v) OVER (PARTITION BY k) AS hub FROM ifp)
SELECT DISTINCT hub AS a, v AS b, 'homeNation' AS pred,
       'functional' AS rule
FROM fnh WHERE v <> hub
UNION
SELECT DISTINCT hub, v, 'email', 'inverse_functional'
FROM ifph WHERE v <> hub
"""

    # kg_char_sets: signature = sorted distinct predicate list.
    sql["kg_char_sets"] = f"""
WITH {_KG_GEO_CTE.lstrip()},
per AS (
  SELECT subj,
         array_to_string(list_sort(list(DISTINCT pred)), ',') AS cs,
         count(*) AS nt
  FROM tr GROUP BY subj
)
SELECT cs, len(string_split(cs, ','))::INTEGER AS n_preds,
       count(*)::BIGINT AS n_subjects, sum(nt)::BIGINT AS n_triples
FROM per GROUP BY cs
"""

    # kg_ic_similarity: IC = -ln(subtree instances / all instances);
    # MICA by max IC then anc asc; + 0.0 canonicalizes -0.0 like the
    # Spark side.
    sql["kg_ic_similarity"] = """
WITH RECURSIVE sub AS (
  SELECT 'n' || n_nationkey::VARCHAR AS s,
         'r' || n_regionkey::VARCHAR AS p
  FROM nation
  UNION ALL
  SELECT DISTINCT 'r' || n_regionkey::VARCHAR, 'world' FROM nation
),
nodes AS (SELECT DISTINCT node FROM (
  SELECT s AS node FROM sub UNION ALL SELECT p FROM sub)),
anc (node, anc) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT a.node, s.p FROM anc a JOIN sub s ON a.anc = s.s
),
inst AS (
  SELECT DISTINCT 'c' || c_custkey::VARCHAR AS i,
         'n' || c_nationkey::VARCHAR AS node
  FROM customer
),
subtree AS (
  SELECT a.anc, count(DISTINCT i.i) AS n
  FROM inst i JOIN anc a ON a.node = i.node
  GROUP BY a.anc
),
ic AS (
  SELECT anc,
         -ln(n::DOUBLE / (SELECT count(DISTINCT i) FROM inst)) AS ic
  FROM subtree
),
pairs AS (
  SELECT 'n' || a.n_nationkey::VARCHAR AS a,
         'n' || b.n_nationkey::VARCHAR AS b
  FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
  WHERE a.n_nationkey < 10 AND b.n_nationkey < 10
),
common AS (
  SELECT p.a, p.b, aa.anc, ic.ic,
         row_number() OVER (
           PARTITION BY p.a, p.b ORDER BY ic.ic DESC, aa.anc ASC
         ) AS rn
  FROM pairs p
  JOIN anc aa ON aa.node = p.a
  JOIN anc ab ON ab.node = p.b AND ab.anc = aa.anc
  JOIN ic ON ic.anc = aa.anc
)
SELECT c.a, c.b, c.anc AS mica,
       round(c.ic, 6) + 0.0 AS resnik,
       round(CASE WHEN ia.ic + ib.ic > 0.0
                  THEN 2.0 * c.ic / (ia.ic + ib.ic)
                  ELSE 0.0 END, 6) + 0.0 AS lin
FROM common c
JOIN ic ia ON ia.anc = c.a
JOIN ic ib ON ib.anc = c.b
WHERE c.rn = 1
"""

    # kg_interval_coalesce: identical gaps-and-islands window algebra.
    sql["kg_interval_coalesce"] = """
WITH f AS (
  SELECT DISTINCT 'c' || (o_custkey % 40)::VARCHAR AS subj,
         'active' AS pred, o_orderstatus AS obj,
         (o_orderkey % 90)::INTEGER AS valid_from,
         ((o_orderkey % 90) + 3 + (o_orderkey % 7))::INTEGER AS valid_to
  FROM orders
),
m AS (
  SELECT *, max(valid_to) OVER (
    PARTITION BY subj, pred, obj ORDER BY valid_from, valid_to
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
  ) AS pm
  FROM f
),
fl AS (
  SELECT *, CASE WHEN pm IS NULL OR valid_from > pm THEN 1 ELSE 0 END AS ni
  FROM m
),
isl AS (
  SELECT *, sum(ni) OVER (
    PARTITION BY subj, pred, obj ORDER BY valid_from, valid_to
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS island
  FROM fl
)
SELECT subj, pred, obj,
       min(valid_from) AS valid_from, max(valid_to) AS valid_to
FROM isl GROUP BY subj, pred, obj, island
"""

    sql["kg_wu_palmer"] = """
WITH RECURSIVE sub AS (
  SELECT 'n' || n_nationkey::VARCHAR AS s,
         'r' || n_regionkey::VARCHAR AS p
  FROM nation
  UNION ALL
  SELECT DISTINCT 'r' || n_regionkey::VARCHAR, 'world' FROM nation
),
nodes AS (SELECT DISTINCT node FROM (
  SELECT s AS node FROM sub UNION ALL SELECT p FROM sub)),
anc (node, anc) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT a.node, s.p FROM anc a JOIN sub s ON a.anc = s.s
),
depth AS (SELECT node, count(*) AS depth FROM anc GROUP BY 1),
pairs AS (
  SELECT 'n' || a.n_nationkey::VARCHAR AS a,
         'n' || b.n_nationkey::VARCHAR AS b
  FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
  WHERE a.n_nationkey < 10 AND b.n_nationkey < 10
),
common AS (
  SELECT p.a, p.b, aa.anc, d."depth" AS dl,
         row_number() OVER (
           PARTITION BY p.a, p.b ORDER BY d."depth" DESC, aa.anc ASC
         ) AS rn
  FROM pairs p
  JOIN anc aa ON aa.node = p.a
  JOIN anc ab ON ab.node = p.b AND ab.anc = aa.anc
  JOIN depth d ON d.node = aa.anc
)
SELECT c.a, c.b, c.anc AS lca,
       da.depth::BIGINT AS depth_a, db.depth::BIGINT AS depth_b,
       round(2.0 * c.dl / (da.depth + db.depth), 6) AS wup
FROM common c
JOIN depth da ON da.node = c.a
JOIN depth db ON db.node = c.b
WHERE c.rn = 1
"""

    # kg_sparql_strfuncs: STRAFTER/STRBEFORE with the SPARQL empty/
    # absent-separator semantics replayed via instr guards.
    sql["kg_sparql_strfuncs"] = f"""
WITH {_KG_GEO_CTE.lstrip()},
named AS (
  SELECT nm.subj AS n, nm.obj AS name
  FROM tr nm
  JOIN tr w ON w.subj = nm.subj AND w.pred = 'within'
  WHERE nm.pred = 'named'
)
SELECT DISTINCT n, name,
  lower(name) || '|'
    || (CASE WHEN instr(name, '_') > 0
             THEN substring(name, instr(name, '_') + 1) ELSE '' END)
    || '|'
    || (CASE WHEN instr(name, '_') > 0
             THEN substring(name, 1, instr(name, '_') - 1) ELSE '' END)
    AS tag
FROM named
WHERE CASE WHEN contains(name, '1') THEN true
           ELSE name LIKE '%2' END
"""

    # Typed-literal term fixture twin (documents has no quotes/
    # backslashes, so the N-Triples escape chain is the identity here
    # and the oracle builds terms by plain concatenation).
    _LANG_TRI = """
WITH labels AS (
  SELECT 'doc://' || doc_id::VARCHAR AS subj,
         'http://ex/label' AS pred,
         '"' || substring(text, 1, 20) || '"@' || lang AS obj,
         substring(text, 1, 20) AS value, lang AS lang_tag,
         'http://www.w3.org/1999/02/22-rdf-syntax-ns#langString'
           AS datatype
  FROM documents
),
sizes AS (
  SELECT 'doc://' || doc_id::VARCHAR AS subj,
         'http://ex/nChars' AS pred,
         '"' || n_chars::VARCHAR
             || '"^^<http://www.w3.org/2001/XMLSchema#integer>' AS obj,
         n_chars::VARCHAR AS value, '' AS lang_tag,
         'http://www.w3.org/2001/XMLSchema#integer' AS datatype
  FROM documents
)
"""

    # kg_bnode_canon: both color-refinement rounds unrolled; round-1
    # labels are '' for bnode neighbors (the uniform start), round-2
    # joins the round-1 md5 labels. starts_with avoids LIKE's '_'
    # wildcard on the '_:' prefix.
    sql["kg_bnode_canon"] = """
WITH tri AS (
  SELECT '_:o' || o_orderkey AS subj, 'by' AS pred,
         '_:c' || o_custkey AS obj
  FROM orders
  UNION ALL
  SELECT '_:o' || o_orderkey, 'status', o_orderstatus FROM orders
  UNION ALL
  SELECT '_:c' || c_custkey, 'seg', c_mktsegment FROM customer
),
sig1 AS (
  SELECT subj AS bnode,
         'O|' || pred || '|' ||
         (CASE WHEN starts_with(obj, '_:') THEN '' ELSE obj END) AS sig
  FROM tri WHERE starts_with(subj, '_:')
  UNION ALL
  SELECT obj,
         'I|' || pred || '|' ||
         (CASE WHEN starts_with(subj, '_:') THEN '' ELSE subj END)
  FROM tri WHERE starts_with(obj, '_:')
),
lab1 AS (
  SELECT bnode, md5(string_agg(sig, chr(10) ORDER BY sig)) AS label
  FROM sig1 GROUP BY bnode
),
sig2 AS (
  SELECT t.subj AS bnode,
         'O|' || t.pred || '|' || coalesce(l.label, t.obj) AS sig
  FROM tri t LEFT JOIN lab1 l ON t.obj = l.bnode
  WHERE starts_with(t.subj, '_:')
  UNION ALL
  SELECT t.obj,
         'I|' || t.pred || '|' || coalesce(l.label, t.subj)
  FROM tri t LEFT JOIN lab1 l ON t.subj = l.bnode
  WHERE starts_with(t.obj, '_:')
)
SELECT bnode, md5(string_agg(sig, chr(10) ORDER BY sig)) AS label
FROM sig2 GROUP BY bnode
"""

    # kg_fact_fusion: the 2-round Sums/TruthFinder iteration unrolled as
    # CTEs — per-round round(6) resyncs floats between engines exactly as
    # the operator does.
    _FUSION_CTES = """
WITH claims AS (
  SELECT DISTINCT 'c' || o_custkey AS subj, 'status' AS pred,
         o_orderstatus AS obj, o_orderpriority AS src
  FROM orders
),
facts AS (SELECT DISTINCT subj, pred, obj FROM claims),
gs AS (SELECT subj, pred, count(*) AS n_obj FROM facts GROUP BY subj, pred),
conf0 AS (
  SELECT f.subj, f.pred, f.obj, round(1.0 / gs.n_obj, 6) AS confidence
  FROM facts f JOIN gs USING (subj, pred)
),
trust1 AS (
  SELECT src, round(avg(confidence), 6) AS trust
  FROM claims JOIN conf0 USING (subj, pred, obj) GROUP BY src
),
sup1 AS (
  SELECT subj, pred, obj, sum(trust) AS support
  FROM claims JOIN trust1 USING (src) GROUP BY subj, pred, obj
),
tot1 AS (SELECT subj, pred, sum(support) AS total FROM sup1 GROUP BY subj, pred),
conf1 AS (
  SELECT subj, pred, obj, round(support / total, 6) AS confidence
  FROM sup1 JOIN tot1 USING (subj, pred)
),
trust2 AS (
  SELECT src, round(avg(confidence), 6) AS trust
  FROM claims JOIN conf1 USING (subj, pred, obj) GROUP BY src
),
sup2 AS (
  SELECT subj, pred, obj, sum(trust) AS support
  FROM claims JOIN trust2 USING (src) GROUP BY subj, pred, obj
),
tot2 AS (SELECT subj, pred, sum(support) AS total FROM sup2 GROUP BY subj, pred),
conf2 AS (
  SELECT subj, pred, obj, round(support / total, 6) AS confidence
  FROM sup2 JOIN tot2 USING (subj, pred)
),
ns AS (
  SELECT subj, pred, obj, count(*) AS n_sources
  FROM claims GROUP BY subj, pred, obj
),
fused AS (
  SELECT subj, pred, obj, confidence, n_sources
  FROM conf2 JOIN ns USING (subj, pred, obj)
)
"""
    sql["kg_fact_fusion"] = _FUSION_CTES + """
SELECT subj, pred, obj, confidence, n_sources FROM fused
"""

    sql["kg_conflict_resolution"] = _FUSION_CTES + """
SELECT subj, pred, obj, confidence, n_sources FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY subj, pred
    ORDER BY confidence DESC, n_sources DESC, obj ASC
  ) AS rk FROM fused
) WHERE rk = 1
"""

    # kg_graph_clause: GRAPH-clause algebra as SQL — the within-group join
    # carries graph equality (a.graph = b.graph), the default block scans
    # the union of graphs, blocks join on the graph variable.
    sql["kg_graph_clause"] = """
WITH quads AS (
  SELECT 'c' || c_custkey AS subj, 'segment' AS pred,
         c_mktsegment AS obj, 'nation' || c_nationkey AS graph
  FROM customer
  UNION ALL
  SELECT 'c' || c_custkey, 'named', c_name, 'nation' || c_nationkey
  FROM customer
  UNION ALL
  SELECT 'nation' || n_nationkey, 'label', n_name, 'meta' FROM nation
),
dflt AS (
  SELECT DISTINCT subj AS g, obj AS nname FROM quads WHERE pred = 'label'
),
grp AS (
  SELECT DISTINCT a.graph AS g, a.subj AS c, b.obj AS cname
  FROM quads a
  JOIN quads b ON a.graph = b.graph AND a.subj = b.subj
  WHERE a.pred = 'segment' AND a.obj = 'BUILDING' AND b.pred = 'named'
)
SELECT DISTINCT dflt.g AS g, grp.c AS c, grp.cname AS cname
FROM dflt JOIN grp ON dflt.g = grp.g
WHERE dflt.nname <> 'FRANCE'
"""

    sql["kg_lang_literals"] = _LANG_TRI + """
SELECT subj, pred, obj, value, lang_tag, datatype FROM labels
UNION ALL
SELECT subj, pred, obj, value, lang_tag, datatype FROM sizes
"""

    sql["kg_sparql_lang"] = _LANG_TRI + """
SELECT DISTINCT subj AS s, obj AS o FROM labels
WHERE lower(lang_tag) = 'en' OR lower(lang_tag) LIKE 'en-%'
"""

    # Shared CTE replaying flat_to_interleaved_multi's span layout as flat
    # per-doc columns: token-third slices, cycling media kinds, span/token
    # counts. kinds list is 1-indexed in DuckDB via list_extract.
    _IV_CTES = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n,
         list_extract(['image','audio','video'], (doc_id % 3 + 1)::INT)
           AS kind_a,
         list_extract(['image','audio','video'], ((doc_id+1) % 3 + 1)::INT)
           AS kind_b
  FROM documents
),
iv AS (
  SELECT doc_id, text, toks, n, kind_a, kind_b,
         ceil(n / 3)::INT AS k1,
         ceil((n - ceil(n / 3)::INT) / 2)::INT AS k2,
         ceil(n / 2)::INT AS h,
         CASE WHEN n >= 3 THEN 5 WHEN n = 2 THEN 3 ELSE 1 END AS n_spans,
         CASE WHEN n >= 3 THEN 3 WHEN n = 2 THEN 2 ELSE 1 END AS n_text
  FROM t
),
iv_txt AS (
  SELECT *,
    CASE WHEN n >= 3 THEN array_to_string(list_slice(toks, 1, k1), ' ')
         WHEN n = 2  THEN array_to_string(list_slice(toks, 1, h), ' ')
         ELSE text END AS t1,
    CASE WHEN n >= 3 THEN array_to_string(list_slice(toks, k1+1, k1+k2), ' ')
         WHEN n = 2  THEN array_to_string(list_slice(toks, h+1, n), ' ')
         END AS t2,
    CASE WHEN n >= 3
         THEN array_to_string(list_slice(toks, k1+k2+1, n), ' ') END AS t3
  FROM iv
)
"""

    sql["iv_stats"] = _IV_CTES + """
SELECT doc_id, n_spans, n_text,
  (CASE WHEN n >= 2 AND kind_a = 'image' THEN 1 ELSE 0 END
   + CASE WHEN n >= 3 AND kind_b = 'image' THEN 1 ELSE 0 END)::INT AS n_image,
  (CASE WHEN n >= 2 AND kind_a = 'audio' THEN 1 ELSE 0 END
   + CASE WHEN n >= 3 AND kind_b = 'audio' THEN 1 ELSE 0 END)::INT AS n_audio,
  (CASE WHEN n >= 2 AND kind_a = 'video' THEN 1 ELSE 0 END
   + CASE WHEN n >= 3 AND kind_b = 'video' THEN 1 ELSE 0 END)::INT AS n_video,
  (length(t1) + coalesce(length(t2), 0) + coalesce(length(t3), 0))::BIGINT
    AS text_chars,
  n::BIGINT AS text_tokens,
  CASE WHEN n >= 2 THEN 1 END::INT AS first_media_idx,
  round((n_spans - n_text) / n_spans::DOUBLE, 6) AS media_ratio
FROM iv_txt
"""

    sql["iv_media_context"] = _IV_CTES + """
, ctx AS (
  -- media span 1 (always present when n >= 2): between t1 and t2
  SELECT doc_id, 1 AS span_idx, kind_a AS kind,
         kind_a || '://' || doc_id::VARCHAR || '/0' AS media_ref,
         t1 AS before_full, t2 AS after_full
  FROM iv_txt WHERE n >= 2
  UNION ALL
  -- media span 3 (n >= 3): between t2 and t3
  SELECT doc_id, 3, kind_b,
         kind_b || '://' || doc_id::VARCHAR || '/1', t2, t3
  FROM iv_txt WHERE n >= 3
)
SELECT doc_id, span_idx, kind, media_ref,
  array_to_string(list_slice(string_split(before_full, ' '),
    greatest(len(string_split(before_full, ' ')) - 3, 1),
    len(string_split(before_full, ' '))), ' ') AS before_text,
  array_to_string(list_slice(string_split(after_full, ' '), 1, 4), ' ')
    AS after_text
FROM ctx
"""

    # pack_interleaved replay: per-span rows with within-doc running token
    # offsets, a corpus-wide prefix sum over VARCHAR doc_id order (the
    # operator's range partitioning key), then media -> start chunk and
    # text -> generate_series over overlapped chunks.
    sql["iv_pack"] = _IV_CTES + """
, spans AS (
  SELECT doc_id, 0 AS span_idx, 'text' AS kind, NULL AS media_ref,
         CASE WHEN n >= 3 THEN k1 WHEN n = 2 THEN h ELSE n END::BIGINT
           AS cost
  FROM iv_txt
  UNION ALL
  SELECT doc_id, 1, kind_a, kind_a || '://' || doc_id::VARCHAR || '/0',
         CASE kind_a WHEN 'image' THEN 576 WHEN 'audio' THEN 1500
                     WHEN 'video' THEN 7200 ELSE 1 END
  FROM iv_txt WHERE n >= 2
  UNION ALL
  SELECT doc_id, 2, 'text', NULL,
         CASE WHEN n >= 3 THEN k2 ELSE n - h END
  FROM iv_txt WHERE n >= 2
  UNION ALL
  SELECT doc_id, 3, kind_b, kind_b || '://' || doc_id::VARCHAR || '/1',
         CASE kind_b WHEN 'image' THEN 576 WHEN 'audio' THEN 1500
                     WHEN 'video' THEN 7200 ELSE 1 END
  FROM iv_txt WHERE n >= 3
  UNION ALL
  SELECT doc_id, 4, 'text', NULL, n - k1 - k2 FROM iv_txt WHERE n >= 3
),
offs AS (
  SELECT *,
    coalesce(sum(cost) OVER (
      ORDER BY doc_id::VARCHAR, span_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS g_off
  FROM spans
),
live AS (SELECT * FROM offs WHERE cost > 0)
SELECT (g_off // 2048)::BIGINT AS chunk_id, doc_id, span_idx, kind, media_ref,
       0 AS tok_start, cost::BIGINT AS n_tok_slice
FROM live WHERE kind <> 'text'
UNION ALL
SELECT c.chunk_id::BIGINT, l.doc_id, l.span_idx, l.kind, l.media_ref,
       greatest(c.chunk_id * 2048 - l.g_off, 0)::INT AS tok_start,
       (least((c.chunk_id + 1) * 2048, l.g_off + l.cost)
        - greatest(c.chunk_id * 2048, l.g_off))::BIGINT AS n_tok_slice
FROM live l,
     LATERAL (SELECT unnest(generate_series(
         (l.g_off // 2048)::BIGINT,
         ((l.g_off + l.cost - 1) // 2048)::BIGINT)) AS chunk_id) c
WHERE l.kind = 'text'
"""

    sql["iv_span_diff"] = """
WITH t AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n,
         CASE WHEN len(string_split(text, ' ')) >= 3 THEN 5
              WHEN len(string_split(text, ' ')) = 2 THEN 3
              ELSE 1 END AS n_spans
  FROM documents
)
SELECT doc_id::VARCHAR AS doc_id, 'missing_doc' AS status,
       n_spans AS n_expected, NULL::INT AS n_actual,
       NULL::INT AS first_diff_idx
FROM t WHERE doc_id % 13 = 5
UNION ALL
SELECT doc_id::VARCHAR, 'length', n_spans, n_spans - 1, NULL
FROM t WHERE doc_id % 13 <> 5 AND doc_id % 7 = 0
UNION ALL
SELECT doc_id::VARCHAR, 'span', n_spans, n_spans, 0
FROM t WHERE doc_id % 13 <> 5 AND doc_id % 7 <> 0 AND doc_id % 11 = 3
UNION ALL
SELECT 'zz_extra', 'extra_doc', NULL, 1, NULL
"""

    sql["spot_dictionary"] = _BASE_CTES + "SELECT doc_id, pos, surface_form FROM spots"

    sql["prior_top1"] = _BASE_CTES + """
SELECT s.doc_id, s.pos, s.surface_form, d.uri
FROM spots s JOIN dict d ON s.surface_form = d.surface_form
QUALIFY row_number() OVER (
  PARTITION BY s.doc_id, s.pos ORDER BY d.pair_count DESC, d.uri ASC) = 1
"""

    nif_tri_ctes = _BASE_CTES + f""",
ann AS (
  SELECT doc_id::VARCHAR AS doc_id,
         {_SQL_OFFSET} AS off,
         surface_form, uri, prior::DOUBLE AS prior
  FROM occs
),
spans_u AS (
  SELECT '{DOC_PREFIX}' || doc_id || '#char=' || off || ',' ||
         (off + length(surface_form)) AS subj, *
  FROM ann
),
tri AS (
SELECT subj, 'http://www.w3.org/2005/11/its/rdf#taIdentRef' AS pred,
       'http://dbpedia.org/resource/' || uri AS obj FROM spans_u
UNION ALL
SELECT subj,
 'http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#anchorOf',
 surface_form FROM spans_u
UNION ALL
SELECT subj, 'http://www.w3.org/2005/11/its/rdf#taConfidence',
       prior::VARCHAR FROM spans_u
)
"""
    sql["nif_triples"] = nif_tri_ctes + "SELECT subj, pred, obj FROM tri"

    # N-Triples escape chain (backslash first), identical to
    # functions/rdf.py:nt_escape; standard SQL single-quoted strings, so
    # backslashes below are literal characters, not escapes.
    _nt_esc = (
        "replace(replace(replace(replace(replace(obj,"
        " '\\', '\\\\'), '\"', '\\\"'),"
        " chr(10), '\\n'), chr(13), '\\r'), chr(9), '\\t')"
    )
    _obj_term_sql = (
        "CASE WHEN regexp_matches(obj, '^https?://')"
        " THEN '<' || obj || '>'"
        f" ELSE '\"' || {_nt_esc} || '\"' END"
    )

    sql["nt_lines"] = nif_tri_ctes + f"""
SELECT '<' || subj || '> <' || pred || '> ' || {_obj_term_sql} || ' .'
       AS line
FROM tri
"""

    sql["trig_blocks"] = nif_tri_ctes + f""",
gpo AS (
  SELECT 'http://graphs/' || pred AS graph, subj,
         '<' || pred || '> ' || {_obj_term_sql} AS po
  FROM tri
),
stmt AS (
  SELECT graph, subj,
         '  <' || subj || '> ' ||
         string_agg(po, ' ;' || chr(10) || '    ' ORDER BY po) || ' .'
         AS s
  FROM gpo GROUP BY graph, subj
)
SELECT graph,
       '<' || graph || '> {{' || chr(10) ||
       string_agg(s, chr(10) ORDER BY s) || chr(10) || '}}' AS block
FROM stmt GROUP BY graph
"""

    sql["nquads_lines"] = nif_tri_ctes + f"""
SELECT '<' || subj || '> <' || pred || '> ' || {_obj_term_sql}
       || ' <http://graphs/' || pred || '> .' AS line
FROM tri
"""

    sql["turtle_blocks"] = nif_tri_ctes + f""",
po AS (
  SELECT subj, '<' || pred || '> ' || {_obj_term_sql} AS po FROM tri
)
SELECT subj,
       '<' || subj || '> ' ||
       string_agg(po, ' ;' || chr(10) || '    ' ORDER BY po) || ' .'
       AS block
FROM po GROUP BY subj
"""

    # jsonld_nodes: IRI objects become {"@id": iri} references, literal
    # objects JSON strings (same escape chain as N-Triples — identical
    # on this char set); values sort inside a predicate, predicate
    # entries sort inside the node
    _jsonld_val = (
        "CASE WHEN regexp_matches(obj, '^https?://')"
        " THEN '{\"@id\":\"' || obj || '\"}'"
        f" ELSE '\"' || {_nt_esc} || '\"' END"
    )
    sql["jsonld_nodes"] = nif_tri_ctes + f""",
v AS (SELECT subj, pred, {_jsonld_val} AS val FROM tri),
pe AS (
  SELECT subj,
         '"' || pred || '":[' || string_agg(val, ',' ORDER BY val) || ']'
         AS entry
  FROM v GROUP BY subj, pred
)
SELECT subj,
       '{{"@id":"' || subj || '",' ||
       string_agg(entry, ',' ORDER BY entry) || '}}' AS node
FROM pe GROUP BY subj
"""

    # rdfxml_blocks: predicate splits at its trailing NCName; the
    # property element declares its namespace inline; IRI objects ->
    # rdf:resource attributes, literals -> escaped text content;
    # elements sort inside the block (same ORDER BY elem = array_sort)
    _xe_ns = ('replace(replace(replace(replace(substring(pred, 1, length(pred) - length(lraw)), \'&\',\'&amp;\'),\'<\',\'&lt;\'),\'>\',\'&gt;\'),\'"\',\'&quot;\')')
    _xe_obj = ('replace(replace(replace(replace(obj, \'&\',\'&amp;\'),\'<\',\'&lt;\'),\'>\',\'&gt;\'),\'"\',\'&quot;\')')
    _xe_subj = ('replace(replace(replace(replace(subj, \'&\',\'&amp;\'),\'<\',\'&lt;\'),\'>\',\'&gt;\'),\'"\',\'&quot;\')')
    sql["rdfxml_blocks"] = nif_tri_ctes + f""",
sp AS (
  SELECT subj, pred, obj,
         regexp_extract(pred, '([A-Za-z_][A-Za-z0-9_.-]*)$', 1) AS lraw
  FROM tri
),
el AS (
  SELECT subj,
         CASE WHEN lraw = '' THEN '_p' ELSE lraw END AS loc,
         {_xe_ns} AS ns, obj FROM sp
),
ex AS (
  SELECT subj,
         CASE WHEN regexp_matches(obj, '^https?://')
              THEN '<n:' || loc || ' xmlns:n="' || ns ||
                   '" rdf:resource="' || {_xe_obj} || '"/>'
              ELSE '<n:' || loc || ' xmlns:n="' || ns || '">' ||
                   {_xe_obj} || '</n:' || loc || '>'
         END AS elem
  FROM el
)
SELECT subj,
       '<rdf:Description rdf:about="' || {_xe_subj} || '">' || chr(10) ||
       '    ' || string_agg(elem, chr(10) || '    ' ORDER BY elem) ||
       chr(10) || '</rdf:Description>' AS block
FROM ex GROUP BY subj
"""

    sql["m1_uri_counts"] = _BASE_CTES + (
        "SELECT uri, count(*) AS support FROM occs GROUP BY uri"
    )

    sql["m2_sf_total_counts"] = _BASE_CTES + """
SELECT a.surface_form, a.annotated_count,
       coalesce(t.total_count, -1) AS total_count
FROM (SELECT surface_form, count(*) AS annotated_count FROM occs
      GROUP BY surface_form) a
LEFT JOIN (SELECT surface_form, count(*) AS total_count FROM spots
           GROUP BY surface_form) t USING (surface_form)
"""

    sql["m3_pair_counts"] = _BASE_CTES + (
        "SELECT surface_form, uri, count(*) AS pair_count "
        "FROM occs GROUP BY surface_form, uri"
    )

    sql["m5_occurrences_count"] = _BASE_CTES + """
SELECT uri, count(*) AS occ_count,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
FROM occs GROUP BY uri
"""

    sql["m6_cooccurrence"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs)
SELECT a.uri AS src_uri, b.uri AS dst_uri, count(*) AS n_cooc
FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
GROUP BY a.uri, b.uri HAVING count(*) >= 3
"""

    # graph_triangles: canonical a<b edges -> wedge + closing-edge joins
    # (orientation is a plan choice; the triangle SET is orientation-free)
    sql["graph_triangles"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS a, b.uri AS b
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 3
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM ed e1
  JOIN ed e2 ON e2.a = e1.b
  JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (SELECT unnest([x, y, z]) AS uri FROM tri)
SELECT uri, count(*)::BIGINT AS n_triangles FROM corners GROUP BY uri
"""

    sql["m7_sorted_occurrences"] = _BASE_CTES + """
SELECT uri, string_agg(surface_form, ',' ORDER BY surface_form) AS sfs
FROM occs GROUP BY uri
"""

    sql["m8_redirect_closure"] = f"""
WITH RECURSIVE redir(src_uri, dst_uri) AS (VALUES {_redirect_values()}),
walk(src_uri, final_uri) AS (
  SELECT src_uri, dst_uri FROM redir
  UNION ALL
  SELECT w.src_uri, e.dst_uri FROM walk w
  JOIN redir e ON w.final_uri = e.src_uri
)
SELECT src_uri, final_uri FROM walk
WHERE final_uri NOT IN (SELECT src_uri FROM redir)
"""

    sql["s13_lexicalizations"] = _BASE_CTES + """,
pairs AS (SELECT surface_form, uri, count(*) AS pair_count
          FROM occs GROUP BY surface_form, uri),
uc AS (SELECT uri, sum(pair_count) AS uri_count FROM pairs GROUP BY uri),
sc AS (SELECT surface_form, sum(pair_count) AS sf_count
       FROM pairs GROUP BY surface_form),
tt AS (SELECT sum(pair_count) AS total FROM pairs)
SELECT p.uri, p.surface_form,
  round(p.pair_count / u.uri_count, 6) AS sf_given_uri,
  round(ln((p.pair_count / t.total) /
        ((u.uri_count / t.total) * (s.sf_count / t.total))), 6) AS pmi,
  round((p.pair_count / u.uri_count) * (u.uri_count / t.total)
        / (s.sf_count / t.total), 6) AS uri_given_sf
FROM pairs p
JOIN uc u USING (uri) JOIN sc s USING (surface_form) CROSS JOIN tt t
WHERE p.pair_count >= 5
"""

    sql["dedup_exact"] = r"""
WITH h AS (
  SELECT doc_id,
         sha256(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS text_hash
  FROM documents
)
SELECT text_hash, count(*) AS n_dups, min(doc_id) AS keep_id,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
FROM h GROUP BY text_hash HAVING count(*) > 1
"""

    sql["spot_selectors"] = _BASE_CTES + """
SELECT doc_id, pos, surface_form FROM spots
WHERE length(surface_form) >= 5
  AND lower(surface_form) NOT IN ('table', 'query')
"""

    sql["f8_narrow_context"] = _BASE_CTES + f""",
tkc AS (
  SELECT doc_id, pos AS tok_idx, token AS stem, {_SQL_OFFSET} AS off
  FROM tok
),
occ_sel AS (
  SELECT doc_id, pos AS occ_idx, {_SQL_OFFSET} AS occ_offset
  FROM occs WHERE surface_form = 'spark'
)
SELECT o.doc_id, o.occ_offset, t.tok_idx, t.stem
FROM occ_sel o JOIN tkc t ON o.doc_id = t.doc_id
WHERE t.tok_idx BETWEEN o.occ_idx - 3 AND o.occ_idx + 3
"""

    stop_lower = ", ".join(f"'{s}'" for s in _EN_STOP)
    sql["m14_aux_stats"] = _BASE_CTES + rf""",
du AS (SELECT DISTINCT doc_id, uri FROM occs),
utc AS (
  SELECT d.uri, t.token, count(*) AS cnt
  FROM tok t JOIN du d ON t.doc_id = d.doc_id
  WHERE lower(t.token) NOT IN ({stop_lower})
  GROUP BY d.uri, t.token
),
rk AS (
  SELECT *, row_number() OVER (
    PARTITION BY uri ORDER BY cnt DESC, token ASC) AS rk
  FROM utc
),
sig AS (
  SELECT uri, string_agg(token, ' ' ORDER BY rk) AS keywords
  FROM rk WHERE rk <= 3 GROUP BY uri
),
mu AS (
  SELECT DISTINCT uri,
    CASE WHEN regexp_matches(replace(uri, '_', ' '), '^(.+?) \((.+?)\)$')
      THEN '+"' || regexp_extract(replace(uri, '_', ' '),
                                  '^(.+?) \((.+?)\)$', 1)
           || '" +"' || regexp_extract(replace(uri, '_', ' '),
                                       '^(.+?) \((.+?)\)$', 2) || '"'
      ELSE '+"' || replace(uri, '_', ' ') || '"' END AS must
  FROM utc
),
wq AS (
  SELECT uri, string_agg(token, ' ' ORDER BY rk2) AS kw2
  FROM (
    SELECT c.uri, c.token, row_number() OVER (
        PARTITION BY c.uri ORDER BY c.rk) AS rk2
    FROM rk c JOIN mu m ON c.uri = m.uri
    WHERE c.rk <= 6 AND NOT contains(lower(m.must), lower(c.token))
  ) WHERE rk2 <= 3 GROUP BY uri
)
SELECT s.uri, s.keywords, m.must, m.must || ' ' || w.kw2 AS query
FROM sig s JOIN mu m ON s.uri = m.uri JOIN wq w ON s.uri = w.uri
"""

    sql["wiki_dump_source"] = """
WITH d AS (SELECT doc_id, text, length(text) AS L FROM documents)
SELECT 'Doc_' || doc_id::VARCHAR || '-p2' AS doc_id, L + 5 AS "offset",
       'spark' AS surface_form, 'Apache_Spark' AS uri,
       1.0::DOUBLE AS confidence
FROM d
UNION ALL
SELECT 'Doc_' || doc_id::VARCHAR || '-p2', L + 15,
       'Paris', 'The_Paris_(city)', 1.0::DOUBLE
FROM d
"""

    sql["wikilink_corpus"] = """
SELECT doc_id::VARCHAR AS doc_id, 0 AS offset,
       'spark' AS surface_form, 'Apache_Spark' AS uri,
       1.0::DOUBLE AS confidence
FROM documents
UNION ALL
SELECT doc_id::VARCHAR, length(text) + 19, 'Paris', 'Paris', 1.0::DOUBLE
FROM documents
"""

    # Flagship relational twin: model build + candidate join + prior scoring
    # + NIL filter + rank + softmax, all from the micro-world occs.
    # The CTE chain is shared with the eval_linking oracle below.
    _PRIOR_CTES = _BASE_CTES + f""",
occ2 AS (SELECT doc_id::VARCHAR AS doc_id, surface_form, uri FROM occs),
sfs AS (SELECT surface_form, count(*)::DOUBLE AS annotated_count
        FROM occ2 GROUP BY surface_form),
res AS (
  SELECT uri, n AS support,
         (row_number() OVER (ORDER BY uri) - 1)::INT AS res_id
  FROM (SELECT uri, count(*) AS n FROM occ2 GROUP BY uri)
),
cand AS (SELECT surface_form, uri, count(*)::DOUBLE AS pair_count
         FROM occ2 GROUP BY surface_form, uri),
tot AS (SELECT count(*)::DOUBLE AS total FROM occ2),
spots2 AS (
  SELECT doc_id::VARCHAR AS doc_id, 0 AS span_pos,
         ({_SQL_OFFSET})::INT AS off, surface_form
  FROM spots
),
scored AS (
  SELECT s.doc_id, s.span_pos, s.off, s.surface_form,
         r.uri, r.res_id, r.support,
         ln(r.support / t.total) + ln(c.pair_count / f.annotated_count)
           AS score,
         ln(1.0 / t.total) AS nil_score
  FROM spots2 s
  JOIN sfs f USING (surface_form)
  JOIN cand c USING (surface_form)
  JOIN res r ON c.uri = r.uri
  CROSS JOIN tot t
),
ranked AS (
  SELECT *, row_number() OVER (
      PARTITION BY doc_id, span_pos, off
      ORDER BY score DESC, res_id ASC) AS rank
  FROM scored WHERE score > nil_score
)"""

    sql["annotate_prior"] = _PRIOR_CTES + """
SELECT doc_id, span_pos, off AS "offset", surface_form, uri,
  round(exp(score - (greatest(score, nil_score)
    + ln(exp(score - greatest(score, nil_score))
        + exp(nil_score - greatest(score, nil_score))))), 6)
    AS similarity_score,
  (-1.0)::DOUBLE AS percentage_second_rank,
  (0.5)::DOUBLE AS contextual_score,
  res_id, support, rank
FROM ranked WHERE rank = 1
"""

    sql["m4_token_counts"] = _BASE_CTES + """
SELECT u.uri, t.stem, count(*)::BIGINT AS count
FROM (SELECT doc_id::VARCHAR AS doc_id, unnest(toks) AS stem FROM tk) t
JOIN (SELECT DISTINCT doc_id::VARCHAR AS doc_id, uri FROM occs) u
  ON t.doc_id = u.doc_id
GROUP BY u.uri, t.stem
"""

    sql["m10_concepts"] = _BASE_CTES + """,
occ2 AS (SELECT doc_id::VARCHAR AS doc_id, surface_form, uri FROM occs),
sfd AS (
  SELECT surface_form,
         (row_number() OVER (ORDER BY surface_form) - 1)::INT AS sf_id
  FROM (SELECT DISTINCT surface_form FROM occ2)
),
resd AS (
  SELECT uri, n::BIGINT AS support,
         (row_number() OVER (ORDER BY uri) - 1)::INT AS res_id
  FROM (SELECT uri, count(*) AS n FROM occ2 GROUP BY uri)
)
SELECT s.sf_id, p.surface_form, r.res_id, p.uri,
       p.n::BIGINT AS pair_count, r.support
FROM (SELECT surface_form, uri, count(*) AS n
      FROM occ2 GROUP BY surface_form, uri) p
JOIN sfd s USING (surface_form)
JOIN resd r USING (uri)
"""

    # Real-codec round trip: the Spark side encodes a formula PNG per doc
    # (encode_png: deflate) and decodes it with the real PNG path
    # (inflate + unfilter); the oracle computes the same per-band pixel
    # sums in closed form, so any codec defect breaks the hash. Band b is
    # image row b (8 bands x 16 px rows); v = (doc_id%256 + 17y + 5x)%256.
    sql["media_features"] = """
WITH px AS (
  SELECT d.doc_id,
         (r.range // 16)::INT AS band,
         (d.doc_id % 256 + 17 * (r.range // 16) + 5 * (r.range % 16)) % 256 AS v
  FROM documents d, range(0, 128) r
)
SELECT 'img://' || CAST(doc_id AS VARCHAR) AS media_ref,
       16 AS width, 8 AS height, 1 AS n_frames,
       band, SUM(v)::BIGINT AS band_sum
FROM px
GROUP BY doc_id, band
"""

    # quota_sample (packing.py): row_number over the identical md5 order,
    # quota CASE per stratum; ties impossible (md5 of distinct ids).
    sql["quota_sample"] = """
WITH ranked AS (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents
)
SELECT doc_id, source FROM ranked
WHERE rk <= CASE source
            WHEN 'src0' THEN 100 WHEN 'src1' THEN 10 WHEN 'src2' THEN 3
            ELSE 5 END
"""

    # nfc_normalize: two independent NFC implementations (Python
    # unicodedata vs DuckDB nfc_normalize) must agree byte-for-byte on
    # injected decomposed sequences; chr(769)/chr(778) are the combining
    # acute/ring codepoints of the Spark-side escape literal.
    sql["nfc_normalize"] = """
WITH injected AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0
              THEN text || ' cafe' || chr(769) || ' A' || chr(778)
              ELSE text END AS text
  FROM documents
)
SELECT doc_id,
       md5(nfc_normalize(text)) AS text_md5,
       nfc_normalize(text) <> text AS changed
FROM injected
"""

    # winnow_docs (textstats.py:winnow_fingerprints): grams via lead()s,
    # md5-tail 32-bit hashes (the simhash idiom), frame-window min, then
    # the rightmost-argmin join; full windows only.
    sql["winnow_docs"] = """
WITH tok AS (
  SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS tok
  FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents)
),
gr AS (
  SELECT doc_id, pos,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
             || ' ' || lead(tok, 3) OVER w AS gram,
         lead(tok, 3) OVER w AS _last
  FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
g AS (
  SELECT doc_id, pos, ('0x' || substr(md5(gram), 17, 8))::BIGINT AS h
  FROM gr WHERE _last IS NOT NULL
),
st AS (
  SELECT doc_id, pos AS s,
         min(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS m,
         count(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM g
)
SELECT DISTINCT st.doc_id, sel.pos, st.m AS h
FROM st JOIN LATERAL (
  SELECT max(g.pos) AS pos
  FROM g
  WHERE g.doc_id = st.doc_id AND g.h = st.m
    AND g.pos >= st.s AND g.pos < st.s + 4
) sel ON TRUE
WHERE st.s <= st.n_grams - 4
"""

    # kg_two_hop (operators/graph.py:two_hop_pairs): symmetrized wedge
    # join, canonical x < z, minus existing edges.
    # kg_bgp: the BGP as a conjunctive SQL query — each triple pattern
    # is one self-join of the derived triple relation on the shared var
    sql["kg_bgp"] = """
WITH tr AS (
  SELECT 'c' || c_custkey::VARCHAR AS subj, 'inNation' AS pred,
         'n' || c_nationkey::VARCHAR AS obj FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'segment', c_mktsegment FROM customer
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'inRegion',
         'r' || n_regionkey::VARCHAR FROM nation
  UNION ALL
  SELECT 'r' || r_regionkey::VARCHAR, 'named', r_name FROM region
)
SELECT DISTINCT p1.subj AS c, p2.obj AS n, p3.obj AS r, p4.obj AS rname
FROM tr p1
JOIN tr p2 ON p2.subj = p1.subj AND p2.pred = 'inNation'
JOIN tr p3 ON p3.subj = p2.obj AND p3.pred = 'inRegion'
JOIN tr p4 ON p4.subj = p3.obj AND p4.pred = 'named'
WHERE p1.pred = 'segment' AND p1.obj = 'BUILDING'
"""

    # kg_bfs: bounded-depth recursive reachability; UNION (distinct)
    # dedupes (node, dist) pairs per step so cycles can't blow up the
    # working set; min() collapses to the shortest hop count
    sql["kg_bfs"] = "WITH RECURSIVE" + _BASE_CTES.lstrip()[4:] + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
sym AS (SELECT s AS u, d AS v FROM ed UNION ALL SELECT d, s FROM ed),
walk(node, dist) AS (
  SELECT min(u), 0 FROM sym
  UNION
  SELECT s.v, w.dist + 1 FROM walk w JOIN sym s ON s.u = w.node
  WHERE w.dist < 3
)
SELECT node, min(dist)::INT AS dist FROM walk GROUP BY node
"""

    # kg_pagerank: 3 weighted power iterations unrolled (d16 pattern);
    # the symmetrized graph has no dangling nodes so the reset term is
    # (1-α)/N exactly; 6-dp rounding absorbs float-literal ulps
    _pr_round = """
c{t} AS (
  SELECT nm.v AS node, sum(r.rank * nm.p) AS infl
  FROM r{p} r JOIN norm nm ON nm.u = r.node GROUP BY 1
),
r{t} AS (
  SELECT nd.node,
         0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.infl, 0) AS rank
  FROM nd LEFT JOIN c{t} c USING (node)
)"""
    sql["kg_pagerank"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d, count(*)::DOUBLE AS w
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
sym AS (SELECT s AS u, d AS v, w FROM ed UNION ALL SELECT d, s, w FROM ed),
outw AS (SELECT u, sum(w) AS ow FROM sym GROUP BY u),
norm AS (SELECT s.u, s.v, s.w / o.ow AS p FROM sym s JOIN outw o USING (u)),
nd AS (SELECT DISTINCT u AS node FROM sym),
nn AS (SELECT count(*) AS n FROM nd),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nd),""" + ",".join(
        _pr_round.format(t=t, p=t - 1) for t in (1, 2, 3)
    ) + """
SELECT node, round(rank, 6) AS rank FROM r3
"""

    # kg_communities: 3 synchronous LPA rounds unrolled — per round one
    # neighbor-label count groupBy + per-node argmax (count desc, label
    # asc), exactly the Spark window
    _lpa_round = """
c{t} AS (
  SELECT s.v AS node, l.label, count(*) AS c
  FROM l{p} l JOIN sym s ON s.u = l.node GROUP BY 1, 2
),
l{t} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rn
    FROM c{t}) WHERE rn = 1
)"""
    sql["kg_communities"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
sym AS (SELECT s AS u, d AS v FROM ed UNION SELECT d, s FROM ed),
l0 AS (SELECT DISTINCT u AS node, u AS label FROM sym),""" + ",".join(
        _lpa_round.format(t=t, p=t - 1) for t in (1, 2, 3)
    ) + """
SELECT node, label FROM l3
"""

    # entity_salience: the two D&G'14 features + multiplicative score;
    # integer counts -> identical float64 ops in both engines
    sql["entity_salience"] = _BASE_CTES + """,
per AS (
  SELECT doc_id, uri, count(*)::BIGINT AS n_mentions,
         min(pos)::BIGINT AS first_pos
  FROM occs GROUP BY 1, 2
),
doc AS (
  SELECT doc_id, count(*) AS dm, max(pos) AS mp FROM occs GROUP BY 1
)
SELECT p.doc_id, p.uri, p.n_mentions, p.first_pos,
       round(p.n_mentions / CAST(d.dm AS DOUBLE), 6) AS mention_frac,
       round((p.n_mentions / CAST(d.dm AS DOUBLE))
             * (1.0 - p.first_pos / CAST(d.mp + 1 AS DOUBLE)), 6) AS score
FROM per p JOIN doc d USING (doc_id)
"""

    # emerging_entities: NIL mentions (prior < 0.5) clustered on the
    # normalized surface form, one new id per cluster
    sql["emerging_entities"] = _BASE_CTES + r""",
nil AS (
  SELECT regexp_replace(lower(trim(surface_form)), '\s+', ' ', 'g') AS sfn,
         doc_id
  FROM occs WHERE prior < 0.5
)
SELECT 'NEW:' || sfn AS entity_id, sfn AS surface_form_norm,
       count(*)::BIGINT AS n_mentions,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM nil GROUP BY sfn
"""

    # kg_components: recursive reachability closure, component = min
    # reachable node (least with self — singleton edges keep their node)
    sql["kg_components"] = "WITH RECURSIVE" + _BASE_CTES.lstrip()[4:] + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
e AS (SELECT s, d FROM ed UNION SELECT d, s FROM ed),
walk(node, reach) AS (
  SELECT s, d FROM e
  UNION
  SELECT w.node, e2.d FROM walk w JOIN e e2 ON w.reach = e2.s
)
SELECT node, least(min(reach), node) AS component FROM walk GROUP BY node
"""

    # kg_kcore: 3 synchronous peel rounds unrolled — per round one
    # degree HAVING filter + a two-sided semijoin of the edge set
    # against the surviving nodes (the Spark loop verbatim)
    _peel_round = """
k{t} AS (SELECT u FROM s{p} GROUP BY u HAVING count(*) >= 2),
s{t} AS (
  SELECT s.u, s.v FROM s{p} s
  JOIN k{t} a ON a.u = s.u JOIN k{t} b ON b.u = s.v
)"""
    sql["kg_kcore"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
s0 AS (SELECT s AS u, d AS v FROM ed UNION SELECT d, s FROM ed),""" + ",".join(
        _peel_round.format(t=t, p=t - 1) for t in (1, 2, 3)
    ) + """
SELECT u AS node, count(*)::BIGINT AS degree
FROM s3 GROUP BY u HAVING count(*) >= 2
"""

    # kg_property_table / kg_schema_summary: the shared customer KG CTE,
    # then a min(CASE WHEN) pivot / double type join + GROUP BY
    sql["kg_property_table"] = f"""
WITH tri AS ({_CUSTOMER_KG_SQL})
SELECT subj,
       min(CASE WHEN pred = 'inNation' THEN obj END) AS innation,
       min(CASE WHEN pred = 'hasSegment' THEN obj END) AS hassegment,
       min(CASE WHEN pred = 'placed' THEN obj END) AS placed,
       count(*)::BIGINT AS n_triples
FROM tri GROUP BY subj
"""

    sql["kg_schema_summary"] = f"""
WITH tri AS ({_CUSTOMER_KG_SQL}),
types AS (SELECT subj AS node, obj AS cls FROM tri WHERE pred = 'rdf:type'),
ed AS (SELECT subj, pred, obj FROM tri WHERE pred != 'rdf:type')
SELECT coalesce(ts.cls, 'untyped') AS subj_type, e.pred,
       coalesce(tb.cls, 'untyped') AS obj_type, count(*)::BIGINT AS n
FROM ed e
LEFT JOIN types ts ON ts.node = e.subj
LEFT JOIN types tb ON tb.node = e.obj
GROUP BY 1, 2, 3
"""

    sql["kg_predicate_profile"] = f"""
WITH tri AS ({_CUSTOMER_KG_SQL}),
ed AS (
  SELECT pred, subj, obj,
         CASE WHEN regexp_matches(obj, '^-?\\d+$') THEN 'integer'
              WHEN regexp_matches(obj, '^-?\\d+\\.\\d+$') THEN 'decimal'
              WHEN regexp_matches(obj, '^\\d{{4}}-\\d{{2}}-\\d{{2}}$')
                THEN 'date'
              ELSE 'string' END AS dt
  FROM tri WHERE pred != 'rdf:type'
),
dom AS (
  SELECT pred, dt AS dominant_dtype, c AS dom_c FROM (
    SELECT pred, dt, count(*) AS c,
           row_number() OVER (PARTITION BY pred
                              ORDER BY count(*) DESC, dt) AS rn
    FROM ed GROUP BY pred, dt
  ) WHERE rn = 1
),
st AS (
  SELECT pred, count(*)::BIGINT AS n_triples,
         count(DISTINCT subj)::BIGINT AS n_subjects,
         count(DISTINCT obj)::BIGINT AS n_objects
  FROM ed GROUP BY pred
)
SELECT st.pred, n_triples, n_subjects, n_objects,
       round(n_subjects::DOUBLE / n_triples, 6) AS functionality,
       round(n_objects::DOUBLE / n_triples, 6) AS inverse_functionality,
       dominant_dtype,
       round(dom_c::DOUBLE / n_triples, 6) AS dtype_share
FROM st JOIN dom ON dom.pred = st.pred
"""

    # kg_fastrp: md5-deterministic projection + two D^-1·A hops,
    # replayed end-to-end — embedding values compared by hash
    sql["kg_fastrp"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
sym AS (SELECT s AS src, d AS dst FROM ed UNION ALL SELECT d, s FROM ed),
nd AS (SELECT DISTINCT src AS node FROM sym
       UNION SELECT DISTINCT dst FROM sym),
rp AS (
  SELECT node, j,
         CASE b WHEN 0 THEN sqrt(3) WHEN 1 THEN -sqrt(3) END AS r
  FROM (
    SELECT node, j,
           ('0x' || substr(md5(node || chr(31) || j::VARCHAR), 1, 12))
             ::BIGINT % 6 AS b
    FROM nd, (SELECT unnest(generate_series(0, 3)) AS j)
  )
  WHERE b <= 1
),
deg AS (SELECT src, count(*) AS dg FROM sym GROUP BY 1),
h1 AS (
  SELECT s.src AS node, r.j, sum(r.r / deg.dg) AS v
  FROM sym s JOIN rp r ON r.node = s.dst JOIN deg ON deg.src = s.src
  GROUP BY 1, 2
),
h2 AS (
  SELECT s.src AS node, p.j, sum(p.v / deg.dg) AS v
  FROM sym s JOIN h1 p ON p.node = s.dst JOIN deg ON deg.src = s.src
  GROUP BY 1, 2
)
SELECT coalesce(h1.node, h2.node) AS node,
       coalesce(h1.j, h2.j)::INT AS j,
       round(1.0 * coalesce(h1.v, 0) + 2.0 * coalesce(h2.v, 0), 6) AS value
FROM h1 FULL OUTER JOIN h2 ON h1.node = h2.node AND h1.j = h2.j
"""

    sql["events_funnel"] = """
WITH s0 AS (
  SELECT user_id AS u, min(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY 1
),
s1 AS (
  SELECT e.user_id AS u, min(e.ts) AS t
  FROM events e JOIN s0 ON s0.u = e.user_id AND e.ts > s0.t
  WHERE e.event_type = 'click' GROUP BY 1
),
s2 AS (
  SELECT e.user_id AS u, min(e.ts) AS t
  FROM events e JOIN s1 ON s1.u = e.user_id AND e.ts > s1.t
  WHERE e.event_type = 'purchase' GROUP BY 1
)
SELECT 0 AS step_idx, 'view' AS step,
       (SELECT count(*) FROM s0)::BIGINT AS n_users
UNION ALL
SELECT 1, 'click', (SELECT count(*) FROM s1)::BIGINT
UNION ALL
SELECT 2, 'purchase', (SELECT count(*) FROM s2)::BIGINT
"""

    sql["events_retention"] = """
WITH pu AS (
  SELECT user_id AS u, date_trunc('week', min(ts)) AS cohort
  FROM events GROUP BY 1
),
act AS (
  SELECT DISTINCT user_id AS u, date_trunc('week', ts) AS p FROM events
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort,
       (date_diff('day', cohort, p) // 7)::BIGINT AS period_offset,
       count(DISTINCT u)::BIGINT AS n_users
FROM act JOIN pu USING (u)
GROUP BY 1, 2
"""

    sql["kg_void_stats"] = f"""
WITH tri AS ({_CUSTOMER_KG_SQL})
SELECT count(*)::BIGINT AS n_triples,
       count(DISTINCT subj)::BIGINT AS n_subjects,
       count(DISTINCT obj)::BIGINT AS n_objects,
       count(DISTINCT pred)::BIGINT AS n_properties,
       count(DISTINCT CASE WHEN pred = 'rdf:type' THEN obj END)::BIGINT
         AS n_classes
FROM tri
"""

    sql["kg_path_profile"] = """
WITH ed AS (
  SELECT 'c' || c_custkey::VARCHAR AS subj, 'inNation' AS pred,
         'n' || c_nationkey::VARCHAR AS obj FROM customer
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'inRegion',
         'r' || n_regionkey::VARCHAR FROM nation
)
SELECT a.pred AS pred1, b.pred AS pred2, count(*)::BIGINT AS n
FROM ed a JOIN ed b ON a.obj = b.subj
GROUP BY 1, 2
"""

    # kg_owl_entailment: the rule set unrolled — within closure is
    # depth 2 (one join round), contains = swap of ALL within,
    # borders = both directions
    sql["kg_owl_entailment"] = """
WITH w AS (
  SELECT 'c' || c_custkey::VARCHAR AS subj,
         'n' || c_nationkey::VARCHAR AS obj FROM customer
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'r' || n_regionkey::VARCHAR
  FROM nation
),
wc AS (
  SELECT subj, obj FROM w
  UNION
  SELECT a.subj, b.obj FROM w a JOIN w b ON a.obj = b.subj
),
bo AS (
  SELECT 'n' || n_nationkey::VARCHAR AS subj,
         'n' || (n_nationkey + 1)::VARCHAR AS obj
  FROM nation WHERE n_nationkey < 24
)
SELECT DISTINCT * FROM (
  SELECT subj, 'within' AS pred, obj FROM wc
  UNION ALL
  SELECT obj, 'contains', subj FROM wc
  UNION ALL
  SELECT subj, 'borders', obj FROM bo
  UNION ALL
  SELECT obj, 'borders', subj FROM bo
)
"""

    sql["kg_direct_mapping"] = """
SELECT 'nation/n_nationkey=' || n_nationkey::VARCHAR AS subj,
       'nation#n_name' AS pred, n_name AS obj
FROM nation WHERE n_name IS NOT NULL
UNION ALL
SELECT 'nation/n_nationkey=' || n_nationkey::VARCHAR,
       'nation#n_regionkey', n_regionkey::VARCHAR
FROM nation WHERE n_regionkey IS NOT NULL
UNION ALL
SELECT 'nation/n_nationkey=' || n_nationkey::VARCHAR,
       'rdf:type', 'nation'
FROM nation
"""

    sql["kg_dangling"] = f"""
WITH tri AS ({_CUSTOMER_KG_SQL}),
subjects AS (SELECT DISTINCT subj AS s FROM tri),
ed AS (SELECT pred, obj FROM tri WHERE pred != 'rdf:type')
SELECT pred, count(*)::BIGINT AS n_edges,
       sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_dangling,
       round(sum(CASE WHEN s IS NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS dangling_ratio
FROM ed LEFT JOIN subjects ON subjects.s = ed.obj
GROUP BY pred
"""

    sql["kg_update"] = f"""
WITH tri AS ({_CUSTOMER_KG_SQL}),
b AS (
  SELECT 'c' || c_custkey::VARCHAR AS subj FROM customer
  WHERE c_mktsegment = 'BUILDING'
)
SELECT t.subj, t.pred, t.obj
FROM tri t LEFT JOIN b ON b.subj = t.subj
WHERE NOT (t.pred = 'inNation' AND b.subj IS NOT NULL)
UNION
SELECT t.subj, 'wasIn', t.obj
FROM tri t JOIN b ON b.subj = t.subj WHERE t.pred = 'inNation'
"""

    sql["kg_entity_digest"] = f"""
WITH tri AS ({_CUSTOMER_KG_SQL})
SELECT subj, count(*)::BIGINT AS n_facts,
       md5(string_agg(pred || chr(31) || obj, chr(30)
                      ORDER BY pred || chr(31) || obj)) AS digest
FROM tri GROUP BY subj
"""

    sql["kg_fact_ranking"] = f"""
WITH tri AS ({_CUSTOMER_KG_SQL}),
pc AS (SELECT pred, count(*) AS c FROM tri GROUP BY pred),
tot AS (SELECT sum(c)::DOUBLE AS t FROM pc),
scored AS (
  SELECT tri.subj, tri.pred, tri.obj,
         round(-ln(pc.c / tot.t), 6) AS score,
         row_number() OVER (
           PARTITION BY tri.subj
           ORDER BY -ln(pc.c / tot.t) DESC, tri.pred, tri.obj
         ) AS rank
  FROM tri JOIN pc USING (pred) CROSS JOIN tot
)
SELECT subj, pred, obj, score, rank::INT AS rank
FROM scored WHERE rank <= 2
"""

    # trigram_perplexity: trigrams via positional self-joins, ctx counts
    # folded from the gram counts, add-k smoothing with V = |vocab|
    sql["trigram_perplexity"] = r"""
WITH ws AS (
  SELECT doc_id::VARCHAR AS doc_id,
         regexp_split_to_array(trim(lower(text)), '\s+') AS w
  FROM documents
),
pos AS (
  SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS word FROM ws
),
tri AS (
  SELECT a.doc_id,
         a.word || ' ' || b.word || ' ' || c.word AS gram,
         a.word || ' ' || b.word AS ctx
  FROM pos a
  JOIN pos b ON b.doc_id = a.doc_id AND b.i = a.i + 1
  JOIN pos c ON c.doc_id = a.doc_id AND c.i = a.i + 2
),
tric AS (SELECT gram, count(*) AS gn FROM tri GROUP BY 1),
ctxc AS (SELECT ctx, count(*) AS cn FROM tri GROUP BY 1),
v AS (SELECT count(DISTINCT word)::DOUBLE AS vv FROM pos),
doc AS (
  SELECT doc_id, gram, ctx, count(*) AS c FROM tri GROUP BY 1, 2, 3
),
sc AS (
  SELECT d.doc_id, d.c,
         ln((g.gn + 0.1) / (x.cn + 0.1 * v.vv)) AS lp
  FROM doc d
  JOIN tric g USING (gram)
  JOIN ctxc x ON x.ctx = d.ctx
  CROSS JOIN v
)
SELECT doc_id, sum(c)::BIGINT AS n_grams,
       round(sum(c * lp) / sum(c), 6) AS logprob
FROM sc GROUP BY doc_id
"""

    # wiki_kg_extract: constructs the EXPECTED triples straight from the
    # part columns (no re-parsing) — the extractor must invert the
    # markup synthesis exactly
    sql["wiki_kg_extract"] = """
SELECT 'page:' || p_partkey::VARCHAR AS subj, 'rdf:type' AS pred,
       'Infobox:product' AS obj FROM part
UNION ALL
SELECT 'page:' || p_partkey::VARCHAR, 'prop:name', p_name FROM part
UNION ALL
SELECT 'page:' || p_partkey::VARCHAR, 'prop:brand', p_brand FROM part
UNION ALL
SELECT 'page:' || p_partkey::VARCHAR, 'prop:size', p_size::VARCHAR FROM part
UNION ALL
SELECT 'page:' || p_partkey::VARCHAR, 'dcterms:subject',
       'Category:' || replace(p_type, ' ', '_') FROM part
UNION ALL
SELECT 'page:' || p_partkey::VARCHAR, 'dcterms:subject',
       'Category:Brand_' || replace(p_brand, ' ', '_') FROM part
UNION ALL
SELECT 'page:' || p_partkey::VARCHAR, 'owl:sameAs', 'de:' || p_name FROM part
"""

    # kg_sameas: undirected recursive reachability per node, min label =
    # canonical, then the two-sided rewrite with sameAs triples dropped
    sql["kg_sameas"] = """
WITH RECURSIVE tri AS (
  SELECT 's' || s_suppkey::VARCHAR AS subj, 'inNation' AS pred,
         'n' || s_nationkey::VARCHAR AS obj FROM supplier
  UNION ALL
  SELECT 'dup_s' || s_suppkey::VARCHAR, 'owl:sameAs',
         's' || s_suppkey::VARCHAR FROM supplier WHERE s_suppkey % 7 = 0
  UNION ALL
  SELECT 'dup2_s' || s_suppkey::VARCHAR, 'owl:sameAs',
         'dup_s' || s_suppkey::VARCHAR FROM supplier WHERE s_suppkey % 14 = 0
  UNION ALL
  SELECT 'dup_s' || s_suppkey::VARCHAR, 'inNation',
         'n' || s_nationkey::VARCHAR FROM supplier WHERE s_suppkey % 7 = 0
  UNION ALL
  SELECT 'dup2_s' || s_suppkey::VARCHAR, 'hasName', s_name
  FROM supplier WHERE s_suppkey % 14 = 0
),
sa AS (SELECT subj AS a, obj AS b FROM tri WHERE pred = 'owl:sameAs' AND subj != obj),
ed AS (SELECT a AS src, b AS dst FROM sa UNION SELECT b, a FROM sa),
reach(node, t) AS (
  SELECT src, src FROM ed
  UNION
  SELECT r.node, e.dst FROM reach r JOIN ed e ON e.src = r.t
),
canon AS (SELECT node, min(t) AS canonical FROM reach GROUP BY node)
SELECT DISTINCT
  coalesce(cs.canonical, t.subj) AS subj, t.pred,
  coalesce(co.canonical, t.obj) AS obj
FROM tri t
LEFT JOIN canon cs ON cs.node = t.subj
LEFT JOIN canon co ON co.node = t.obj
WHERE t.pred != 'owl:sameAs'
"""

    # kg_diff: the two snapshots as CTEs, then added = new EXCEPT old,
    # removed = old EXCEPT new
    sql["kg_diff"] = """
WITH old AS (
  SELECT 'o' || o_orderkey::VARCHAR AS subj, 'byCustomer' AS pred,
         'c' || o_custkey::VARCHAR AS obj
  FROM orders WHERE o_orderkey % 3 != 0
  UNION ALL
  SELECT 'o' || o_orderkey::VARCHAR, 'hasPriority', o_orderpriority
  FROM orders
),
new AS (
  SELECT 'o' || o_orderkey::VARCHAR AS subj, 'byCustomer' AS pred,
         'c' || o_custkey::VARCHAR AS obj
  FROM orders WHERE o_orderkey % 5 != 0
  UNION ALL
  SELECT 'o' || o_orderkey::VARCHAR, 'hasPriority',
         CASE WHEN o_orderkey % 11 = 0 THEN '0-UPGRADED'
              ELSE o_orderpriority END
  FROM orders
)
SELECT subj, pred, obj, 'added' AS change FROM (
  SELECT subj, pred, obj FROM new EXCEPT SELECT subj, pred, obj FROM old
)
UNION ALL
SELECT subj, pred, obj, 'removed' FROM (
  SELECT subj, pred, obj FROM old EXCEPT SELECT subj, pred, obj FROM new
)
"""

    # kg_closure_delta: the incremental result must equal the
    # from-scratch recursive closure over the UNION edge set
    sql["kg_closure_delta"] = """
WITH RECURSIVE ed AS (
  SELECT 'c' || x.c_custkey::VARCHAR AS src,
         'c' || y.c_custkey::VARCHAR AS dst
  FROM customer x JOIN customer y ON y.c_custkey = x.c_custkey + 1
  WHERE x.c_custkey % 4 != 0
     OR (x.c_custkey % 4 = 0 AND x.c_custkey % 16 != 0)
),
tc(src, dst) AS (
  SELECT src, dst FROM ed
  UNION
  SELECT t.src, e.dst FROM tc t JOIN ed e ON e.src = t.dst
)
SELECT src, dst FROM tc
"""

    # kg_shacl: the three SHACL-core constraint scans as plain SQL —
    # cardinality from one (subj,pred) count left-joined to the focus
    # set, sh:class as a NOT EXISTS against the type assertions
    sql["kg_shacl"] = """
WITH tri AS (
  SELECT 'c' || c_custkey::VARCHAR AS subj, 'rdf:type' AS pred,
         'Customer' AS obj FROM customer
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'inNation',
         'n' || c_nationkey::VARCHAR
  FROM customer WHERE c_custkey % 10 != 0
  UNION ALL
  SELECT 'c' || c_custkey::VARCHAR, 'inNation',
         'n' || ((c_nationkey + 1) % 25)::VARCHAR
  FROM customer WHERE c_custkey % 97 = 0 AND c_custkey % 10 != 0
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'rdf:type', 'Nation'
  FROM nation WHERE n_nationkey < 20
),
types AS (SELECT subj AS node, obj AS cls FROM tri WHERE pred = 'rdf:type'),
focus AS (SELECT node FROM types WHERE cls = 'Customer'),
cnt AS (
  SELECT subj AS node, count(*) AS n FROM tri
  WHERE pred = 'inNation' GROUP BY 1
),
card AS (
  SELECT f.node, coalesce(c.n, 0) AS n FROM focus f LEFT JOIN cnt c USING (node)
)
SELECT DISTINCT * FROM (
  SELECT node AS focus, 'Customer' AS target_class, 'inNation' AS pred,
         'minCount' AS "constraint", '1' AS expected, n::VARCHAR AS actual
  FROM card WHERE n < 1
  UNION ALL
  SELECT node, 'Customer', 'inNation', 'maxCount', '1', n::VARCHAR
  FROM card WHERE n > 1
  UNION ALL
  SELECT t.subj, 'Customer', 'inNation', 'class', 'Nation', t.obj
  FROM tri t JOIN focus f ON f.node = t.subj
  WHERE t.pred = 'inNation' AND NOT EXISTS (
    SELECT 1 FROM types ty WHERE ty.node = t.obj AND ty.cls = 'Nation'
  )
)
"""

    # kg_schema_entailment: recursive subproperty closure, then two
    # rounds of {rdfs7, rdfs2, rdfs3} as UNION-distinct CTEs (the Spark
    # loop verbatim — round 2 catches the domain of derived triples)
    # NOTE: inside a WITH RECURSIVE block DuckDB 1.0 does NOT dedupe
    # chained UNIONs in non-recursive CTEs (verified: VALUES(1),(1)
    # UNION-chained keeps all copies) — hence UNION ALL + explicit
    # SELECT DISTINCT per round
    _rdfs_round = """
t{t} AS (
  SELECT DISTINCT subj, pred, obj FROM (
    SELECT subj, pred, obj FROM t{p}
    UNION ALL
    SELECT t.subj, s.q, t.obj FROM t{p} t JOIN sp s ON s.p = t.pred
    UNION ALL
    SELECT t.subj, 'rdf:type', d.c FROM t{p} t JOIN dom d ON d.p = t.pred
    UNION ALL
    SELECT t.obj, 'rdf:type', r.c FROM t{p} t JOIN rng r ON r.p = t.pred
  )
)"""
    sql["kg_schema_entailment"] = """
WITH RECURSIVE
t0 AS (
  SELECT DISTINCT * FROM (
    SELECT 'c' || c_custkey::VARCHAR AS subj, 'inNation' AS pred,
           'n' || c_nationkey::VARCHAR AS obj FROM customer
    UNION ALL
    SELECT 'n' || n_nationkey::VARCHAR, 'inRegion',
           'r' || n_regionkey::VARCHAR FROM nation
  )
),
spd(p, q) AS (
  VALUES ('inNation', 'locatedIn'), ('inRegion', 'locatedIn'),
         ('locatedIn', 'relatedTo')
),
sp(p, q) AS (
  SELECT p, q FROM spd
  UNION
  SELECT s.p, d.q FROM sp s JOIN spd d ON d.p = s.q
),
dom(p, c) AS (VALUES ('inNation', 'Customer'), ('locatedIn', 'Place')),
rng(p, c) AS (VALUES ('inNation', 'Nation'), ('inRegion', 'Region')),""" + ",".join(
        _rdfs_round.format(t=t, p=t - 1) for t in (1, 2)
    ) + """
SELECT subj, pred, obj FROM t2
"""

    # kg_truss: 3 truss peel rounds unrolled — per round the wedge-
    # closure triangle enumeration, the 3-way per-edge credit count,
    # and the support>=k-2 filter (the Spark loop verbatim; edges are
    # already canonical u<v). MATERIALIZED per level, same reason as
    # kg_hits.
    _truss_round = """
tri{t} AS MATERIALIZED (
  SELECT l.u AS x, l.v AS y, r.v AS z
  FROM s{p} l
  JOIN s{p} r ON l.u = r.u AND l.v < r.v
  JOIN s{p} c ON c.u = l.v AND c.v = r.v
),
sup{t} AS MATERIALIZED (
  SELECT u, v, support FROM (
    SELECT e.u, e.v, coalesce(cr.c, 0) AS support
    FROM s{p} e LEFT JOIN (
      SELECT eu, ev, count(*) AS c FROM (
        SELECT x AS eu, y AS ev FROM tri{t}
        UNION ALL SELECT x, z FROM tri{t}
        UNION ALL SELECT y, z FROM tri{t}
      ) GROUP BY 1, 2
    ) cr ON cr.eu = e.u AND cr.ev = e.v
  ) WHERE support >= 1
),
s{t} AS MATERIALIZED (SELECT u, v FROM sup{t})"""
    sql["kg_truss"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
s0 AS MATERIALIZED (SELECT s AS u, d AS v FROM ed),""" + ",".join(
        _truss_round.format(t=t, p=t - 1) for t in (1, 2, 3)
    ) + """
SELECT u AS src, v AS dst, support::BIGINT AS support FROM sup3
"""

    # kg_hits: 3 HITS iterations unrolled — per iteration an authority
    # pull-sum + scalar L2 norm, then a hub pull-sum + scalar L2 norm
    # (the Spark loop verbatim; 6-dp rounding absorbs sum-order ulps)
    _hits_round = """
aa{t} AS MATERIALIZED (
  SELECT n.node, n.hub, coalesce(ar.a, 0) AS a
  FROM sc{p} n LEFT JOIN (
    SELECT e.d AS node, sum(s.hub) AS a
    FROM sc{p} s JOIN e ON e.s = s.node GROUP BY 1
  ) ar USING (node)
),
ab{t} AS MATERIALIZED (
  SELECT node, hub,
         a / (SELECT sqrt(sum(a * a)) FROM aa{t}) AS auth
  FROM aa{t}
),
ha{t} AS MATERIALIZED (
  SELECT b.node, coalesce(hr.h, 0) AS h, b.auth
  FROM ab{t} b LEFT JOIN (
    SELECT e.s AS node, sum(b2.auth) AS h
    FROM ab{t} b2 JOIN e ON e.d = b2.node GROUP BY 1
  ) hr USING (node)
),
sc{t} AS MATERIALIZED (
  SELECT node, h / (SELECT sqrt(sum(h * h)) FROM ha{t}) AS hub, auth
  FROM ha{t}
)"""
    sql["kg_hits"] = _BASE_CTES + """,
e AS MATERIALIZED (
  SELECT DISTINCT 'doc:' || doc_id::VARCHAR AS s, uri AS d FROM occs
),
nd AS (SELECT s AS node FROM e UNION SELECT d FROM e),
sc0 AS MATERIALIZED (SELECT node, 1.0 AS hub, 1.0 AS auth FROM nd),""" + ",".join(
        _hits_round.format(t=t, p=t - 1) for t in (1, 2, 3)
    ) + """
SELECT node, round(hub, 6) AS hub, round(auth, 6) AS authority FROM sc3
"""

    # kg_bgp_optional: SPARQL left-join algebra — required group LEFT
    # JOIN optional group; FILTER references the required side only so
    # pre- and post-join application agree
    sql["kg_bgp_optional"] = """
WITH tr AS (
  SELECT 'c' || c_custkey::VARCHAR AS subj, 'inNation' AS pred,
         'n' || c_nationkey::VARCHAR AS obj FROM customer
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'inRegion',
         'r' || n_regionkey::VARCHAR FROM nation
  UNION ALL
  SELECT 'r' || r_regionkey::VARCHAR, 'named', r_name FROM region
),
req AS (
  SELECT DISTINCT subj AS c, obj AS n FROM tr WHERE pred = 'inNation'
),
opt AS (
  SELECT DISTINCT p2.subj AS n, p2.obj AS r
  FROM tr p2
  JOIN tr p3 ON p3.subj = p2.obj AND p3.pred = 'named' AND p3.obj = 'ASIA'
  WHERE p2.pred = 'inRegion'
)
SELECT DISTINCT req.c, req.n, opt.r
FROM req LEFT JOIN opt ON opt.n = req.n
WHERE req.n != 'n0'
"""

    # kg_shortest_paths: 3 Bellman-Ford rounds unrolled; same path sums
    # in the same order -> exact replay
    _bf_round = """
d{t} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{p}
    UNION ALL
    SELECT s.v AS node, d.dist + s.w AS dist
    FROM d{p} d JOIN sym s ON s.u = d.node
  ) GROUP BY node
)"""
    sql["kg_shortest_paths"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d, count(*)::DOUBLE AS c
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
sym AS (
  SELECT s AS u, d AS v, 1.0 / c AS w FROM ed
  UNION ALL
  SELECT d, s, 1.0 / c FROM ed
),
d0 AS (SELECT min(u) AS node, 0.0::DOUBLE AS dist FROM sym),""" + ",".join(
        _bf_round.format(t=t, p=t - 1) for t in (1, 2, 3)
    ) + """
SELECT node, round(dist, 6) AS dist FROM d3
"""

    # kg_entity_jaccard: wedge-join candidate pairs, union by
    # inclusion-exclusion on degrees
    sql["kg_entity_jaccard"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 3
),
sym AS (SELECT s AS u, d AS v FROM ed UNION SELECT d, s FROM ed),
deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
wed AS (
  SELECT l.u AS a, r.u AS b, count(*) AS n_common
  FROM sym l JOIN sym r ON l.v = r.v AND l.u < r.u
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT w.a, w.b, w.n_common::BIGINT AS n_common,
       da.deg::BIGINT AS deg_a, db.deg::BIGINT AS deg_b,
       round(w.n_common / CAST(da.deg + db.deg - w.n_common AS DOUBLE), 6)
         AS jaccard
FROM wed w
JOIN deg da ON da.u = w.a
JOIN deg db ON db.u = w.b
"""

    # kg_clustering: C(v) = 2T/(d(d-1)); triangle set is orientation-
    # free, degree from the canonical a<b edge list
    sql["kg_clustering"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS a, b.uri AS b
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 3
),
deg AS (
  SELECT uri AS node, count(*) AS degree
  FROM (SELECT a AS uri FROM ed UNION ALL SELECT b FROM ed)
  GROUP BY 1
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM ed e1
  JOIN ed e2 ON e2.a = e1.b
  JOIN ed e3 ON e3.a = e1.a AND e3.b = e2.b
),
tcnt AS (
  SELECT uri AS node, count(*) AS n_triangles
  FROM (SELECT unnest([x, y, z]) AS uri FROM tri) GROUP BY 1
)
SELECT d.node, d.degree::BIGINT AS degree,
       coalesce(t.n_triangles, 0)::BIGINT AS n_triangles,
       round(2.0 * coalesce(t.n_triangles, 0)
             / (d.degree * (d.degree - 1)), 6) AS coefficient
FROM deg d LEFT JOIN tcnt t USING (node)
WHERE d.degree >= 2
"""

    # kg_bgp_union: branch solutions concatenated, distinct
    sql["kg_bgp_union"] = """
SELECT DISTINCT 'c' || c_custkey::VARCHAR AS e,
       'n' || c_nationkey::VARCHAR AS n
FROM customer
UNION
SELECT 's' || s_suppkey::VARCHAR, 'n' || s_nationkey::VARCHAR
FROM supplier
"""

    # kg_sparql_agg: COUNT over the distinct (c, n) solution set
    sql["kg_sparql_agg"] = """
WITH req AS (
  SELECT DISTINCT 'c' || c_custkey::VARCHAR AS c,
         'n' || c_nationkey::VARCHAR AS n
  FROM customer
)
SELECT n, count(c)::BIGINT AS cnt FROM req GROUP BY n
"""

    # kg_bgp_minus: SPARQL negation == ANTI JOIN on the shared variable
    sql["kg_bgp_minus"] = """
WITH tr AS (
  SELECT 'c' || c_custkey::VARCHAR AS subj, 'inNation' AS pred,
         'n' || c_nationkey::VARCHAR AS obj FROM customer
  UNION ALL
  SELECT 'n' || n_nationkey::VARCHAR, 'inRegion',
         'r' || n_regionkey::VARCHAR FROM nation
),
req AS (
  SELECT DISTINCT subj AS c, obj AS n FROM tr WHERE pred = 'inNation'
),
neg AS (
  SELECT DISTINCT subj AS n FROM tr
  WHERE pred = 'inRegion' AND obj = 'r0'
)
SELECT c, n FROM req ANTI JOIN neg USING (n)
"""

    # kg_property_path: <subClassOf>+ == the recursive closure of the
    # class DAG, with string-keyed nodes
    sql["kg_property_path"] = """
WITH RECURSIVE edges AS (
  SELECT 'k' || p_partkey::VARCHAR AS c,
         'k' || (p_partkey // 2)::VARCHAR AS a
  FROM part WHERE p_partkey >= 2
),
tc AS (
  SELECT c, a FROM edges
  UNION
  SELECT t.c, e.a FROM tc t JOIN edges e ON t.a = e.c
)
SELECT c, a FROM tc
"""

    # kg_degree_hist: log2 of integer degrees is exact at powers of two
    # and >1 ulp from integer boundaries elsewhere -> floor agrees
    sql["kg_degree_hist"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
deg AS (
  SELECT count(*) AS degree FROM du GROUP BY doc_id
  UNION ALL
  SELECT count(*) FROM du GROUP BY uri
)
SELECT floor(log2(degree))::BIGINT AS bucket,
       count(*)::BIGINT AS n_nodes,
       min(degree)::BIGINT AS min_degree,
       max(degree)::BIGINT AS max_degree
FROM deg GROUP BY 1
"""

    # kg_type_entailment: rdfs9 — explicit types UNION types joined
    # through the recursive subclass closure (UNION dedups the diamond)
    sql["kg_type_entailment"] = """
WITH RECURSIVE edges AS (
  SELECT p_partkey::BIGINT AS c, (p_partkey // 2)::BIGINT AS a
  FROM part WHERE p_partkey >= 2
),
tc AS (
  SELECT c, a FROM edges
  UNION
  SELECT t.c, e.a FROM tc t JOIN edges e ON t.a = e.c
),
types AS (
  SELECT 'c' || c_custkey::VARCHAR AS entity,
         (c_custkey % 40 + 2)::BIGINT AS cls
  FROM customer
)
SELECT entity, cls FROM types
UNION
SELECT t.entity, tc.a AS cls FROM types t JOIN tc ON tc.c = t.cls
"""

    # entity_alignment: blocked edit-distance best match — identical
    # blocking predicate, levenshtein, and (distance, name) tie order
    sql["entity_alignment"] = _BASE_CTES + r""",
newe AS (
  SELECT DISTINCT
    regexp_replace(lower(trim(surface_form)), '\s+', ' ', 'g') AS n
  FROM occs WHERE prior < 0.5
),
kb AS (
  SELECT DISTINCT lower(surface_form) AS k FROM dict WHERE prior >= 0.5
),
cand AS (
  SELECT n, k, levenshtein(n, k) AS d
  FROM newe JOIN kb
    ON substr(n, 1, 1) = substr(k, 1, 1)
   AND abs(length(n) - length(k)) <= 1
  WHERE levenshtein(n, k) <= 2
)
SELECT n AS surface_form_norm, k AS kb_match, d::INT AS edit_distance
FROM cand
QUALIFY row_number() OVER (PARTITION BY n ORDER BY d, k) = 1
"""

    # relation_extract: per-gap exact-position joins; NOT EXISTS mirrors
    # the Spark left-anti on entity middle slots
    sql["relation_extract"] = _BASE_CTES + """,
b2 AS (
  SELECT a.uri AS subj_uri, t.token AS pred, b.uri AS obj_uri
  FROM occs a
  JOIN occs b ON b.doc_id = a.doc_id AND b.pos = a.pos + 2
  JOIN tok t ON t.doc_id = a.doc_id AND t.pos = a.pos + 1
  WHERE NOT EXISTS (SELECT 1 FROM occs m
                    WHERE m.doc_id = a.doc_id AND m.pos = a.pos + 1)
),
b3 AS (
  SELECT a.uri AS subj_uri, t1.token || ' ' || t2.token AS pred,
         b.uri AS obj_uri
  FROM occs a
  JOIN occs b ON b.doc_id = a.doc_id AND b.pos = a.pos + 3
  JOIN tok t1 ON t1.doc_id = a.doc_id AND t1.pos = a.pos + 1
  JOIN tok t2 ON t2.doc_id = a.doc_id AND t2.pos = a.pos + 2
  WHERE NOT EXISTS (SELECT 1 FROM occs m
                    WHERE m.doc_id = a.doc_id AND m.pos = a.pos + 1)
    AND NOT EXISTS (SELECT 1 FROM occs m
                    WHERE m.doc_id = a.doc_id AND m.pos = a.pos + 2)
)
SELECT subj_uri, pred, obj_uri, count(*)::BIGINT AS support
FROM (SELECT * FROM b2 UNION ALL SELECT * FROM b3)
GROUP BY 1, 2, 3 HAVING count(*) >= 2
"""

    # heavy_hitters: the exact definition the two-phase MG pass computes
    sql["heavy_hitters"] = _BASE_CTES + """
SELECT token AS item, count(*)::BIGINT AS cnt
FROM tok
GROUP BY token
HAVING count(*) * 30 > (SELECT count(*) FROM tok)
"""

    sql["kg_two_hop"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
sym AS (SELECT s AS u, d AS v FROM ed UNION ALL SELECT d, s FROM ed)
SELECT a.u AS src_uri, b.v AS dst_uri, count(*)::BIGINT AS n_paths
FROM sym a JOIN sym b ON a.v = b.u AND a.u < b.v
ANTI JOIN ed e ON e.s = a.u AND e.d = b.v
GROUP BY 1, 2
"""

    sql["kg_adamic_adar"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
sym AS (SELECT s AS u, d AS v FROM ed UNION ALL SELECT d, s FROM ed),
deg AS (SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY u)
SELECT a.u AS src_uri, b.v AS dst_uri, count(*)::BIGINT AS n_common,
       round(sum(1.0 / ln(m.deg)), 6) AS score
FROM sym a JOIN sym b ON a.v = b.u AND a.u < b.v
JOIN deg m ON m.u = a.v
ANTI JOIN ed e ON e.s = a.u AND e.d = b.v
GROUP BY 1, 2
"""

    sql["kg_graph_summary"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
sym AS (SELECT s AS u, d AS v FROM ed UNION ALL SELECT d, s FROM ed),
deg AS (SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY u),
tri AS (
  SELECT count(*)::BIGINT AS t FROM ed e1
  JOIN ed e2 ON e2.s = e1.s AND e2.d > e1.d
  JOIN ed e3 ON e3.s = e1.d AND e3.d = e2.d
),
base AS (
  SELECT (SELECT count(*) FROM deg)::BIGINT AS n_nodes,
         (SELECT count(*) FROM ed)::BIGINT AS n_edges,
         round((SELECT avg(deg) FROM deg), 6) AS avg_degree,
         (SELECT max(deg) FROM deg)::BIGINT AS max_degree,
         (SELECT sum(deg * (deg - 1) / 2.0) FROM deg) AS wedges,
         (SELECT t FROM tri) AS t
),
assort AS (
  SELECT round(corr(d1.deg, d2.deg), 6) AS assortativity
  FROM sym JOIN deg d1 ON d1.u = sym.u JOIN deg d2 ON d2.u = sym.v
)
SELECT n_nodes, n_edges, avg_degree, max_degree, t AS n_triangles,
       round(CASE WHEN wedges > 0 THEN 3.0 * t / wedges ELSE 0.0 END, 6)
         AS transitivity,
       assortativity
FROM base, assort
"""

    sql["kg_negative_samples"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS subj, 'cooccursWith' AS pred, b.uri AS obj
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY a.uri, b.uri HAVING count(*) >= 3
),
ents AS (
  SELECT (row_number() OVER (ORDER BY uri) - 1)::BIGINT AS ent_rank, uri
  FROM (SELECT DISTINCT uri FROM occs)
),
n AS (SELECT count(*)::BIGINT AS n FROM ents),
neg AS (
  SELECT e.subj, e.pred, x.uri AS obj, 0 AS label, j.neg_idx
  FROM ed e
  CROSS JOIN (SELECT unnest([1, 2]) AS neg_idx) j
  CROSS JOIN n
  JOIN ents x ON x.ent_rank =
    (('0x' || substr(md5(e.subj || chr(31) || e.pred || chr(31) || e.obj
                         || chr(31) || j.neg_idx::VARCHAR),
                     1, 12))::BIGINT % n.n + n.n) % n.n
  WHERE x.uri <> e.obj
)
SELECT subj, pred, obj, 1 AS label, 0 AS neg_idx FROM ed
UNION ALL
SELECT subj, pred, obj, label, neg_idx FROM neg
"""

    # random_walks: 4 steps unrolled; pick = md5_48 of
    # start|walk_id|step|node (chr(31)-separated) mod degree
    _walk_steps = []
    for _s in range(1, 5):
        _walk_steps.append(f""",
f{_s} AS (
  SELECT f.start, f.walk_id, n.v AS node
  FROM f{_s - 1} f
  JOIN wdeg d ON d.u = f.node
  JOIN wnbr n ON n.u = f.node AND n.nrank =
    ((('0x' || substr(md5(f.start || chr(31) || f.walk_id::VARCHAR
        || chr(31) || '{_s}' || chr(31) || f.node), 1, 12))::BIGINT
      % d.deg + d.deg) % d.deg)
)""")
    sql["random_walks"] = (
        _BASE_CTES
        + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 3
),
sym AS (
  SELECT DISTINCT u, v FROM (
    SELECT s AS u, d AS v FROM ed UNION ALL SELECT d, s FROM ed
  )
),
wnbr AS (
  SELECT u, v,
         (row_number() OVER (PARTITION BY u ORDER BY v) - 1)::BIGINT
           AS nrank
  FROM sym
),
wdeg AS (SELECT u, count(*)::BIGINT AS deg FROM wnbr GROUP BY u),
f0 AS (
  SELECT u AS start, j.walk_id, u AS node
  FROM wdeg CROSS JOIN (SELECT unnest([0, 1]) AS walk_id) j
)"""
        + "".join(_walk_steps)
        + """
SELECT start, walk_id, 0 AS step, node FROM f0
UNION ALL SELECT start, walk_id, 1 AS step, node FROM f1
UNION ALL SELECT start, walk_id, 2 AS step, node FROM f2
UNION ALL SELECT start, walk_id, 3 AS step, node FROM f3
UNION ALL SELECT start, walk_id, 4 AS step, node FROM f4
"""
    )

    sql["table_expectations"] = """
WITH m AS (
  SELECT
    round(avg(CASE WHEN doc_id IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
      AS c_doc,
    round(count(DISTINCT doc_id)::DOUBLE / count(*), 6) AS u_doc,
    round(avg(CASE WHEN text IS NOT NULL THEN 1.0 ELSE 0.0 END), 6)
      AS c_text,
    round(avg(length(text)::DOUBLE), 6) AS ml,
    round(avg(CASE WHEN text IS NULL THEN NULL
                   WHEN regexp_matches(text, '[a-z]') THEN 1.0
                   ELSE 0.0 END), 6) AS mf
  FROM documents
)
SELECT * FROM (
  SELECT 'doc_id' AS col_name, 'completeness' AS metric, c_doc AS value,
         1.0 AS lo, 1.0 AS hi, (c_doc >= 1.0 AND c_doc <= 1.0) AS passed
  FROM m
  UNION ALL
  SELECT 'doc_id', 'uniqueness', u_doc, 1.0, 1.0,
         (u_doc >= 1.0 AND u_doc <= 1.0) FROM m
  UNION ALL
  SELECT 'text', 'completeness', c_text, 0.99, NULL, (c_text >= 0.99) FROM m
  UNION ALL
  SELECT 'text', 'mean_length', ml, 20.0, 5000.0,
         (ml >= 20.0 AND ml <= 5000.0) FROM m
  UNION ALL
  SELECT 'text', 'match_fraction', mf, 0.9, NULL, (mf >= 0.9) FROM m
)
"""

    sql["kmv_distinct"] = """
WITH tok AS (
  SELECT (doc_id % 4)::BIGINT AS bucket,
         unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
d AS (SELECT DISTINCT bucket, token FROM tok WHERE token <> ''),
h AS (
  SELECT DISTINCT bucket,
         ('0x' || substr(md5(token), 1, 12))::BIGINT AS _h
  FROM d
),
r AS (
  SELECT bucket, _h,
         row_number() OVER (PARTITION BY bucket ORDER BY _h) AS rk
  FROM h
),
kept AS (SELECT bucket, _h FROM r WHERE rk <= 64)
SELECT bucket, count(*)::BIGINT AS n_seen, max(_h) AS kth_min,
       round(CASE WHEN count(*) < 64 THEN count(*)::DOUBLE
                  ELSE 63.0 / ((max(_h) + 1.0) / 281474976710656.0) END,
             4) AS estimate
FROM kept GROUP BY bucket
"""

    sql["kmv_intersection"] = """
WITH tok AS (
  SELECT (doc_id % 2)::BIGINT AS half,
         unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
h AS (
  SELECT DISTINCT half, ('0x' || substr(md5(token), 1, 12))::BIGINT AS _h
  FROM tok WHERE token <> ''
),
r AS (
  SELECT half, _h,
         row_number() OVER (PARTITION BY half ORDER BY _h) AS rk
  FROM h
),
ka AS (SELECT _h FROM r WHERE half = 0 AND rk <= 256),
kb AS (SELECT _h FROM r WHERE half = 1 AND rk <= 256),
th AS (SELECT least((SELECT max(_h) FROM ka),
                    (SELECT max(_h) FROM kb)) AS theta),
nc AS (
  SELECT count(*)::BIGINT AS n_common
  FROM (SELECT _h FROM ka INTERSECT SELECT _h FROM kb) x, th
  WHERE x._h < th.theta
),
nu AS (
  SELECT count(*)::BIGINT AS n_union
  FROM (SELECT _h FROM ka UNION SELECT _h FROM kb) x, th
  WHERE x._h < th.theta
)
SELECT th.theta::BIGINT AS theta, nc.n_common,
       round(nc.n_common / (th.theta / 281474976710656.0), 4)
         AS inter_estimate,
       round(CASE WHEN nu.n_union > 0
                  THEN nc.n_common::DOUBLE / nu.n_union
                  ELSE 0.0 END, 6) AS jaccard_estimate
FROM th, nc, nu
"""

    sql["kg_subclass_closure"] = """
WITH RECURSIVE edges AS (
  SELECT p_partkey::BIGINT AS class_id,
         (p_partkey // 2)::BIGINT AS ancestor_id
  FROM part WHERE p_partkey >= 2
),
tc AS (
  SELECT class_id, ancestor_id FROM edges
  UNION
  SELECT t.class_id, e.ancestor_id
  FROM tc t JOIN edges e ON t.ancestor_id = e.class_id
)
SELECT class_id, ancestor_id FROM tc
"""

    # BPE training (functions/bpe.py): all 8 iterations unrolled — stage k
    # re-splits the double-space segmentation, self-joins adjacent symbol
    # positions for pair counts, picks the (count desc, pair asc) top pair,
    # and applies it as the same literal replace Spark runs.
    _bpe_stages = []
    _prev = "rep0"
    for _k in range(8):
        # MATERIALIZED is load-bearing: rep/pk are each referenced twice,
        # and default CTE inlining would re-expand the whole prefix chain
        # at every stage (exponential in the number of merges)
        _bpe_stages.append(f""",
tk{_k} AS (
  SELECT word, cnt, string_split(trim(s), '  ') AS toks FROM {_prev}
),
pk{_k} AS MATERIALIZED (
  SELECT word, cnt, generate_subscripts(toks, 1) AS i, unnest(toks) AS tok
  FROM tk{_k}
),
bk{_k} AS (
  SELECT a.tok || '  ' || b.tok AS pair
  FROM pk{_k} a JOIN pk{_k} b ON a.word = b.word AND b.i = a.i + 1
  GROUP BY 1 ORDER BY SUM(a.cnt) DESC, pair LIMIT 1
),
rep{_k + 1} AS MATERIALIZED (
  SELECT word, cnt,
         replace(s, ' ' || pair || ' ',
                 ' ' || replace(pair, '  ', '') || ' ') AS s
  FROM {_prev}, bk{_k}
)""")
        _prev = f"rep{_k + 1}"
    sql["bpe_merges"] = (
        """
WITH rep0 AS (
  SELECT word, count(*)::BIGINT AS cnt,
         ' ' || rtrim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS s
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
)"""
        + "".join(_bpe_stages)
        + """
SELECT word, cnt, trim(s) AS seg FROM rep8
"""
    )

    # SCD2 (model/scd2.py): the five disjoint merge outcomes written as
    # explicit UNION ALL branches (changed-closed, changed-reopened,
    # unchanged, not-in-batch, brand-new).
    sql["scd2_resources"] = _BASE_CTES + """,
base AS (
  SELECT uri, count(*)::BIGINT AS support FROM occs
  WHERE doc_id % 2 = 0 GROUP BY uri
),
upd AS (SELECT uri, count(*)::BIGINT AS support FROM occs GROUP BY uri)
SELECT b.uri, b.support, 0 AS valid_from, 1 AS valid_to, FALSE AS is_current
FROM base b JOIN upd u USING (uri) WHERE u.support <> b.support
UNION ALL
SELECT u.uri, u.support, 1, 2147483647, TRUE
FROM upd u JOIN base b USING (uri) WHERE u.support <> b.support
UNION ALL
SELECT b.uri, b.support, 0, 2147483647, TRUE
FROM base b JOIN upd u USING (uri) WHERE u.support = b.support
UNION ALL
SELECT b.uri, b.support, 0, 2147483647, TRUE
FROM base b ANTI JOIN upd u ON b.uri = u.uri
UNION ALL
SELECT u.uri, u.support, 1, 2147483647, TRUE
FROM upd u ANTI JOIN base b ON u.uri = b.uri
"""

    # BM25 (operators/bm25.py): float literals mirror Spark's exact double
    # ops — (1.2 + 1.0) is NOT the double 2.2, and the (1.0 - 0.75 + ...)
    # association matches the Column expression left-to-right.
    # shared BM25 ranked-list CTE body (bm25_search + rrf_fuse twin)
    _BM25_RANKED = """
WITH q(query_id, term) AS (
  VALUES (0, 'join'), (0, 'hash'), (1, 'customer'), (1, 'slow'), (1, 'merge')
),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) WHERE term <> '' GROUP BY doc_id, term
),
dl AS (SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY doc_id),
stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
dfq AS (
  SELECT term, count(DISTINCT doc_id)::DOUBLE AS df
  FROM tf JOIN (SELECT DISTINCT term FROM q) USING (term) GROUP BY term
),
scored AS (
  SELECT q.query_id, tf.doc_id,
         SUM( ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
              * tf.tf * (1.2 + 1.0)
              / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl)) ) AS score
  FROM tf
  JOIN q USING (term)
  JOIN dfq d USING (term)
  JOIN dl USING (doc_id), stats s
  GROUP BY q.query_id, tf.doc_id
),
ranked AS (
  SELECT query_id, doc_id, score, rank FROM (
    SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY score DESC, doc_id
    )::INT AS rank FROM scored
  ) WHERE rank <= 10
)"""

    sql["bm25_search"] = (
        _BM25_RANKED
        + """
SELECT query_id, doc_id, round(score, 6) AS score, rank FROM ranked
"""
    )

    sql["rrf_fuse"] = (
        _BM25_RANKED
        + """,
t0 AS (SELECT doc_id, 1.0::DOUBLE / (60 + rank) AS t FROM ranked
       WHERE query_id = 0),
t1 AS (SELECT doc_id, 1.0::DOUBLE / (60 + rank) AS t FROM ranked
       WHERE query_id = 1),
fused AS (
  SELECT coalesce(t0.doc_id, t1.doc_id) AS doc_id,
         coalesce(t0.t, 0.0::DOUBLE) + coalesce(t1.t, 0.0::DOUBLE) AS s
  FROM t0 FULL OUTER JOIN t1 ON t0.doc_id = t1.doc_id
)
SELECT doc_id, round(s, 9) AS rrf_score,
       row_number() OVER (ORDER BY s DESC, doc_id)::INT AS fused_rank
FROM fused
"""
    )

    # D3-D5 generative context scoring (GenerativeContextSimilarity.scala:
    # 26-78): model token tables from the injected plain tokenization, query
    # vectors, present-pair logaddexp deltas + per-doc NIL context score,
    # NIL spot scores, UnweightedMixture, NIL filter, top-2, second-rank,
    # and the candidate∪NIL log-sum-exp softmax — replayed term by term
    # (λ=0.2; logaddexp = greatest + ln(1+exp(least-greatest)); the softmax
    # replicates Spark's exp(ln(Σ)) double-rounding structurally).
    sql["d3_generative"] = _BASE_CTES + f""",
occ2 AS (SELECT doc_id::VARCHAR AS doc_id, surface_form, uri FROM occs),
toks2 AS (SELECT doc_id::VARCHAR AS doc_id, token AS stem FROM tok),
doc_uris AS (SELECT DISTINCT doc_id, uri FROM occ2),
tokc AS (
  SELECT u.uri, t.stem, count(*)::BIGINT AS cnt
  FROM toks2 t JOIN doc_uris u ON t.doc_id = u.doc_id
  GROUP BY u.uri, t.stem
),
vocab AS (
  SELECT stem, sum(cnt)::BIGINT AS vcount,
         row_number() OVER (ORDER BY stem) AS token_id
  FROM tokc GROUP BY stem
),
scal AS (
  SELECT (SELECT sum(vcount) FROM vocab)::DOUBLE AS total_tokens,
         (SELECT count(*) FROM vocab)::DOUBLE AS vocab_size,
         (SELECT count(*) FROM occ2)::DOUBLE AS total_support,
         (SELECT count(*) FROM occ2)::DOUBLE AS total_annotated
),
sfs AS (SELECT surface_form, count(*)::DOUBLE AS annotated_count
        FROM occ2 GROUP BY surface_form),
res AS (
  SELECT uri, n::BIGINT AS support,
         (row_number() OVER (ORDER BY uri) - 1)::INT AS res_id
  FROM (SELECT uri, count(*) AS n FROM occ2 GROUP BY uri)
),
cand AS (SELECT surface_form, uri, count(*)::DOUBLE AS pair_count
         FROM occ2 GROUP BY surface_form, uri),
ctxc AS (
  SELECT r.res_id, v.token_id, t.cnt::DOUBLE AS cnt
  FROM tokc t JOIN vocab v USING (stem) JOIN res r ON t.uri = r.uri
),
rtot AS (SELECT res_id, sum(cnt)::DOUBLE AS total_count
         FROM ctxc GROUP BY res_id),
query AS (
  SELECT t.doc_id, v.token_id, count(*)::DOUBLE AS c,
         ln(v.vcount + 1.0) - ln(s.total_tokens + s.vocab_size) AS plm
  FROM toks2 t JOIN vocab v USING (stem) CROSS JOIN scal s
  GROUP BY t.doc_id, v.token_id, v.vcount, s.total_tokens, s.vocab_size
),
nil_doc AS (
  SELECT doc_id, sum(ln(c) + ln((0.8)::DOUBLE) + plm) AS nil_context_score
  FROM query GROUP BY doc_id
),
spots2 AS (
  SELECT doc_id::VARCHAR AS doc_id, 0 AS span_pos,
         ({_SQL_OFFSET})::INT AS off, surface_form
  FROM spots
),
cpair AS (
  SELECT DISTINCT s.doc_id, r.res_id
  FROM spots2 s JOIN cand c USING (surface_form) JOIN res r ON c.uri = r.uri
),
delta AS (
  SELECT p.doc_id, p.res_id,
    sum(
      greatest(ln((0.2)::DOUBLE) + ln(cc.cnt / rt.total_count),
               ln((0.8)::DOUBLE) + q.plm)
      + ln(1 + exp(least(ln((0.2)::DOUBLE) + ln(cc.cnt / rt.total_count),
                         ln((0.8)::DOUBLE) + q.plm)
                   - greatest(ln((0.2)::DOUBLE) + ln(cc.cnt / rt.total_count),
                              ln((0.8)::DOUBLE) + q.plm)))
      - (ln((0.8)::DOUBLE) + q.plm)
    ) AS sum_delta
  FROM cpair p
  JOIN ctxc cc ON cc.res_id = p.res_id
  JOIN query q ON q.doc_id = p.doc_id AND q.token_id = cc.token_id
  JOIN rtot rt ON rt.res_id = p.res_id
  GROUP BY p.doc_id, p.res_id
),
pc AS (
  SELECT p.doc_id, p.res_id,
         coalesce(d.sum_delta, 0.0) + coalesce(n.nil_context_score, 0.0) AS p_c
  FROM cpair p
  JOIN (SELECT res_id FROM rtot WHERE total_count > 0) hc
    ON p.res_id = hc.res_id
  LEFT JOIN delta d ON d.doc_id = p.doc_id AND d.res_id = p.res_id
  LEFT JOIN nil_doc n ON n.doc_id = p.doc_id
),
nils AS (
  SELECT s.doc_id, s.span_pos, s.off, s.surface_form,
         ln((0.8)::DOUBLE) + ln(coalesce(v.vcount, 0) + 1.0)
           - ln(sc.total_tokens + sc.vocab_size) AS nil_s
  FROM spots2 s
  LEFT JOIN vocab v ON s.surface_form = v.stem
  CROSS JOIN scal sc
),
scored AS (
  SELECT s.doc_id, s.span_pos, s.off, s.surface_form, r.uri, r.res_id,
         r.support,
         ln(r.support / sc.total_support)
           + ln(c.pair_count / f.annotated_count) + p.p_c AS score,
         p.p_c AS p_c,
         ln(1.0 / sc.total_annotated) + coalesce(nd.nil_context_score, 0.0)
           + ni.nil_s AS nil_score,
         coalesce(nd.nil_context_score, 0.0) AS ncs
  FROM spots2 s
  JOIN sfs f USING (surface_form)
  JOIN cand c USING (surface_form)
  JOIN res r ON c.uri = r.uri
  CROSS JOIN scal sc
  LEFT JOIN pc p ON p.doc_id = s.doc_id AND p.res_id = r.res_id
  LEFT JOIN nil_doc nd ON nd.doc_id = s.doc_id
  JOIN nils ni ON ni.doc_id = s.doc_id AND ni.span_pos = s.span_pos
              AND ni.off = s.off AND ni.surface_form = s.surface_form
),
kept AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, span_pos, off
             ORDER BY score DESC, res_id ASC) AS rank
  FROM scored
  WHERE score IS NOT NULL AND score > nil_score
),
topk AS (SELECT * FROM kept WHERE rank <= 2),
stats AS (
  SELECT *,
    lead(score) OVER (PARTITION BY doc_id, span_pos, off
                      ORDER BY score DESC, res_id ASC) AS next_score,
    greatest(max(score) OVER (PARTITION BY doc_id, span_pos, off),
             nil_score) AS m_sim,
    greatest(max(p_c) OVER (PARTITION BY doc_id, span_pos, off),
             ncs) AS m_ctx
  FROM topk
),
sums AS (
  SELECT *,
    sum(exp(score - m_sim)) OVER (PARTITION BY doc_id, span_pos, off)
      AS se_sim,
    sum(exp(p_c - m_ctx)) OVER (PARTITION BY doc_id, span_pos, off)
      AS se_ctx
  FROM stats
)
SELECT doc_id, span_pos, off AS "offset", surface_form, uri,
  round(exp(score - (m_sim + ln(exp(ln(se_sim)) + exp(nil_score - m_sim)))),
        6) AS similarity_score,
  round(coalesce(exp(next_score - score), -1.0), 6)
    AS percentage_second_rank,
  round(exp(p_c - (m_ctx + ln(exp(ln(se_ctx)) + exp(ncs - m_ctx)))), 6)
    AS contextual_score,
  res_id, support, rank
FROM sums
"""

    # annotate_windowed_scored: the SAME generative chain re-keyed on the
    # (doc, token-ordinal window of 10) composite ctx — query vectors,
    # NIL context scores, deltas, pc and both softmaxes all per ctx; the
    # spot joins the window of its own token (the d2_windows-green
    # assignment). Model-build CTEs (tokc/vocab/res/cand/ctxc/rtot) stay
    # doc-level, exactly as the library builds the model from doc tokens.
    sql["annotate_windowed_scored"] = _BASE_CTES + f""",
occ2 AS (SELECT doc_id::VARCHAR AS doc_id, surface_form, uri FROM occs),
toks2 AS (SELECT doc_id::VARCHAR AS doc_id, token AS stem FROM tok),
tkw AS (
  SELECT doc_id::VARCHAR AS doc_id, ({_SQL_OFFSET})::INT AS off,
         token AS stem,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY ({_SQL_OFFSET})) AS rn
  FROM tok
),
winmap AS (
  SELECT doc_id, off,
         doc_id || '#' || ((rn - 1) // 10)::VARCHAR AS ctx
  FROM tkw
),
tokw AS (
  SELECT doc_id || '#' || ((rn - 1) // 10)::VARCHAR AS ctx, stem FROM tkw
),
doc_uris AS (SELECT DISTINCT doc_id, uri FROM occ2),
tokc AS (
  SELECT u.uri, t.stem, count(*)::BIGINT AS cnt
  FROM toks2 t JOIN doc_uris u ON t.doc_id = u.doc_id
  GROUP BY u.uri, t.stem
),
vocab AS (
  SELECT stem, sum(cnt)::BIGINT AS vcount,
         row_number() OVER (ORDER BY stem) AS token_id
  FROM tokc GROUP BY stem
),
scal AS (
  SELECT (SELECT sum(vcount) FROM vocab)::DOUBLE AS total_tokens,
         (SELECT count(*) FROM vocab)::DOUBLE AS vocab_size,
         (SELECT count(*) FROM occ2)::DOUBLE AS total_support,
         (SELECT count(*) FROM occ2)::DOUBLE AS total_annotated
),
sfs AS (SELECT surface_form, count(*)::DOUBLE AS annotated_count
        FROM occ2 GROUP BY surface_form),
res AS (
  SELECT uri, n::BIGINT AS support,
         (row_number() OVER (ORDER BY uri) - 1)::INT AS res_id
  FROM (SELECT uri, count(*) AS n FROM occ2 GROUP BY uri)
),
cand AS (SELECT surface_form, uri, count(*)::DOUBLE AS pair_count
         FROM occ2 GROUP BY surface_form, uri),
ctxc AS (
  SELECT r.res_id, v.token_id, t.cnt::DOUBLE AS cnt
  FROM tokc t JOIN vocab v USING (stem) JOIN res r ON t.uri = r.uri
),
rtot AS (SELECT res_id, sum(cnt)::DOUBLE AS total_count
         FROM ctxc GROUP BY res_id),
query AS (
  SELECT t.ctx, v.token_id, count(*)::DOUBLE AS c,
         ln(v.vcount + 1.0) - ln(s.total_tokens + s.vocab_size) AS plm
  FROM tokw t JOIN vocab v USING (stem) CROSS JOIN scal s
  GROUP BY t.ctx, v.token_id, v.vcount, s.total_tokens, s.vocab_size
),
nil_ctx AS (
  SELECT ctx, sum(ln(c) + ln((0.8)::DOUBLE) + plm) AS nil_context_score
  FROM query GROUP BY ctx
),
spots2 AS (
  SELECT doc_id::VARCHAR AS doc_id, 0 AS span_pos,
         ({_SQL_OFFSET})::INT AS off, surface_form
  FROM spots
),
spotw AS (
  SELECT s.doc_id, s.span_pos, s.off, s.surface_form, w.ctx
  FROM spots2 s JOIN winmap w ON w.doc_id = s.doc_id AND w.off = s.off
),
cpair AS (
  SELECT DISTINCT s.ctx, r.res_id
  FROM spotw s JOIN cand c USING (surface_form) JOIN res r ON c.uri = r.uri
),
delta AS (
  SELECT p.ctx, p.res_id,
    sum(
      greatest(ln((0.2)::DOUBLE) + ln(cc.cnt / rt.total_count),
               ln((0.8)::DOUBLE) + q.plm)
      + ln(1 + exp(least(ln((0.2)::DOUBLE) + ln(cc.cnt / rt.total_count),
                         ln((0.8)::DOUBLE) + q.plm)
                   - greatest(ln((0.2)::DOUBLE) + ln(cc.cnt / rt.total_count),
                              ln((0.8)::DOUBLE) + q.plm)))
      - (ln((0.8)::DOUBLE) + q.plm)
    ) AS sum_delta
  FROM cpair p
  JOIN ctxc cc ON cc.res_id = p.res_id
  JOIN query q ON q.ctx = p.ctx AND q.token_id = cc.token_id
  JOIN rtot rt ON rt.res_id = p.res_id
  GROUP BY p.ctx, p.res_id
),
pc AS (
  SELECT p.ctx, p.res_id,
         coalesce(d.sum_delta, 0.0) + coalesce(n.nil_context_score, 0.0) AS p_c
  FROM cpair p
  JOIN (SELECT res_id FROM rtot WHERE total_count > 0) hc
    ON p.res_id = hc.res_id
  LEFT JOIN delta d ON d.ctx = p.ctx AND d.res_id = p.res_id
  LEFT JOIN nil_ctx n ON n.ctx = p.ctx
),
nils AS (
  SELECT s.doc_id, s.span_pos, s.off, s.surface_form,
         ln((0.8)::DOUBLE) + ln(coalesce(v.vcount, 0) + 1.0)
           - ln(sc.total_tokens + sc.vocab_size) AS nil_s
  FROM spots2 s
  LEFT JOIN vocab v ON s.surface_form = v.stem
  CROSS JOIN scal sc
),
scored AS (
  SELECT s.doc_id, s.span_pos, s.off, s.surface_form, r.uri, r.res_id,
         r.support,
         ln(r.support / sc.total_support)
           + ln(c.pair_count / f.annotated_count) + p.p_c AS score,
         p.p_c AS p_c,
         ln(1.0 / sc.total_annotated) + coalesce(nd.nil_context_score, 0.0)
           + ni.nil_s AS nil_score,
         coalesce(nd.nil_context_score, 0.0) AS ncs
  FROM spotw s
  JOIN sfs f USING (surface_form)
  JOIN cand c USING (surface_form)
  JOIN res r ON c.uri = r.uri
  CROSS JOIN scal sc
  LEFT JOIN pc p ON p.ctx = s.ctx AND p.res_id = r.res_id
  LEFT JOIN nil_ctx nd ON nd.ctx = s.ctx
  JOIN nils ni ON ni.doc_id = s.doc_id AND ni.span_pos = s.span_pos
              AND ni.off = s.off AND ni.surface_form = s.surface_form
),
kept AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id, span_pos, off
             ORDER BY score DESC, res_id ASC) AS rank
  FROM scored
  WHERE score IS NOT NULL AND score > nil_score
),
topk AS (SELECT * FROM kept WHERE rank <= 2),
stats AS (
  SELECT *,
    lead(score) OVER (PARTITION BY doc_id, span_pos, off
                      ORDER BY score DESC, res_id ASC) AS next_score,
    greatest(max(score) OVER (PARTITION BY doc_id, span_pos, off),
             nil_score) AS m_sim,
    greatest(max(p_c) OVER (PARTITION BY doc_id, span_pos, off),
             ncs) AS m_ctx
  FROM topk
),
sums AS (
  SELECT *,
    sum(exp(score - m_sim)) OVER (PARTITION BY doc_id, span_pos, off)
      AS se_sim,
    sum(exp(p_c - m_ctx)) OVER (PARTITION BY doc_id, span_pos, off)
      AS se_ctx
  FROM stats
)
SELECT doc_id, span_pos, off AS "offset", surface_form, uri,
  round(exp(score - (m_sim + ln(exp(ln(se_sim)) + exp(nil_score - m_sim)))),
        6) AS similarity_score,
  round(coalesce(exp(next_score - score), -1.0), 6)
    AS percentage_second_rank,
  round(exp(p_c - (m_ctx + ln(exp(ln(se_ctx)) + exp(ncs - m_ctx)))), 6)
    AS contextual_score,
  res_id, support, rank
FROM sums
"""

    # F1 (idx=round(3*0.5)=2 -> thr 0.2) + F2 (psr <= 0.75) + F3 (support>1)
    sql["f_filter_chain"] = _PRIOR_CTES + """,
ann AS (
  SELECT doc_id, off, surface_form, uri, support,
    round(exp(score - (greatest(score, nil_score)
      + ln(exp(score - greatest(score, nil_score))
          + exp(nil_score - greatest(score, nil_score))))), 6) AS sim
  FROM ranked WHERE rank = 1
)
SELECT doc_id, off AS "offset", surface_form, uri, support
FROM ann
WHERE sim >= 0.2 AND (-1.0) <= 0.75 AND support > 312 AND sim >= 0.9937
"""

    sql["m9_resolve"] = (
        "WITH RECURSIVE" + _BASE_CTES.lstrip()[4:] + f""",
occ3 AS (
  SELECT doc_id, pos, surface_form,
    CASE WHEN pos % 7 = 0 THEN 'A'
         WHEN pos % 5 = 0 THEN 'Old_Spark'
         ELSE uri END AS uri
  FROM occs
),
redir(src_uri, dst_uri) AS (VALUES {_redirect_values()}),
walk(src_uri, final_uri) AS (
  SELECT src_uri, dst_uri FROM redir
  UNION ALL
  SELECT w.src_uri, e.dst_uri FROM walk w
  JOIN redir e ON w.final_uri = e.src_uri
),
fin AS (SELECT src_uri, final_uri FROM walk
        WHERE final_uri NOT IN (SELECT src_uri FROM redir))
SELECT o.doc_id, o.pos, o.surface_form,
       coalesce(f.final_uri, o.uri) AS uri
FROM occ3 o LEFT JOIN fin f ON o.uri = f.src_uri
WHERE coalesce(f.final_uri, o.uri) <> 'D'
"""
    )

    sql["d2_windows"] = _BASE_CTES + f""",
tkw AS (
  SELECT doc_id::VARCHAR AS doc_id, ({_SQL_OFFSET})::INT AS off,
         row_number() OVER (
           PARTITION BY doc_id ORDER BY ({_SQL_OFFSET})) AS rn
  FROM tok
),
win AS (SELECT doc_id, off, ((rn - 1) // 10) AS wid FROM tkw),
sp AS (SELECT doc_id::VARCHAR AS doc_id, ({_SQL_OFFSET})::INT AS off,
              surface_form
       FROM spots)
SELECT s.doc_id, s.off AS "offset", s.surface_form,
       s.doc_id || '#' || w.wid::VARCHAR AS ctx_id
FROM sp s JOIN win w ON s.doc_id = w.doc_id AND s.off = w.off
"""

    sql["c1_candidates"] = _BASE_CTES + """,
occ2 AS (SELECT doc_id::VARCHAR AS doc_id, surface_form, uri FROM occs),
sfs AS (
  SELECT surface_form, count(*) AS annotated_count,
         (row_number() OVER (ORDER BY surface_form) - 1)::INT AS sf_id
  FROM occ2 GROUP BY surface_form
),
res AS (SELECT uri, (row_number() OVER (ORDER BY uri) - 1)::INT AS res_id
        FROM (SELECT DISTINCT uri FROM occ2)),
cand AS (
  SELECT s.sf_id, r.res_id, count(*) AS pair_count
  FROM occ2 o JOIN sfs s USING (surface_form) JOIN res r USING (uri)
  GROUP BY s.sf_id, r.res_id
),
spots2 AS (
  SELECT doc_id::VARCHAR AS doc_id, pos,
    CASE WHEN pos % 4 = 0 THEN upper(surface_form)
         ELSE surface_form END AS ssf
  FROM spots
),
resolved AS (
  SELECT p.doc_id, p.pos, p.ssf AS surface_form, s.sf_id
  FROM spots2 p JOIN sfs s ON p.ssf = s.surface_form
  UNION ALL
  SELECT p.doc_id, p.pos, p.ssf, s.sf_id
  FROM spots2 p JOIN sfs s ON lower(p.ssf) = s.surface_form
  WHERE NOT EXISTS (SELECT 1 FROM sfs x WHERE x.surface_form = p.ssf)
)
SELECT r.doc_id, r.pos, r.surface_form, r.sf_id, c.res_id, c.pair_count
FROM resolved r JOIN cand c ON r.sf_id = c.sf_id
"""

    _D6_CTES = _BASE_CTES + """,
occ2 AS (SELECT doc_id::VARCHAR AS doc_id, surface_form, uri FROM occs),
du AS (SELECT DISTINCT doc_id, uri FROM occ2),
tk2 AS (SELECT doc_id::VARCHAR AS doc_id, token FROM tok),
tcnt AS (SELECT d.uri, t.token, count(*) AS cnt
         FROM tk2 t JOIN du d USING (doc_id) GROUP BY d.uri, t.token),
vocab AS (SELECT token, row_number() OVER (ORDER BY token) AS token_id
          FROM (SELECT DISTINCT token FROM tcnt)),
res AS (SELECT uri, (row_number() OVER (ORDER BY uri) - 1)::INT AS res_id
        FROM (SELECT DISTINCT uri FROM occ2)),
cc AS (SELECT r.res_id, v.token_id, t.cnt
       FROM tcnt t JOIN vocab v USING (token) JOIN res r USING (uri)),
qv AS (SELECT DISTINCT q.doc_id, v.token_id
       FROM (SELECT DISTINCT doc_id, token FROM tk2) q
       JOIN vocab v USING (token)),
sfs2 AS (SELECT surface_form,
                (row_number() OVER (ORDER BY surface_form) - 1)::INT AS sf_id
         FROM (SELECT DISTINCT surface_form FROM occ2)),
candm AS (SELECT DISTINCT s.sf_id, r.res_id
          FROM occ2 o JOIN sfs2 s USING (surface_form)
          JOIN res r USING (uri)),
cp AS (SELECT DISTINCT sp.doc_id, c.res_id
       FROM (SELECT DISTINCT doc_id::VARCHAR AS doc_id, surface_form
             FROM spots) sp
       JOIN sfs2 USING (surface_form)
       JOIN candm c ON sfs2.sf_id = c.sf_id),
n_cand AS (SELECT doc_id, count(DISTINCT res_id) AS nc FROM cp
           GROUP BY doc_id),
cand_tokens AS (SELECT p.doc_id, p.res_id, c.token_id, c.cnt
                FROM cp p JOIN cc c USING (res_id)),
n_with AS (SELECT doc_id, token_id, count(DISTINCT res_id) AS nw
           FROM cand_tokens GROUP BY doc_id, token_id),
nrm AS (SELECT res_id, count(DISTINCT token_id) AS nrm FROM cc
        GROUP BY res_id),
present AS (
  SELECT ct.doc_id, ct.res_id, ct.cnt, w.nw, n.nc
  FROM qv q
  JOIN cand_tokens ct ON q.doc_id = ct.doc_id AND q.token_id = ct.token_id
  JOIN n_with w ON ct.doc_id = w.doc_id AND ct.token_id = w.token_id
  JOIN n_cand n ON ct.doc_id = n.doc_id
),
summed AS (SELECT doc_id, res_id,
                  sum(cnt * (ln(nc / nw) + 1.0)) AS s
           FROM present GROUP BY doc_id, res_id)"""

    _D6_FINAL = """
SELECT p.doc_id, p.res_id,
  round(coalesce(s.s, 0.0) / greatest(n.nrm, 1), 6) AS tficf
FROM cp p
LEFT JOIN summed s ON p.doc_id = s.doc_id AND p.res_id = s.res_id
LEFT JOIN nrm n ON p.res_id = n.res_id
"""
    sql["d6_tficf"] = _D6_CTES + _D6_FINAL

    sql["s7_token_bags"] = _BASE_CTES + """
SELECT 'doc' || doc_id::VARCHAR AS uri, token, (pos + 1)::BIGINT AS count
FROM tok WHERE pos < 5
"""

    _cw, _alpha, _sur = 0.7, 10.0, 5
    sql["d9_mixtures"] = _D6_CTES + f""",
d6 AS (
  SELECT p.doc_id, p.res_id,
         round(coalesce(s.s, 0.0) / greatest(n.nrm, 1), 6) AS cs
  FROM cp p
  LEFT JOIN summed s ON p.doc_id = s.doc_id AND p.res_id = s.res_id
  LEFT JOIN nrm n ON p.res_id = n.res_id
),
annot AS (SELECT surface_form, count(*)::DOUBLE AS annot
          FROM occ2 GROUP BY surface_form),
pairc AS (SELECT surface_form, uri, count(*)::DOUBLE AS pc
          FROM occ2 GROUP BY surface_form, uri),
spd AS (SELECT DISTINCT doc_id::VARCHAR AS doc_id, surface_form FROM spots),
rws AS (
  SELECT sp.doc_id, r.res_id, sp.surface_form,
         p.pc / a.annot AS prior, d.cs
  FROM spd sp
  JOIN pairc p USING (surface_form)
  JOIN annot a USING (surface_form)
  JOIN res r ON p.uri = r.uri
  JOIN d6 d ON sp.doc_id = d.doc_id AND r.res_id = d.res_id
)
SELECT doc_id, res_id, surface_form,
  round(prior * {344.597!r} + cs * {1.1247!r} + ({-0.0055!r}), 6) AS lr,
  round(cs * {_cw!r} + (1.0 + ln(1.0 + prior * {_alpha!r}))
        * {(1.0 - _cw)!r}, 6) AS fader2,
  round(cs * ({_cw / _sur!r} + (1.0 + ln(1.0 + prior * {_alpha!r}))
        * {(1.0 - _cw)!r}), 6) AS fader,
  round(cs, 6) AS sim_only
FROM rws
"""

    # D16: 3 power iterations of weighted personalized PageRank, unrolled
    # (recursive CTEs cannot aggregate per step); constants via repr so the
    # doubles match Spark's literals exactly.
    _pg_a = 0.85
    _pg_iters = []
    _prev = "pr0"
    for _i in range(1, 4):
        _pg_iters.append(f""",
dang{_i} AS (
  SELECT r.doc_id, sum(r.rank) AS dm
  FROM {_prev} r
  LEFT JOIN hasout h ON r.doc_id = h.doc_id AND r.node = h.node
  WHERE h.node IS NULL GROUP BY r.doc_id
),
infl{_i} AS (
  SELECT a.doc_id, a.dst_node AS node, sum(r.rank * a.p) AS inflow
  FROM {_prev} r
  JOIN narcs a ON r.doc_id = a.doc_id AND r.node = a.src_node
  GROUP BY a.doc_id, a.dst_node
),
pr{_i} AS (
  SELECT p.doc_id, p.node,
    ({(1.0 - _pg_a)!r})::DOUBLE * p.pref + ({_pg_a!r})::DOUBLE
      * (coalesce(i.inflow, 0.0) + coalesce(d.dm, 0.0) * p.pref) AS rank
  FROM prefv p
  LEFT JOIN infl{_i} i ON p.doc_id = i.doc_id AND p.node = i.node
  LEFT JOIN dang{_i} d ON p.doc_id = d.doc_id
)""")
        _prev = f"pr{_i}"

    sql["d16_pagerank"] = _BASE_CTES + """,
occ2 AS (SELECT doc_id::VARCHAR AS doc_id, pos, surface_form, uri FROM occs),
res AS (SELECT uri, (row_number() OVER (ORDER BY uri) - 1)::INT AS res_id
        FROM (SELECT DISTINCT uri FROM occ2)),
duu AS (SELECT DISTINCT doc_id, uri FROM occ2),
cooc AS (SELECT a.uri AS su, b.uri AS du, count(*) AS cnt
         FROM duu a JOIN duu b ON a.doc_id = b.doc_id AND a.uri < b.uri
         GROUP BY a.uri, b.uri HAVING count(*) >= 3),
eres AS (SELECT r1.res_id AS src, r2.res_id AS dst, cnt::DOUBLE AS w
         FROM cooc JOIN res r1 ON cooc.su = r1.uri
         JOIN res r2 ON cooc.du = r2.uri),
sc AS (SELECT s.doc_id::VARCHAR AS doc_id, 0 AS span_pos, s.pos::INT AS off,
              r.res_id, d.prior::DOUBLE AS cs
       FROM spots s JOIN dict d ON s.surface_form = d.surface_form
       JOIN res r ON d.uri = r.uri),
dc AS (SELECT DISTINCT doc_id, res_id FROM sc),
e1 AS (SELECT d1.doc_id, 'r:' || e.src::VARCHAR AS src_node,
              'r:' || e.dst::VARCHAR AS dst_node, e.w
       FROM dc d1 JOIN eres e ON d1.res_id = e.src
       JOIN dc d2 ON d2.doc_id = d1.doc_id AND d2.res_id = e.dst),
arcs AS (
  SELECT doc_id, src_node, dst_node, w FROM e1
  UNION ALL SELECT doc_id, dst_node, src_node, w FROM e1
  UNION ALL
  SELECT doc_id, 's:' || span_pos::VARCHAR || ':' || off::VARCHAR,
         'r:' || res_id::VARCHAR, cs
  FROM sc WHERE cs > 0
),
outw AS (SELECT doc_id, src_node, sum(w) AS ow FROM arcs
         GROUP BY doc_id, src_node),
narcs AS (SELECT a.doc_id, a.src_node, a.dst_node, a.w / o.ow AS p
          FROM arcs a
          JOIN outw o ON a.doc_id = o.doc_id AND a.src_node = o.src_node),
sfn AS (SELECT DISTINCT doc_id,
               's:' || span_pos::VARCHAR || ':' || off::VARCHAR AS node
        FROM sc),
nsf AS (SELECT doc_id, count(*) AS n FROM sfn GROUP BY doc_id),
prefin AS (SELECT s.doc_id, s.node, (1.0::DOUBLE) / f.n AS pref
           FROM sfn s JOIN nsf f ON s.doc_id = f.doc_id),
nodes AS (
  SELECT DISTINCT doc_id, node FROM (
    SELECT doc_id, src_node AS node FROM arcs
    UNION ALL SELECT doc_id, dst_node FROM arcs
    UNION ALL SELECT doc_id, node FROM prefin)
),
prefv AS (SELECT n.doc_id, n.node, coalesce(p.pref, 0.0::DOUBLE) AS pref
          FROM nodes n
          LEFT JOIN prefin p ON n.doc_id = p.doc_id AND n.node = p.node),
hasout AS (SELECT DISTINCT doc_id, src_node AS node FROM outw),
pr0 AS (SELECT doc_id, node, pref AS rank FROM prefv)""" + "".join(
        _pg_iters
    ) + """
SELECT doc_id, node, round(rank, 6) AS rank FROM pr3
"""

    # graph_centrality: same micro-world CTEs as d16 up to (sc, eres);
    # undirected 1-hop neighbor sets, common-neighbor count vs the per-doc
    # top-prior center, rank by (common desc, score desc, res_id asc).
    sql["graph_centrality"] = _BASE_CTES + """,
occ2 AS (SELECT doc_id::VARCHAR AS doc_id, pos, surface_form, uri FROM occs),
res AS (SELECT uri, (row_number() OVER (ORDER BY uri) - 1)::INT AS res_id
        FROM (SELECT DISTINCT uri FROM occ2)),
duu AS (SELECT DISTINCT doc_id, uri FROM occ2),
cooc AS (SELECT a.uri AS su, b.uri AS du, count(*) AS cnt
         FROM duu a JOIN duu b ON a.doc_id = b.doc_id AND a.uri < b.uri
         GROUP BY a.uri, b.uri HAVING count(*) >= 3),
eres AS (SELECT r1.res_id AS src, r2.res_id AS dst
         FROM cooc JOIN res r1 ON cooc.su = r1.uri
         JOIN res r2 ON cooc.du = r2.uri),
sc AS (SELECT s.doc_id::VARCHAR AS doc_id, 0 AS span_pos, s.pos::INT AS off,
              r.res_id, d.prior::DOUBLE AS cs
       FROM spots s JOIN dict d ON s.surface_form = d.surface_form
       JOIN res r ON d.uri = r.uri),
nb AS (SELECT src AS r, dst AS nbr FROM eres
       UNION SELECT dst AS r, src AS nbr FROM eres),
cen AS (SELECT doc_id, res_id AS central_res FROM (
          SELECT doc_id, res_id, row_number() OVER (
            PARTITION BY doc_id ORDER BY cs DESC, res_id ASC) AS rn
          FROM sc) WHERE rn = 1),
cnb AS (SELECT c.doc_id, n.nbr FROM cen c JOIN nb n ON c.central_res = n.r),
dcd AS (SELECT DISTINCT doc_id, res_id FROM sc),
rnb AS (SELECT d.doc_id, d.res_id, n.nbr FROM dcd d JOIN nb n ON d.res_id = n.r),
com AS (SELECT r.doc_id, r.res_id, count(*) AS common_nbrs
        FROM rnb r JOIN cnb c ON r.doc_id = c.doc_id AND r.nbr = c.nbr
        GROUP BY r.doc_id, r.res_id)
SELECT s.doc_id, s.off AS "offset", s.res_id, cen.central_res,
       coalesce(com.common_nbrs, 0)::BIGINT AS common_nbrs,
       row_number() OVER (PARTITION BY s.doc_id, s.span_pos, s.off
         ORDER BY coalesce(com.common_nbrs, 0) DESC, s.cs DESC,
                  s.res_id ASC) AS "rank"
FROM sc s
JOIN cen ON s.doc_id = cen.doc_id
LEFT JOIN com ON s.doc_id = com.doc_id AND s.res_id = com.res_id
"""

    sql["eval_linking"] = _PRIOR_CTES + f""",
pred AS (SELECT DISTINCT doc_id, off, surface_form, uri
         FROM ranked WHERE rank = 1),
gd AS (SELECT DISTINCT doc_id::VARCHAR AS doc_id,
              ({_SQL_OFFSET})::INT AS off, surface_form, uri
       FROM occs),
m AS (
  SELECT
    (SELECT count(*) FROM pred p JOIN gd g
       ON p.doc_id = g.doc_id AND p.off = g.off
      AND p.surface_form = g.surface_form AND p.uri = g.uri) AS tp,
    (SELECT count(*) FROM pred) AS predicted,
    (SELECT count(*) FROM gd) AS gold
)
SELECT tp, predicted, gold,
  round(tp / greatest(predicted, 1), 6) AS precision,
  round(tp / greatest(gold, 1), 6) AS recall,
  round(CASE WHEN tp / greatest(predicted, 1) + tp / greatest(gold, 1) > 0
    THEN 2 * (tp / greatest(predicted, 1)) * (tp / greatest(gold, 1))
         / (tp / greatest(predicted, 1) + tp / greatest(gold, 1))
    ELSE 0.0 END, 6) AS f1
FROM m
"""

    sql["dedup_prefix"] = r"""
WITH h AS (
  SELECT doc_id,
         sha256(lower(regexp_replace(substr(text, 1, 40), '\s+', ' ', 'g')))
           AS text_hash
  FROM documents
)
SELECT text_hash, count(*) AS n_dups, min(doc_id) AS keep_id,
       string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id) AS doc_ids
FROM h GROUP BY text_hash HAVING count(*) > 1
"""

    stop_list = ", ".join(f"'{s}'" for s in _EN_STOP)
    sql["text_stats"] = rf"""
WITH w AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
m AS (
  SELECT doc_id,
    len(words) AS n_tokens,
    len(regexp_extract_all(lower(text),
        '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
    (length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')))
      / greatest(length(text), 1) AS praw,
    len(list_intersect(words, [{stop_list}]))
      / greatest(len(list_distinct(words)), 1) AS sraw
  FROM w
)
SELECT doc_id, n_tokens, n_bpe_tokens,
  round(praw, 6) AS punct_ratio,
  round(sraw, 6) AS stopword_ratio,
  round((least(n_tokens / 100.0, 1.0) + (1.0 - least(praw * 5.0, 1.0))
         + least(sraw * 5.0, 1.0)) / 3.0, 6) AS quality
FROM m
"""

    from dbpedia_spotlight_spark.datapipe.textstats import (
        _LANG_MARKERS,
        _SCRIPTS,
    )

    marker_rows = ", ".join(
        "('{}', [{}])".format(lang, ", ".join(f"'{m}'" for m in markers))
        for lang, markers in _LANG_MARKERS.items()
    )
    script_cases = " ".join(
        f"WHEN len(regexp_extract_all(text, '{cls}')) "
        f"/ greatest(length(text), 1) > {thr} THEN '{lang}'"
        for lang, cls, thr in _SCRIPTS
    )
    # shared language-ID CTE body (lang_id + annotator_kappa twins)
    _LANGID_CTES = rf"""
WITH w AS (
  SELECT doc_id, lang, text,
         regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
script AS (
  SELECT doc_id, CASE {script_cases} END AS spick FROM w
),
scored AS (
  SELECT w.doc_id, w.lang, m.mlang,
         len(list_filter(w.words, x -> list_contains(m.markers, x))) AS hits
  FROM w CROSS JOIN (VALUES {marker_rows}) m(mlang, markers)
),
mpick AS (
  SELECT doc_id, lang,
         CASE WHEN hits > 0 THEN mlang ELSE 'und' END AS mp
  FROM scored
  QUALIFY row_number() OVER (
    PARTITION BY doc_id ORDER BY hits DESC, mlang DESC) = 1
),
langpred AS (
  SELECT m.doc_id, m.lang, coalesce(s.spick, m.mp) AS lang_pred
  FROM mpick m JOIN script s ON m.doc_id = s.doc_id
)"""

    sql["lang_id"] = (
        _LANGID_CTES + "\nSELECT doc_id, lang, lang_pred FROM langpred\n"
    )

    # kappa between two independent English detectors: A = the full
    # language-ID heuristic says 'en'; B = the document contains any of
    # the 'en' marker words. Kappa reduces to a ratio of exact integers
    # (one terminal division) — see expectations.cohens_kappa.
    _EN_MARKERS_SQL = (
        "['the', 'and', 'with', 'from', 'this', 'that', 'have', 'was']"
    )
    sql["annotator_kappa"] = (
        _LANGID_CTES
        + f""",
lab AS (
  SELECT (p.lang_pred = 'en')::INT AS a,
         (len(list_intersect(w.words, {_EN_MARKERS_SQL})) > 0)::INT AS b
  FROM langpred p JOIN w ON w.doc_id = p.doc_id
),
c AS (
  SELECT count(*)::BIGINT AS n,
         sum((a = 1 AND b = 1)::INT)::BIGINT AS n11,
         sum((a = 0 AND b = 0)::INT)::BIGINT AS n00,
         sum(a)::BIGINT AS n_a1, sum(b)::BIGINT AS n_b1
  FROM lab
),
e AS (
  SELECT *, n_a1 * n_b1 + (n - n_a1) * (n - n_b1) AS ev FROM c
)
SELECT n, n11, n00, n_a1, n_b1,
       round((n11 + n00)::DOUBLE / n, 6) AS po,
       round(ev::DOUBLE / (n * n), 6) AS pe,
       round(CASE WHEN (n * n - ev) <> 0
                  THEN (n * (n11 + n00) - ev)::DOUBLE
                       / (n * n - ev)::DOUBLE END, 6) AS kappa
FROM e
"""
    )

    sql["knn_cosine"] = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT * FROM e WHERE vec_id < 5),
s AS (
  SELECT q.vec_id AS query_id, e.vec_id AS cand_id,
         list_cosine_similarity(q.v, e.v) AS cos
  FROM q CROSS JOIN e WHERE q.vec_id <> e.vec_id
)
SELECT query_id, cand_id, round(cos, 4) AS cosine, "rank" FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS "rank"
  FROM s
) WHERE "rank" <= 10
"""

    # ---- dedup/LSH family: brute-force / constant-replay oracles ---------

    _SH_TOKS = (
        r"list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), "
        r"x -> x <> '')"
    )
    # exact shingle sets (twin of datapipe.dedup.shingles / shingles_col)
    _SH_SETS = rf"""
tk AS (SELECT doc_id, {_SH_TOKS} AS toks FROM documents),
shs AS (
  SELECT doc_id,
    CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
         WHEN len(toks) < 5 THEN [array_to_string(toks, ' ')]
         ELSE list_distinct([array_to_string(toks[i:i+4], ' ')
                             FOR i IN generate_series(1, len(toks) - 4)])
    END AS s
  FROM tk
),
sets AS (SELECT doc_id, s, len(s) AS n FROM shs),
allp AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
    len(list_intersect(x.s, y.s))::DOUBLE AS inter,
    (x.n + y.n - len(list_intersect(x.s, y.s)))::DOUBLE AS un
  FROM sets x JOIN sets y ON x.doc_id < y.doc_id
),
vp AS (SELECT a, b, inter / un AS jaccard FROM allp
       WHERE un > 0 AND inter / un >= 0.8)
"""

    sql["minhash_near_dups"] = (
        "WITH "
        + _SH_SETS.lstrip()
        + "SELECT a, b, round(jaccard, 4) AS jaccard FROM vp"
    )

    # ngram_jaccard_dups: same brute-force construction at k=3, t=0.5 —
    # the Spark side's prefix filter is lossless, so brute force is the twin
    sql["ngram_jaccard_dups"] = rf"""
WITH tk AS (SELECT doc_id, {_SH_TOKS} AS toks FROM documents),
shs AS (
  SELECT doc_id,
    CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
         WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                             FOR i IN generate_series(1, len(toks) - 2)])
    END AS s
  FROM tk
),
sets AS (SELECT doc_id, s, len(s) AS n FROM shs WHERE len(s) > 0),
allp AS (
  SELECT x.doc_id AS a, y.doc_id AS b,
    len(list_intersect(x.s, y.s))::DOUBLE AS inter,
    (x.n + y.n - len(list_intersect(x.s, y.s)))::DOUBLE AS un
  FROM sets x JOIN sets y ON x.doc_id < y.doc_id
)
SELECT a, b, round(inter / un, 4) AS jaccard FROM allp
WHERE un > 0 AND inter / un >= (0.5)::DOUBLE
"""

    # dedup_spans family: duplicated 5-gram positions over the
    # boilerplate-injected corpus — shared CTE prefix for the two twins
    _SPAN_CTES = rf"""
WITH docs2 AS (
  SELECT doc_id,
    concat_ws(' ', text,
      CASE WHEN doc_id % 6 = 0
           THEN 'the quick brown fox jumps over the lazy dog today'
           ELSE 'a' || doc_id::VARCHAR END,
      CASE WHEN doc_id % 8 = 0
           THEN 'terms of service apply to all content on this site'
           ELSE 'b' || doc_id::VARCHAR END) AS text
  FROM documents),
tk AS (SELECT doc_id, {_SH_TOKS} AS toks FROM docs2),
grams AS (
  SELECT doc_id, u.pos AS pos, u.g AS g FROM (
    SELECT doc_id,
      unnest([{{'pos': i - 1, 'g': array_to_string(toks[i:i+4], ' ')}}
              FOR i IN generate_series(1, len(toks) - 4)]) AS u
    FROM tk WHERE len(toks) >= 5)),
dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
hits AS (SELECT doc_id, pos FROM grams WHERE g IN (SELECT g FROM dup))"""

    # merged maximal spans via the standard gaps-and-islands window
    sql["dedup_spans"] = _SPAN_CTES + r""",
flag AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 5
         THEN 1 ELSE 0 END AS nw
  FROM hits),
isl AS (
  SELECT doc_id, pos,
    sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS UNBOUNDED PRECEDING) AS island
  FROM flag)
SELECT doc_id, min(pos)::BIGINT AS span_start,
       (max(pos) + 4)::BIGINT AS span_end,
       (max(pos) + 5 - min(pos))::BIGINT AS span_tokens
FROM isl GROUP BY doc_id, island
"""

    # cut-out twin: rebuild each doc from its uncovered token positions
    sql["dedup_spans_clean"] = _SPAN_CTES + r""",
covered AS (
  SELECT DISTINCT doc_id, pos + o AS cp
  FROM hits, unnest(generate_series(0, 4)) AS t(o)),
words AS (
  SELECT doc_id, i - 1 AS p, toks[i] AS w
  FROM tk, unnest(generate_series(1, len(toks))) AS s(i)),
kept AS (
  SELECT w.doc_id,
         array_to_string(list(w.w ORDER BY w.p), ' ') AS clean_text,
         count(*) AS nkept
  FROM words w
  LEFT JOIN covered c ON w.doc_id = c.doc_id AND w.p = c.cp
  WHERE c.cp IS NULL
  GROUP BY w.doc_id)
SELECT tk.doc_id,
       coalesce(k.clean_text, '') AS clean_text,
       (len(tk.toks) - coalesce(k.nkept, 0))::BIGINT AS removed_tokens
FROM tk LEFT JOIN kept k ON tk.doc_id = k.doc_id
"""

    sql["dedup_clusters"] = (
        "WITH RECURSIVE "
        + _SH_SETS.lstrip()
        + """,
e AS (SELECT a AS s, b AS d FROM vp UNION SELECT b, a FROM vp),
walk(doc_id, reach) AS (
  SELECT s, d FROM e
  UNION
  SELECT w.doc_id, e2.d FROM walk w JOIN e e2 ON w.reach = e2.s
),
comp AS (SELECT doc_id, least(min(reach), doc_id) AS component
         FROM walk GROUP BY doc_id)
SELECT doc_id, component, doc_id = component AS keep FROM comp
UNION ALL
SELECT doc_id, doc_id, true FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM comp)
"""
    )

    sql["doc_fingerprint"] = rf"""
WITH w AS (SELECT doc_id, {_SH_TOKS} AS words FROM documents)
SELECT doc_id, list_reduce(
  list_prepend(0::BIGINT,
    [ (('0x' || substr(md5(x), 25, 8))::BIGINT % 2147483647)
      FOR x IN words ]),
  (a, h) -> (a * 1000003 + h) % 2147483647) AS fp
FROM w
"""

    _SIMHASH_CTES = rf"""
WITH w AS (SELECT doc_id, {_SH_TOKS} AS toks FROM documents),
h AS (
  SELECT doc_id,
    [{{'hi': ('0x' || substr(md5(t), 17, 8))::BIGINT,
       'lo': ('0x' || substr(md5(t), 25, 8))::BIGINT}} FOR t IN toks] AS hs
  FROM w
),
acc AS (
  SELECT doc_id,
    [ coalesce(list_sum([
        CASE WHEN (CASE WHEN i < 32 THEN (s.lo >> i)
                        ELSE (s.hi >> (i - 32)) END) % 2 = 1
             THEN 1 ELSE -1 END FOR s IN hs ]), 0)
      FOR i IN generate_series(0, 63) ] AS a
  FROM h
),
cv AS (
  SELECT doc_id,
    [ list_sum([ CASE WHEN a[c * 16 + j + 1] > 0
                      THEN (1 << j)::BIGINT ELSE 0::BIGINT END
                 FOR j IN generate_series(0, 15) ])::BIGINT
      FOR c IN generate_series(0, 3) ] AS cvs
  FROM acc
)"""

    sql["simhash_buckets"] = _SIMHASH_CTES + """
SELECT doc_id,
  lpad(lower(to_hex(cvs[4])), 4, '0') || lpad(lower(to_hex(cvs[3])), 4, '0')
    || lpad(lower(to_hex(cvs[2])), 4, '0')
    || lpad(lower(to_hex(cvs[1])), 4, '0') AS simhash_hex,
  generate_subscripts(cvs, 1) - 1 AS chunk,
  unnest(cvs) AS chunk_val
FROM cv
"""

    # simhash_pairs: docs sharing any 16-bit chunk (pigeonhole candidates,
    # Hamming < 4 guaranteed covered) + the exact Hamming distance —
    # bit_count per chunk XOR == popcount over the full 64-bit XOR.
    sql["simhash_pairs"] = _SIMHASH_CTES + """,
ch AS (
  SELECT doc_id, cvs, generate_subscripts(cvs, 1) AS chunk,
         unnest(cvs) AS chunk_val
  FROM cv
)
SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
  ( bit_count(xor(x.cvs[1], y.cvs[1])) + bit_count(xor(x.cvs[2], y.cvs[2]))
  + bit_count(xor(x.cvs[3], y.cvs[3])) + bit_count(xor(x.cvs[4], y.cvs[4]))
  )::INT AS hamming
FROM ch x JOIN ch y
  ON x.chunk = y.chunk AND x.chunk_val = y.chunk_val
 AND x.doc_id < y.doc_id
"""

    # lsh_topk: replay the exact hyperplane constants (same numpy seeds as
    # datapipe.similarity.lsh_topk) so bucketing, candidate union and cosine
    # re-rank are all reproduced in SQL.
    import numpy as _np

    def _bucket_expr(vec: str, seed: int) -> str:
        rng = _np.random.RandomState(seed)
        planes = rng.normal(size=(6, 64))
        terms = []
        for i in range(6):
            consts = ", ".join(repr(float(x)) for x in planes[i])
            terms.append(
                f"(CASE WHEN list_inner_product({vec}, [{consts}]) > 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        return "(" + " + ".join(terms) + ")"

    _lsh_tables = "\nUNION\n".join(
        f"SELECT q.query_id, c.vec_id AS cand_id FROM q JOIN e c "
        f"ON {_bucket_expr('q.qv', 42 + t)} = {_bucket_expr('c.v', 42 + t)} "
        f"AND q.query_id <> c.vec_id"
        for t in range(4)
    )
    sql["events_windowed"] = """
WITH c AS (
  SELECT date_trunc('hour', ts) AS ws, event_type, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS ws, event_type, n, "rank"
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY ws ORDER BY n DESC, event_type ASC) AS "rank"
  FROM c
) WHERE "rank" <= 3
"""

    # sessionize: gaps-and-islands twin of session_window — merge test on
    # the previous event (events sorted by ts, so lag IS the running max),
    # island id = running sum of breaks, end = last + gap. Spark merges an
    # event at EXACTLY prev+gap (inclusive window end — probed), so the
    # break condition is strictly >
    sql["sessionize"] = """
WITH o AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
  FROM events
),
g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
  epoch_us(min(ts)) AS session_start_us,
  epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us,
  count(*)::BIGINT AS n_events,
  round(sum(value), 6) AS total_value
FROM g GROUP BY user_id, sid
"""

    # events_props: JSON path extraction twin (json_extract_string =
    # get_json_object on scalar paths)
    sql["events_props"] = """
WITH e AS (
  SELECT event_type,
         json_extract_string(props, '$.k')::BIGINT AS k,
         value
  FROM events
)
SELECT event_type, k % 10 AS k_bucket, count(*)::BIGINT AS n,
       round(sum(value), 6) AS sum_value, max(k) AS max_k
FROM e GROUP BY 1, 2
"""

    # docs_rollup / events_pivot: ROLLUP grouping sets and a static-list
    # pivot as conditional aggregation
    sql["docs_rollup"] = """
SELECT coalesce(source, '<all>') AS source,
       coalesce(lang, '<all>') AS lang,
       count(*)::BIGINT AS n_docs,
       round(avg(n_chars), 6) AS avg_chars
FROM documents GROUP BY ROLLUP(source, lang)
"""

    sql["events_pivot"] = """
SELECT user_id,
  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
  sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_error,
  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
  sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS n_signup,
  sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view
FROM events GROUP BY user_id
"""

    # length_quantiles / event_value_stats: exact continuous quantiles
    # (quantile_cont == percentile, R-7) and moment aggregates
    sql["length_quantiles"] = """
SELECT source,
       round(quantile_cont(n_chars, 0.5), 6) AS p50,
       round(quantile_cont(n_chars, 0.9), 6) AS p90,
       round(quantile_cont(n_chars, 0.99), 6) AS p99
FROM documents GROUP BY source
"""

    sql["event_value_stats"] = """
WITH e AS (
  SELECT event_type, value,
         json_extract_string(props, '$.k')::DOUBLE AS k
  FROM events
)
SELECT event_type, count(*)::BIGINT AS n,
       round(stddev_samp(value), 6) AS sd_value,
       round(var_samp(value), 6) AS var_value,
       round(corr(value, k), 6) AS corr_vk
FROM e GROUP BY event_type
"""

    # session_events: independent session recomputation + plain BETWEEN
    # range join checks the binned range join end to end
    sql["session_events"] = """
WITH o AS (
  SELECT user_id, event_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              <= INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS brk
  FROM events
),
g AS (
  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
),
s AS (
  SELECT user_id,
    epoch_us(min(ts)) AS session_start_us,
    epoch_us(max(ts) + INTERVAL 30 MINUTE) AS session_end_us
  FROM g GROUP BY user_id, sid
)
SELECT s.user_id, s.session_start_us, count(*)::BIGINT AS n_points
FROM s JOIN events e
  ON e.user_id = s.user_id
  AND epoch_us(e.ts) >= s.session_start_us
  AND epoch_us(e.ts) < s.session_end_us
GROUP BY 1, 2
"""

    # daily_dense: generate_series date spine == sequence(lo, hi, 1 day)
    sql["daily_dense"] = """
WITH daily AS (
  SELECT user_id, ts::DATE AS d, count(*) AS n
  FROM events GROUP BY 1, 2
),
rng AS (SELECT user_id, min(d) AS lo, max(d) AS hi FROM daily GROUP BY 1),
spine AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
  FROM rng
)
SELECT s.user_id, strftime(s.d, '%Y-%m-%d') AS day,
       coalesce(daily.n, 0)::BIGINT AS n
FROM spine s LEFT JOIN daily ON s.user_id = daily.user_id AND s.d = daily.d
"""

    # fuzzy_words: identical blocking + levenshtein (same classic DP in
    # both engines); top-100 pinned by (n desc, word asc) row_number
    sql["fuzzy_words"] = r"""
WITH cnt AS (
  SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS word
  FROM documents
),
c2 AS (SELECT word, count(*) AS n FROM cnt GROUP BY word),
top AS (
  SELECT word, substr(word, 1, 1) AS blk
  FROM (SELECT word, n, row_number() OVER (ORDER BY n DESC, word) AS rk
        FROM c2)
  WHERE rk <= 100
)
SELECT a.word AS w1, b.word AS w2,
       levenshtein(a.word, b.word)::BIGINT AS dist
FROM top a JOIN top b
  ON a.blk = b.blk AND a.word < b.word
 AND abs(length(a.word) - length(b.word)) <= 1
WHERE levenshtein(a.word, b.word) <= 3
"""

    # tpch_priority: EXISTS == left-semi; timestamp literals compare the
    # same way in both engines
    sql["tpch_priority"] = """
SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders o
WHERE o.o_orderdate >= timestamp '1997-01-01'
  AND o.o_orderdate < timestamp '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
  )
GROUP BY o_orderpriority
"""

    # events_join_within: plain BETWEEN join twin of the stream-stream
    # event-time join
    sql["events_join_within"] = """
SELECT p.user_id,
       p.event_id AS purchase_id,
       c.event_id AS click_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
FROM events p
JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.user_id = p.user_id
 AND c.ts <= p.ts
 AND c.ts >= p.ts - INTERVAL 30 MINUTE
"""

    # embedding_pool: positioned unnest via a struct comprehension
    # (DuckDB has no WITH ORDINALITY) == posexplode, 1-based fixed by
    # i-1; float32 upcast to double before avg in both engines
    sql["embedding_pool"] = """
WITH ex AS (
  SELECT label,
         unnest([{'pos': i - 1, 'v': embedding[i]::DOUBLE}
                 FOR i IN generate_series(1, len(embedding))],
                recursive := true)
  FROM embeddings
)
SELECT label, pos, round(avg(v), 6) AS v, count(*)::BIGINT AS n_vecs
FROM ex GROUP BY label, pos
"""

    # tpch_pricing / tpch_revenue: classic OLAP twins on the TPC-H-ish
    # tables (identical SQL semantics both engines)
    sql["tpch_pricing"] = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice), 6) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6)
         AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       round(avg(l_discount), 6) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '2000-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""

    sql["tpch_revenue"] = """
SELECT n.n_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
       count(*)::BIGINT AS n_items
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE o.o_orderdate >= timestamp '1997-01-01 00:00:00'
  AND o.o_orderdate < timestamp '1998-01-01 00:00:00'
GROUP BY n.n_name
"""

    # ccnet_buckets: unigram-LM score (same CTEs as unigram_logprob),
    # per-lang tercile thresholds (quantile_cont == percentile, R-7),
    # all comparisons on 6-dp-rounded values
    sql["ccnet_buckets"] = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
tok AS (SELECT doc_id, unnest(words) AS token FROM w),
cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
tot AS (SELECT sum(n)::DOUBLE AS nn, count(*)::DOUBLE AS vv FROM cnt),
lm AS (SELECT token, ln((n + 1.0) / (nn + vv)) AS logp FROM cnt, tot),
per AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token),
lp AS (
  SELECT p.doc_id, round(sum(p.c * l.logp) / sum(p.c), 6) AS lp
  FROM per p JOIN lm l ON p.token = l.token GROUP BY p.doc_id
),
j AS (
  SELECT d.doc_id, d.lang, lp.lp
  FROM documents d JOIN lp ON d.doc_id = lp.doc_id
),
th AS (
  SELECT lang, round(quantile_cont(lp, 1.0/3.0), 6) AS t1,
               round(quantile_cont(lp, 2.0/3.0), 6) AS t2
  FROM j GROUP BY lang
)
SELECT j.doc_id, j.lang, j.lp,
  CASE WHEN j.lp <= th.t1 THEN 'tail'
       WHEN j.lp <= th.t2 THEN 'middle'
       ELSE 'head' END AS bucket
FROM j JOIN th ON j.lang = th.lang
"""

    # vocab_setops: INTERSECT/EXCEPT distinct semantics match exactly
    # (INTERSECT binds tighter than EXCEPT in both engines)
    sql["vocab_setops"] = r"""
WITH w AS (
  SELECT source, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM documents
),
b AS (
  SELECT source,
         unnest([ws[i] || ' ' || ws[i+1]
                 FOR i IN generate_series(1, len(ws) - 1)]) AS gram
  FROM w
)
SELECT DISTINCT gram FROM b WHERE source = 'src0'
INTERSECT
SELECT DISTINCT gram FROM b WHERE source = 'src1'
EXCEPT
SELECT DISTINCT gram FROM b WHERE source = 'src2'
"""

    # zorder_keys: the bit-interleave expression generated once and
    # shared verbatim with the Spark side (zorder_key_sql)
    from dbpedia_spotlight_spark.functions.zorder import zorder_key_sql

    sql["zorder_keys"] = f"""
SELECT event_id,
  {zorder_key_sql("user_id", "json_extract_string(props, '$.k')::BIGINT", 16)} AS zkey
FROM events
"""

    # dedup_incremental: same batch synthesis, same sha256-normalized
    # equivalence, base wins then min-id-within-batch
    sql["dedup_incremental"] = r"""
WITH nb AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 1
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 20 = 0
),
bh AS (
  SELECT DISTINCT sha256(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS h
  FROM documents WHERE doc_id % 4 <> 0
),
nh AS (
  SELECT doc_id,
         sha256(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS h,
         min(doc_id) OVER (
           PARTITION BY sha256(lower(regexp_replace(text, '\s+', ' ', 'g')))
         ) AS first_id
  FROM nb
)
SELECT n.doc_id,
  (b.h IS NULL AND n.doc_id = n.first_id) AS keep,
  CASE WHEN b.h IS NOT NULL THEN 'base'
       WHEN n.doc_id <> n.first_id THEN 'batch' END AS reason
FROM nh n LEFT JOIN bh b ON n.h = b.h
"""

    # event_deltas: identical analytic window frames in both engines
    sql["event_deltas"] = """
SELECT event_id, user_id,
  round(value - lag(value) OVER w, 6) AS delta,
  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
        ROWS UNBOUNDED PRECEDING), 6) AS running,
  ntile(4) OVER w AS quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

    # events_asof: DuckDB's native ASOF LEFT JOIN is the oracle for our
    # union-and-fill composition; >= keeps the same equal-ts semantics
    sql["events_asof"] = """
WITH l AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
r AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY 1, 2
)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       epoch_us(r.ts) AS click_ts_us,
       round(r.click_value, 6) AS click_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""

    # pii_scrub: same injection, same regexes (taken from PII_PATTERNS so
    # Spark and oracle can't drift), same replacement order. DuckDB regexes
    # are RE2; every pattern is lookaround-free so Java-regex and RE2
    # semantics coincide. regexp_replace needs the 'g' flag (DuckDB
    # replaces first-match-only by default; Spark replaces all).
    from dbpedia_spotlight_spark.datapipe.pii import PII_PATTERNS

    _pii = """
WITH s0 AS (
  SELECT doc_id,
    concat_ws(' ', text,
      CASE WHEN doc_id % 3 = 0
           THEN 'contact user' || doc_id::VARCHAR || '@example.org'
           ELSE 'no email here' END,
      CASE WHEN doc_id % 4 = 0
           THEN 'see https://ex.org/page/' || doc_id::VARCHAR || '?u=a@b.io'
           ELSE '-' END,
      CASE WHEN doc_id % 5 = 0
           THEN 'host 10.0.' || (doc_id % 200)::VARCHAR || '.7'
           ELSE '-' END,
      CASE WHEN doc_id % 7 = 0
           THEN 'call +1 555-01' || lpad((doc_id % 100)::VARCHAR, 2, '0')
           ELSE '-' END) AS t0
  FROM documents
)"""
    for _i, (_name, _pat, _repl) in enumerate(PII_PATTERNS):
        _pii += (
            ", s{n} AS (SELECT doc_id, "
            "len(regexp_extract_all(t{i}, '{p}')) AS n_{name}, "
            "regexp_replace(t{i}, '{p}', '{r}', 'g') AS t{n}"
            "{carry} FROM s{i})"
        ).format(
            i=_i,
            n=_i + 1,
            p=_pat,
            r=_repl,
            name=_name,
            carry="".join(
                f", n_{nm}" for nm, _, _ in PII_PATTERNS[:_i]
            ),
        )
    _pii += (
        "\nSELECT doc_id, "
        + ", ".join(f"n_{nm}" for nm, _, _ in PII_PATTERNS)
        + f", t{len(PII_PATTERNS)} AS scrubbed FROM s{len(PII_PATTERNS)}"
    )
    sql["pii_scrub"] = _pii

    sql["repetition_stats"] = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(words) AS w, generate_subscripts(words, 1) AS p
  FROM w
),
big AS (
  SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
  FROM tok
),
agg AS (
  SELECT doc_id, count(w) AS n_words, count(DISTINCT w) AS nd,
         count(w2) AS nb,
         count(DISTINCT CASE WHEN w2 IS NOT NULL
                             THEN w || ' ' || w2 END) AS ndb
  FROM big GROUP BY doc_id
),
top AS (
  SELECT doc_id, max(c) AS topc FROM (
    SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
  ) GROUP BY doc_id
)
SELECT a.doc_id, a.n_words,
  round(CASE WHEN a.n_words = 0 THEN 0 ELSE 1 - a.nd / a.n_words END, 6)
    AS dup_word_frac,
  round(coalesce(t.topc, 0) / greatest(a.n_words, 1), 6) AS top_word_frac,
  round(CASE WHEN a.nb = 0 THEN 0 ELSE 1 - a.ndb / a.nb END, 6)
    AS dup_2gram_frac
FROM agg a LEFT JOIN top t ON a.doc_id = t.doc_id
"""

    # seq_pack: the same concat-and-chunk math over a plain window prefix
    # sum (the oracle may funnel through one partition; the Spark side may
    # not — that asymmetry is the point of the distributed prefix sum)
    # doc_chunks: sliding windows per doc, max 40 / stride 30
    sql["doc_chunks"] = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS toks
  FROM documents
),
b AS (SELECT doc_id, toks, len(toks)::BIGINT AS n FROM t WHERE len(toks) > 0),
nc AS (
  SELECT doc_id, toks, n,
    CASE WHEN n <= 40 THEN 1
         ELSE 1 + (n - 40 + 29) // 30 END AS n_chunks
  FROM b),
ch AS (
  SELECT doc_id, toks, n,
    unnest(generate_series(0, n_chunks - 1)) AS chunk_idx
  FROM nc)
SELECT doc_id, chunk_idx,
  (chunk_idx * 30)::BIGINT AS tok_start,
  least(40, n - chunk_idx * 30)::BIGINT AS n_tok_slice,
  array_to_string(
    toks[chunk_idx * 30 + 1 : chunk_idx * 30 + least(40, n - chunk_idx * 30)],
    ' ') AS chunk_text
FROM ch
"""

    sql["seq_pack"] = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
n AS (
  SELECT doc_id, words, len(words)::BIGINT AS n_tok FROM t
),
c AS (
  SELECT doc_id, words, n_tok,
    coalesce(SUM(n_tok) OVER (ORDER BY doc_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      AS tok_offset
  FROM n
),
s AS (
  SELECT doc_id, words, n_tok, tok_offset,
    unnest(generate_series(tok_offset // 512,
                           (tok_offset + n_tok - 1) // 512)) AS chunk_id
  FROM c WHERE n_tok > 0
),
b AS (
  SELECT chunk_id, doc_id, words, n_tok, tok_offset,
    greatest(chunk_id * 512 - tok_offset, 0)::BIGINT AS tok_start,
    least((chunk_id + 1) * 512 - tok_offset, n_tok)::BIGINT AS tok_end
  FROM s
)
SELECT chunk_id, doc_id, tok_start,
  (tok_end - tok_start)::BIGINT AS n_tok_slice,
  array_to_string(list_slice(words, tok_start + 1, tok_end), ' ')
    AS chunk_text
FROM b
"""

    sql["stratified_sample"] = r"""
SELECT doc_id, source FROM documents
WHERE ('0x' || substr(md5(doc_id::VARCHAR), 25, 8))::BIGINT % 10000 <
  CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
              WHEN 'src2' THEN 2500 ELSE 1000 END
"""

    # ivf_topk: replay the seeded-gaussian centroids; cell assignment is
    # argmin over (|c|² - 2·x·c) with first-min tie-break (list_indexof =
    # numpy stable argsort), queries probe their 4 nearest cells.
    _ivf_cents = _np.random.RandomState(7).normal(size=(16, 64))
    _ivf_cnorm = (_ivf_cents * _ivf_cents).sum(axis=1)

    def _ivf_scores(vec: str) -> str:
        terms = []
        for j in range(16):
            consts = ", ".join(repr(float(x)) for x in _ivf_cents[j])
            terms.append(
                f"({repr(float(_ivf_cnorm[j]))}"
                f" - 2.0 * list_inner_product({vec}, [{consts}]))"
            )
        return "[" + ", ".join(terms) + "]"

    # semantic_dedup: replay the unit-normalized centroids (L2 argmin ==
    # max-dot assignment); same first-min tie-break as ivf_topk.
    _sd_cents = _ivf_cents / _np.linalg.norm(_ivf_cents, axis=1, keepdims=True)
    _sd_cnorm = (_sd_cents * _sd_cents).sum(axis=1)

    def _sd_scores(vec: str) -> str:
        terms = []
        for j in range(16):
            consts = ", ".join(repr(float(x)) for x in _sd_cents[j])
            terms.append(
                f"({repr(float(_sd_cnorm[j]))}"
                f" - 2.0 * list_inner_product({vec}, [{consts}]))"
            )
        return "[" + ", ".join(terms) + "]"

    sql["semantic_dedup"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
es AS (SELECT vec_id, v, {_sd_scores('v')} AS sc FROM e),
cell AS (SELECT vec_id, v,
                (list_indexof(sc, list_min(sc)) - 1)::BIGINT AS cell
         FROM es),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM cell a JOIN cell b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.v, b.v) >= (0.35)::DOUBLE
)
SELECT c.vec_id, c.cell, d.vec_id IS NULL AS keep
FROM cell c LEFT JOIN dropped d ON c.vec_id = d.vec_id
"""

    sql["ivf_topk"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
es AS (SELECT vec_id, v, {_ivf_scores('v')} AS sc FROM e),
cell AS (SELECT vec_id, v, list_indexof(sc, list_min(sc)) - 1 AS cell
         FROM es),
q AS (SELECT vec_id AS query_id, v AS qv, sc FROM es WHERE vec_id < 5),
qprobe AS (
  SELECT query_id, cell FROM (
    SELECT query_id, gs.i - 1 AS cell,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sc[gs.i] ASC, gs.i ASC) AS rn
    FROM q, generate_series(1, 16) AS gs(i)
  ) WHERE rn <= 4
),
pairs AS (
  SELECT DISTINCT p.query_id, c.vec_id AS cand_id
  FROM qprobe p JOIN cell c ON p.cell = c.cell
  WHERE p.query_id <> c.vec_id
),
s AS (
  SELECT p.query_id, p.cand_id, list_cosine_similarity(q2.qv, c.v) AS cos
  FROM pairs p JOIN q q2 USING (query_id) JOIN e c ON p.cand_id = c.vec_id
)
SELECT query_id, cand_id, round(cos, 4) AS cosine, "rank" FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS "rank"
  FROM s
) WHERE "rank" <= 10
"""

    # dedup_embedding: same plane replay; candidate pairs inside any of the
    # 4 tables' buckets, verified at exact cosine >= 0.3 (filter on the
    # unrounded value, round after — matching the Spark order).
    _emb_tables = "\nUNION\n".join(
        f"SELECT a.vec_id AS a, b.vec_id AS b FROM e a JOIN e b "
        f"ON {_bucket_expr('a.v', 42 + t)} = {_bucket_expr('b.v', 42 + t)} "
        f"AND a.vec_id < b.vec_id"
        for t in range(4)
    )
    sql["dedup_embedding"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
pairs AS (
{_emb_tables}
)
SELECT p.a, p.b,
       round(list_cosine_similarity(ea.v, eb.v), 4) AS cosine
FROM (SELECT DISTINCT a, b FROM pairs) p
JOIN e ea ON p.a = ea.vec_id
JOIN e eb ON p.b = eb.vec_id
WHERE list_cosine_similarity(ea.v, eb.v) >= (0.3)::DOUBLE
"""

    sql["lsh_topk"] = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
pairs AS (
{_lsh_tables}
),
s AS (
  SELECT p.query_id, p.cand_id,
         list_cosine_similarity(q.qv, c.v) AS cos
  FROM pairs p JOIN q USING (query_id) JOIN e c ON p.cand_id = c.vec_id
)
SELECT query_id, cand_id, round(cos, 4) AS cosine, "rank" FROM (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cos DESC, cand_id ASC) AS "rank"
  FROM s
) WHERE "rank" <= 10
"""

    sql["interleave_roundtrip"] = """
WITH t AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks,
         len(string_split(text, ' ')) AS n
  FROM documents
)
SELECT doc_id,
  CASE WHEN n >= 2 THEN 3 ELSE 1 END AS n_spans,
  CASE WHEN n >= 2 THEN 'text,media,text' ELSE 'text' END AS kinds,
  CASE WHEN n >= 2
       THEN array_to_string(list_slice(toks, 1, ceil(n / 2)::INT), ' ')
       ELSE text END AS first_text,
  CASE WHEN n >= 2 THEN 'img://' || doc_id::VARCHAR END AS media_ref,
  true AS ok
FROM t
"""

    # quality_filter: the Gopher composite gate — repetition signals +
    # punct/stopword ratios, all rounded to 6 dp BEFORE thresholding so
    # keep/drop is bit-stable; concat_ws skips NULL CASE arms in both
    # engines, giving identical reason strings
    sql["quality_filter"] = rf"""
WITH w AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
tok AS (
  SELECT doc_id, unnest(words) AS w, generate_subscripts(words, 1) AS p
  FROM w
),
big AS (
  SELECT doc_id, w, lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS w2
  FROM tok
),
agg AS (
  SELECT doc_id, count(w) AS n_words, count(DISTINCT w) AS nd,
         count(w2) AS nb,
         count(DISTINCT CASE WHEN w2 IS NOT NULL
                             THEN w || ' ' || w2 END) AS ndb
  FROM big GROUP BY doc_id
),
top AS (
  SELECT doc_id, max(c) AS topc FROM (
    SELECT doc_id, w, count(*) AS c FROM tok GROUP BY doc_id, w
  ) GROUP BY doc_id
),
sig AS (
  SELECT a.doc_id, a.n_words,
    round(CASE WHEN a.n_words = 0 THEN 0
               ELSE 1 - a.nd / a.n_words END, 6) AS dwf,
    round(coalesce(t.topc, 0) / greatest(a.n_words, 1), 6) AS twf,
    round(CASE WHEN a.nb = 0 THEN 0 ELSE 1 - a.ndb / a.nb END, 6) AS dbf
  FROM agg a LEFT JOIN top t ON a.doc_id = t.doc_id
),
pr AS (
  SELECT doc_id,
    round((length(text) - length(regexp_replace(text, '[[:punct:]]', '',
          'g'))) / greatest(length(text), 1), 6) AS praw,
    round(len(list_intersect(words, [{stop_list}]))
      / greatest(len(list_distinct(words)), 1), 6) AS sraw
  FROM w
),
fl AS (
  SELECT s.doc_id, s.n_words,
    concat_ws(',',
      CASE WHEN s.dbf > (0.2)::DOUBLE THEN 'dup_2grams' END,
      CASE WHEN s.dwf > (0.3)::DOUBLE THEN 'dup_words' END,
      CASE WHEN p.sraw = (0.0)::DOUBLE THEN 'no_stopwords' END,
      CASE WHEN p.praw > (0.3)::DOUBLE THEN 'punct_heavy' END,
      CASE WHEN s.n_words > 100000 THEN 'too_long' END,
      CASE WHEN s.n_words < 50 THEN 'too_short' END,
      CASE WHEN s.twf > (0.2)::DOUBLE THEN 'top_word' END
    ) AS reasons
  FROM sig s JOIN pr p ON s.doc_id = p.doc_id
)
SELECT doc_id, n_words, (reasons = '') AS keep, reasons FROM fl
"""

    # unigram_logprob: add-one-smoothed corpus unigram LM, per-doc mean
    # log-probability (ln parity Spark/DuckDB holds; 6 dp absorbs float
    # summation order)
    sql["unigram_logprob"] = r"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS words
  FROM documents
),
tok AS (SELECT doc_id, unnest(words) AS token FROM w),
cnt AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
tot AS (SELECT sum(n)::DOUBLE AS nn, count(*)::DOUBLE AS vv FROM cnt),
lm AS (SELECT token, ln((n + 1.0) / (nn + vv)) AS logp FROM cnt, tot),
per AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY doc_id, token)
SELECT p.doc_id, sum(p.c)::BIGINT AS n_words,
       round(sum(p.c * l.logp) / sum(p.c), 6) AS logprob
FROM per p JOIN lm l ON p.token = l.token
GROUP BY p.doc_id
"""

    # dsir_select: hashed-n-gram bucket LMs (md5-tail % 4096, identical
    # bits both engines), add-one smoothing over the FIXED bucket vocab,
    # per-doc log-ratio sum, Gumbel key replayed from md5(doc_id)
    sql["dsir_select"] = r"""
WITH base AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ws
  FROM documents
),
grams AS (
  SELECT doc_id, unnest(
    ws || [ws[i] || ' ' || ws[i+1] FOR i IN generate_series(1, len(ws) - 1)]
  ) AS gram
  FROM base
),
feats AS (
  SELECT doc_id,
         ('0x' || substr(md5(gram), 25, 8))::BIGINT % 4096 AS bucket,
         count(*) AS c
  FROM grams GROUP BY doc_id, bucket
),
qn AS (SELECT bucket, sum(c) AS nq FROM feats WHERE doc_id % 11 <> 0 GROUP BY bucket),
pn AS (SELECT bucket, sum(c) AS np FROM feats WHERE doc_id % 11 = 0 GROUP BY bucket),
qt AS (SELECT sum(nq)::DOUBLE AS nn FROM qn),
pt AS (SELECT coalesce(sum(np), 0)::DOUBLE AS nn FROM pn),
ratio AS (
  SELECT q.bucket,
    ln((coalesce(p.np, 0) + 1.0) / (pt.nn + 4096.0))
      - ln((q.nq + 1.0) / (qt.nn + 4096.0)) AS logr
  FROM qn q LEFT JOIN pn p ON q.bucket = p.bucket, qt, pt
),
w AS (
  SELECT f.doc_id, sum(f.c)::BIGINT AS n_grams, sum(f.c * r.logr) AS logw
  FROM feats f JOIN ratio r ON f.bucket = r.bucket
  WHERE f.doc_id % 11 <> 0
  GROUP BY f.doc_id
),
keyed AS (
  SELECT doc_id, n_grams, logw,
    logw + (-ln(-ln(
      ((('0x' || substr(md5(doc_id::VARCHAR), 25, 8))::BIGINT + 1.0)
        / 4294967297.0)))) AS key
  FROM w
)
SELECT doc_id, n_grams, round(logw, 6) AS logw, round(key, 6) AS key
FROM keyed ORDER BY key DESC, doc_id LIMIT 100
"""

    # decontaminate: shared-shingle counts on strings (Spark counts the
    # same sets as 64-bit hashes)
    sql["decontaminate"] = rf"""
WITH tk AS (SELECT doc_id, {_SH_TOKS} AS toks FROM documents),
shs AS (
  SELECT doc_id,
    CASE WHEN len(toks) = 0 THEN []::VARCHAR[]
         WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
         ELSE list_distinct([array_to_string(toks[i:i+2], ' ')
                             FOR i IN generate_series(1, len(toks) - 2)])
    END AS s
  FROM tk
),
ev AS (SELECT DISTINCT unnest(s) AS g FROM shs WHERE doc_id % 97 = 0),
tr AS (SELECT doc_id, unnest(s) AS g FROM shs WHERE doc_id % 97 <> 0)
SELECT t.doc_id, count(*)::BIGINT AS n_hit
FROM tr t JOIN ev e ON t.g = e.g
GROUP BY t.doc_id
"""

    # ------------------------------------------------------------------
    # round-4: SPARQL 1.1 paths / multi-OPTIONAL / multi-var VALUES over
    # the shared geo triple CTE, and the S12 JSON/XML serializers
    # ------------------------------------------------------------------

    # kg_path_star: <within>* = recursive closure UNION the zero-length
    # identity over ALL graph terms (SPARQL §18.4), joined from inNation
    sql["kg_path_star"] = f"""
WITH RECURSIVE {_KG_GEO_CTE.lstrip()},
e AS (SELECT subj, obj FROM tr WHERE pred = 'within'),
cl AS (
  SELECT subj, obj FROM e
  UNION
  SELECT c.subj, e.obj FROM cl c JOIN e ON c.obj = e.subj
),
terms AS (SELECT subj AS t FROM tr UNION SELECT obj FROM tr),
star AS (
  SELECT t AS subj, t AS obj FROM terms
  UNION
  SELECT subj, obj FROM cl
)
SELECT DISTINCT cn.subj AS c, s.obj AS a
FROM (SELECT subj, obj FROM tr WHERE pred = 'inNation') cn
JOIN star s ON s.subj = cn.obj
"""

    # kg_rdf_lists: invert the list synthesis directly — pos is the
    # 0-based nationkey rank within the region, head is that region's
    # cell 0 (the operator recovers exactly this from first/rest edges)
    sql["kg_rdf_lists"] = """
SELECT 'cell:r' || n_regionkey::VARCHAR || ':0' AS head,
       (ROW_NUMBER() OVER (PARTITION BY n_regionkey ORDER BY n_nationkey)
        - 1)::BIGINT AS pos,
       'n' || n_nationkey::VARCHAR AS member
FROM nation
"""

    # kg_reify: the four reification legs per distinct geo fact, statement
    # id = md5 of the 0x1f-joined fact (matches Spark's md5/concat_ws)
    sql["kg_reify"] = f"""
WITH {_KG_GEO_CTE.lstrip()},
facts AS (SELECT DISTINCT subj, pred, obj FROM tr),
sid AS (
  SELECT 'stmt:' || md5(subj || chr(31) || pred || chr(31) || obj) AS s,
         subj, pred, obj
  FROM facts
)
SELECT s AS subj, 'rdf:type' AS pred, 'rdf:Statement' AS obj FROM sid
UNION ALL SELECT s, 'rdf:subject', subj FROM sid
UNION ALL SELECT s, 'rdf:predicate', pred FROM sid
UNION ALL SELECT s, 'rdf:object', obj FROM sid
"""

    # kg_unreify: the round trip must reproduce the distinct fact set
    sql["kg_unreify"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT DISTINCT subj, pred, obj FROM tr
"""

    # kg_coref: single-token mentions -> containment == equality, so the
    # chains are per-(doc, sf) position runs: nearest-earlier antecedent
    # and first-occurrence chain root, both plain window functions
    sql["kg_coref"] = _BASE_CTES + """
SELECT doc_id, pos, surface_form,
       max(pos) OVER (
         PARTITION BY doc_id, surface_form ORDER BY pos
         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
       ) AS antecedent_pos,
       min(pos) OVER (PARTITION BY doc_id, surface_form) AS chain_id
FROM occs
"""

    # kg_pred_align: instance-pair Jaccard between the geo KB and its
    # renamed partial twin
    sql["kg_pred_align"] = f"""
WITH {_KG_GEO_CTE.lstrip()},
kb1 AS (SELECT DISTINCT pred AS pred1, subj, obj FROM tr),
kb2 AS (
  SELECT DISTINCT pred2, subj, obj FROM (
    SELECT 'locatedIn' AS pred2, 'c' || c_custkey::VARCHAR AS subj,
           'n' || c_nationkey::VARCHAR AS obj
    FROM customer WHERE c_custkey % 2 = 0
    UNION ALL
    SELECT 'containedBy', 'n' || n_nationkey::VARCHAR,
           'r' || n_regionkey::VARCHAR FROM nation
    UNION ALL
    SELECT 'label', 'n' || n_nationkey::VARCHAR, n_name FROM nation
    UNION ALL
    SELECT 'label', 'r' || r_regionkey::VARCHAR, r_name FROM region
  )
),
inter AS (
  SELECT a.pred1, b.pred2, count(*) AS overlap
  FROM kb1 a JOIN kb2 b ON a.subj = b.subj AND a.obj = b.obj
  GROUP BY 1, 2
),
s1 AS (SELECT pred1, count(*) AS n1 FROM kb1 GROUP BY 1),
s2 AS (SELECT pred2, count(*) AS n2 FROM kb2 GROUP BY 1)
SELECT i.pred1, i.pred2, i.overlap, s1.n1, s2.n2,
       round(i.overlap / (s1.n1 + s2.n2 - i.overlap), 6) AS jaccard
FROM inter i JOIN s1 USING (pred1) JOIN s2 USING (pred2)
WHERE i.overlap / (s1.n1 + s2.n2 - i.overlap) >= 0.2
"""

    # kg_subsumption: instance-overlap confidence over the synthesized
    # double-typed instances
    sql["kg_subsumption"] = """
WITH inst AS (
  SELECT DISTINCT subj AS i, cls FROM (
    SELECT 'c' || c_custkey::VARCHAR AS subj, 'Customer' AS cls
    FROM customer
    UNION ALL
    SELECT 'c' || c_custkey::VARCHAR, 'BuildingCustomer'
    FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT 'n' || n_nationkey::VARCHAR, 'Nation' FROM nation
    UNION ALL
    SELECT 'n' || n_nationkey::VARCHAR, 'AsiaNation'
    FROM nation WHERE n_regionkey = 2
  )
),
sizes AS (SELECT cls, count(*) AS n FROM inst GROUP BY 1),
pairs AS (
  SELECT a.cls AS subcls, b.cls AS supercls, count(*) AS support
  FROM inst a JOIN inst b ON a.i = b.i AND a.cls != b.cls
  GROUP BY 1, 2
)
SELECT p.subcls, p.supercls, p.support,
       round(p.support / s.n, 6) AS confidence
FROM pairs p JOIN sizes s ON s.cls = p.subcls
WHERE p.support >= 2 AND p.support / s.n >= 0.95
"""

    # kg_katz: 3 Katz rounds unrolled over the symmetrized cooc edges
    _katz_round = """
i{t} AS (
  SELECT e.v AS node, sum(x.katz) AS inn
  FROM k{p} x JOIN sym e ON x.node = e.u GROUP BY 1
),
k{t} AS (
  SELECT nd.node, 1.0 + 0.1 * coalesce(i.inn, 0) AS katz
  FROM nd LEFT JOIN i{t} i USING (node)
)"""
    sql["kg_katz"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
sym AS (SELECT s AS u, d AS v FROM ed UNION ALL SELECT d, s FROM ed),
nd AS (SELECT DISTINCT u AS node FROM sym),
k0 AS (SELECT node, 1.0 AS katz FROM nd),""" + ",".join(
        _katz_round.format(t=t, p=t - 1) for t in (1, 2, 3)
    ) + """
SELECT node, round(katz, 6) AS katz FROM k3
"""

    # kg_walks: the two md5-argmin steps unrolled; ORDER BY the hash then
    # the neighbor reproduces Spark's min_by tie-break deterministically
    _walk_step = """
c{t} AS (
  SELECT s{p}.walk_id, e.v,
         row_number() OVER (
           PARTITION BY s{p}.walk_id
           ORDER BY md5(s{p}.walk_id || chr(31) || '{t}' || chr(31) || e.v),
                    e.v
         ) AS rn
  FROM s{p} JOIN e ON s{p}.node = e.u
),
s{t} AS (SELECT walk_id, {t} AS step, v AS node FROM c{t} WHERE rn = 1)"""
    sql["kg_walks"] = f"""
WITH {_KG_GEO_CTE.lstrip()},
e AS (
  SELECT DISTINCT subj AS u, obj AS v FROM tr
  WHERE pred IN ('inNation', 'within')
),
nd AS (SELECT u AS node FROM e UNION SELECT v FROM e),
s0 AS (
  SELECT 'w:' || node || ':0' AS walk_id, 0 AS step, node FROM nd
),""" + ",".join(_walk_step.format(t=t, p=t - 1) for t in (1, 2)) + """
SELECT walk_id, step, node FROM s0
UNION ALL SELECT walk_id, step, node FROM s1
UNION ALL SELECT walk_id, step, node FROM s2
"""

    # kg_asof: closed-form snapshot — OPEN inside the first 30 days,
    # the terminal status after; orders opened later don't exist yet
    sql["kg_asof"] = """
SELECT 'o' || o_orderkey::VARCHAR AS subj, 'status' AS pred,
       CASE WHEN o_orderdate + INTERVAL 30 DAY <= TIMESTAMP '1995-06-17'
            THEN o_orderstatus ELSE 'OPEN' END AS obj
FROM orders
WHERE o_orderdate <= TIMESTAMP '1995-06-17'
"""

    sql["kg_kb_delta"] = """
WITH a AS (
  SELECT 'o' || o_orderkey::VARCHAR AS subj, 'status' AS pred,
         CASE WHEN o_orderdate + INTERVAL 30 DAY <= TIMESTAMP '1995-06-17'
              THEN o_orderstatus ELSE 'OPEN' END AS obj
  FROM orders WHERE o_orderdate <= TIMESTAMP '1995-06-17'
),
b AS (
  SELECT 'o' || o_orderkey::VARCHAR AS subj, 'status' AS pred,
         CASE WHEN o_orderdate + INTERVAL 30 DAY <= TIMESTAMP '1996-06-17'
              THEN o_orderstatus ELSE 'OPEN' END AS obj
  FROM orders WHERE o_orderdate <= TIMESTAMP '1996-06-17'
)
SELECT b.subj, b.pred, b.obj, 'add' AS op FROM b
WHERE NOT EXISTS (
  SELECT 1 FROM a WHERE a.subj = b.subj AND a.pred = b.pred
    AND a.obj = b.obj
)
UNION ALL
SELECT a.subj, a.pred, a.obj, 'del' FROM a
WHERE NOT EXISTS (
  SELECT 1 FROM b WHERE b.subj = a.subj AND b.pred = a.pred
    AND b.obj = a.obj
)
"""

    # kg_shacl_terms: pattern on the literal CONTENT (quotes stripped),
    # nodeKind=Literal violated by every raw (unquoted) code value
    sql["kg_shacl_terms"] = """
SELECT 'n' || n_nationkey::VARCHAR AS focus, 'Nation' AS target_class,
       'named' AS pred, 'pattern' AS "constraint",
       '^[A-C]' AS expected, '"' || n_name || '"' AS actual
FROM nation WHERE NOT regexp_matches(n_name, '^[A-C]')
UNION ALL
SELECT 'n' || n_nationkey::VARCHAR, 'Nation', 'code', 'nodeKind',
       'Literal', n_name
FROM nation
"""

    # kg_path_quantified: <within>{{1,2}} = explicit 1-hop UNION 2-hop
    sql["kg_path_quantified"] = f"""
WITH {_KG_GEO_CTE.lstrip()},
w1 AS (SELECT subj, obj FROM tr WHERE pred = 'within'),
w2 AS (SELECT a.subj, b.obj FROM w1 a JOIN w1 b ON a.obj = b.subj),
w12 AS (SELECT subj, obj FROM w1 UNION SELECT subj, obj FROM w2)
SELECT DISTINCT cn.subj AS c, w.obj AS a
FROM (SELECT subj, obj FROM tr WHERE pred = 'inNation') cn
JOIN w12 w ON w.subj = cn.obj
"""

    sql["kg_path_seq_alt"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT DISTINCT a.subj AS c, b.obj AS v
FROM tr a JOIN tr b ON a.obj = b.subj
WHERE a.pred = 'inNation' AND b.pred IN ('named', 'within')
"""

    sql["kg_bgp_two_optionals"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT DISTINCT cn.subj AS c, cn.obj AS n, o1.r AS r, o2.obj AS s
FROM (SELECT subj, obj FROM tr WHERE pred = 'inNation') cn
LEFT JOIN (
  SELECT DISTINCT w.subj AS n2, w.obj AS r
  FROM tr w JOIN tr nm ON w.obj = nm.subj
  WHERE w.pred = 'within' AND nm.pred = 'named' AND nm.obj = 'ASIA'
) o1 ON o1.n2 = cn.obj
LEFT JOIN (SELECT subj, obj FROM tr WHERE pred = 'segment') o2
  ON o2.subj = cn.subj
"""

    sql["kg_values_multi"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT DISTINCT sg.subj AS c, sg.obj AS s, cn.obj AS n
FROM (SELECT subj, obj FROM tr WHERE pred = 'segment') sg
JOIN (SELECT subj, obj FROM tr WHERE pred = 'inNation') cn
  ON cn.subj = sg.subj
WHERE (sg.obj, cn.obj) IN (('BUILDING', 'n1'), ('BUILDING', 'n2'))
"""

    sql["kg_construct"] = f"""
WITH {_KG_GEO_CTE.lstrip()},
cn AS (SELECT subj AS c, obj AS n FROM tr WHERE pred = 'inNation')
SELECT DISTINCT n AS subj, 'hasMember' AS pred, c AS obj FROM cn
UNION
SELECT DISTINCT c, 'memberOf', n FROM cn
"""

    sql["kg_negated_path"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT DISTINCT subj AS s, obj AS o FROM tr
WHERE pred NOT IN ('within', 'named')
"""

    sql["kg_bind"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT DISTINCT subj AS n, obj AS label, lower(obj) AS u FROM tr
WHERE pred = 'named'
"""

    sql["kg_not_exists"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT DISTINCT cn.subj AS c, cn.obj AS n
FROM tr cn
WHERE cn.pred = 'inNation'
  AND NOT EXISTS (
    SELECT 1 FROM tr sg
    WHERE sg.pred = 'segment' AND sg.obj = 'BUILDING'
      AND sg.subj = cn.subj
  )
"""

    sql["kg_having"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT n, members FROM (
  SELECT obj AS n, COUNT(*) AS members
  FROM (SELECT DISTINCT subj, obj FROM tr WHERE pred = 'inNation')
  GROUP BY obj
) WHERE members > 60
"""

    sql["kg_count_distinct"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT COUNT(DISTINCT obj) AS nations FROM tr WHERE pred = 'inNation'
"""

    sql["kg_describe"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT DISTINCT subj, pred, obj FROM tr
WHERE subj IN (SELECT subj FROM tr WHERE pred = 'within' AND obj = 'r0')
"""

    sql["kg_subquery"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT DISTINCT cn.subj AS c, cn.obj AS n
FROM tr cn
JOIN (
  SELECT obj AS n, COUNT(*) AS m
  FROM (SELECT DISTINCT subj, obj FROM tr WHERE pred = 'inNation')
  GROUP BY obj HAVING COUNT(*) > 60
) big ON big.n = cn.obj
WHERE cn.pred = 'inNation'
"""

    sql["kg_group_concat"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT r, string_agg(label, '|' ORDER BY label) AS names FROM (
  SELECT DISTINCT w.obj AS r, nm.obj AS label
  FROM (SELECT subj, obj FROM tr WHERE pred = 'within') w
  JOIN (SELECT subj, obj FROM tr WHERE pred = 'named') nm
    ON nm.subj = w.subj
) GROUP BY r
"""

    sql["kg_path_inverse"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT DISTINCT cn.obj AS n, cn.subj AS c, nm.obj AS label
FROM (SELECT subj, obj FROM tr WHERE pred = 'inNation') cn
JOIN (SELECT subj, obj FROM tr WHERE pred = 'named') nm
  ON nm.subj = cn.obj
"""

    sql["kg_ask"] = f"""
WITH {_KG_GEO_CTE.lstrip()}
SELECT EXISTS(
  SELECT 1
  FROM (SELECT subj FROM tr WHERE pred = 'segment'
          AND obj = 'BUILDING') sg
  JOIN (SELECT subj FROM tr WHERE pred = 'inNation'
          AND obj = 'n1') cn
    ON cn.subj = sg.subj
) AS ask
"""

    # annotations_json / annotations_xml: replay the serializer fixture
    # (micro-world occs + char offsets) and assemble the same document
    # strings — DuckDB's to_json emits the same compact Jackson-style
    # form Spark's to_json does, and the XML twin repeats the exact
    # escape/concat chain.
    _ANN_CTE = _BASE_CTES + f""",
ann AS (
  SELECT doc_id::VARCHAR AS doc_id, ({_SQL_OFFSET})::INT AS off,
         surface_form, uri, pair_count::BIGINT AS support,
         (prior)::DOUBLE AS sim,
         round(1.0 - (prior)::DOUBLE, 4) AS psr
  FROM occs
)"""

    sql["annotations_json"] = _ANN_CTE + """,
res AS (
  SELECT doc_id,
         list(struct_pack(
             "@URI" := uri,
             "@support" := support::VARCHAR,
             "@types" := '',
             "@surfaceForm" := surface_form,
             "@offset" := off::VARCHAR,
             "@similarityScore" := round(sim, 4)::VARCHAR,
             "@percentageOfSecondRank" := round(psr, 4)::VARCHAR
         ) ORDER BY off, uri) AS resources
  FROM ann GROUP BY doc_id
)
SELECT d.doc_id::VARCHAR AS doc_id,
       to_json(struct_pack(
           "@text" := d.text,
           "@confidence" := '0.1',
           "@support" := '10',
           Resources := coalesce(r.resources,
                                 []::STRUCT("@URI" VARCHAR,
                                            "@support" VARCHAR,
                                            "@types" VARCHAR,
                                            "@surfaceForm" VARCHAR,
                                            "@offset" VARCHAR,
                                            "@similarityScore" VARCHAR,
                                            "@percentageOfSecondRank" VARCHAR)[])
       )) AS json
FROM documents d
LEFT JOIN res r ON r.doc_id = d.doc_id::VARCHAR
"""

    _XESC = (
        lambda col: "replace(replace(replace(replace(" + col +
        ", '&', '&amp;'), '<', '&lt;'), '>', '&gt;'), '\"', '&quot;')"
    )
    sql["annotations_xml"] = _ANN_CTE + f""",
res AS (
  SELECT doc_id,
         string_agg(
           '<Resource URI="' || {_XESC('uri')} ||
           '" support="' || support::VARCHAR ||
           '" types="" surfaceForm="' || {_XESC('surface_form')} ||
           '" offset="' || off::VARCHAR ||
           '" similarityScore="' || round(sim, 4)::VARCHAR ||
           '" percentageOfSecondRank="' || round(psr, 4)::VARCHAR ||
           '"/>', '' ORDER BY off, uri) AS body
  FROM ann GROUP BY doc_id
)
SELECT d.doc_id::VARCHAR AS doc_id,
       '<Annotation text="' || {_XESC('d.text')} ||
       '" confidence="0.1" support="10" types="" sparql=""' ||
       ' policy="whitelist">' ||
       coalesce('<Resources>' || r.body || '</Resources>', '') ||
       '</Annotation>' AS xml
FROM documents d
LEFT JOIN res r ON r.doc_id = d.doc_id::VARCHAR
"""

    # visible text = text || ' link N & more'; anchor text = 'link N'
    # (5 + digits chars); ' & more' is 7 chars and the joining space 1.
    sql["html_extract"] = """
SELECT doc_id,
       'Doc ' || doc_id AS title,
       text || ' link ' || doc_id || ' & more' AS text_out,
       1 AS n_links,
       'https://site.example/' || doc_id AS first_link,
       round(
         (5.0 + length(CAST(doc_id AS VARCHAR)))
         / (length(text) + 13 + length(CAST(doc_id AS VARCHAR))), 6
       ) AS link_density
FROM documents
"""

    sql["warc_roundtrip"] = """
SELECT 'https://corpus.example/doc/' || doc_id AS target_uri,
       'response' AS warc_type,
       '2026-01-01T00:00:00Z' AS warc_date,
       '200' AS http_status,
       44 + length(text) AS content_length,
       text AS payload
FROM documents
"""

    sql["url_canonical"] = """
SELECT doc_id,
       CASE doc_id % 4
         WHEN 0 THEN 'https://www.example' || (doc_id % 7) || '.com/doc/'
                     || doc_id || '?q=' || (doc_id % 3)
         WHEN 1 THEN 'http://site' || (doc_id % 7) || '.org:8080/a/' || doc_id
         WHEN 2 THEN 'http://host' || (doc_id % 7) || '.net/'
         ELSE 'doc-' || doc_id
       END AS url_norm,
       CASE doc_id % 4
         WHEN 0 THEN 'www.example' || (doc_id % 7) || '.com'
         WHEN 1 THEN 'site' || (doc_id % 7) || '.org'
         WHEN 2 THEN 'host' || (doc_id % 7) || '.net'
         ELSE ''
       END AS host,
       CASE doc_id % 4
         WHEN 0 THEN 'example' || (doc_id % 7) || '.com'
         WHEN 1 THEN 'site' || (doc_id % 7) || '.org'
         WHEN 2 THEN 'host' || (doc_id % 7) || '.net'
         ELSE ''
       END AS domain
FROM documents
"""

    # bpe_learn / bpe_tokens: six Sennrich BPE rounds replayed in DuckDB
    # over a '·'-wrapped symbol-string vocab ('low' -> '·l··o··w··</w>·').
    # Greedy left-to-right merge of (a,b) is exactly non-overlapping
    # replace('·a··b·' -> '·ab·') on that representation (symbols are
    # '·'-free and nonempty, so block boundaries are unambiguous), which
    # is what the Spark side's F.aggregate fold computes.
    _bpe_ctes = [
        r"""w1 AS (
  SELECT word, count(*)::BIGINT AS freq,
         regexp_replace(word, '(.)', '·\1·', 'g') || '·</w>·' AS s
  FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
        FROM documents)
  GROUP BY word
)"""
    ]
    for _r in range(1, _BPE_MERGES + 1):
        _bpe_ctes.append(f"""p{_r} AS (
  SELECT p.a AS a, p.b AS b, sum(freq)::BIGINT AS cnt FROM (
    SELECT freq,
           unnest([{{'a': l[x], 'b': l[x + 1]}}
                   for x in generate_series(1, len(l) - 1)]) AS p
    FROM (SELECT freq, string_split(trim(s, '·'), '··') AS l FROM w{_r})
  ) GROUP BY 1, 2
)""")
        _bpe_ctes.append(f"""m{_r} AS (
  SELECT a, b, cnt FROM p{_r} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
)""")
        _bpe_ctes.append(f"""w{_r + 1} AS (
  SELECT word, freq,
         replace(s, '·' || m.a || '··' || m.b || '·',
                    '·' || m.a || m.b || '·') AS s
  FROM w{_r}, m{_r} m
)""")
    _bpe_with = "WITH " + ",\n".join(_bpe_ctes) + "\n"
    sql["bpe_learn"] = _bpe_with + "\nUNION ALL\n".join(
        f"SELECT {_r} AS merge_rank, a AS lhs, b AS rhs, cnt AS pair_count"
        f" FROM m{_r}"
        for _r in range(1, _BPE_MERGES + 1)
    )
    sql["bpe_tokens"] = _bpe_with + f"""
SELECT t AS token, sum(freq)::BIGINT AS n
FROM (SELECT freq, unnest(string_split(trim(s, '·'), '··')) AS t
      FROM w{_BPE_MERGES + 1})
GROUP BY t
"""

    # ann_recall: compose the lsh_topk and knn_cosine oracles.
    sql["ann_recall"] = f"""
WITH ap AS ({sql['lsh_topk']}),
ex AS ({sql['knn_cosine']})
SELECT ex.query_id, count(*)::BIGINT AS n_exact,
       sum(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_hit,
       round(sum(CASE WHEN ap.cand_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS recall
FROM ex
LEFT JOIN ap ON ap.query_id = ex.query_id AND ap.cand_id = ex.cand_id
GROUP BY ex.query_id
"""

    # dedup_audit: at test scale both dedup paths equal the exact
    # brute-force pair set (vp), so the audit row is its self-join.
    sql["dedup_audit"] = (
        "WITH "
        + _SH_SETS.lstrip()
        + """,
ex AS (SELECT least(a, b) AS a, greatest(a, b) AS b FROM vp),
stats AS (
  SELECT (SELECT count(*) FROM ex) AS n_exact,
         (SELECT count(*) FROM ex) AS n_approx,
         (SELECT count(*) FROM ex) AS n_hit
)
SELECT n_exact::BIGINT AS n_exact, n_approx::BIGINT AS n_approx,
       n_hit::BIGINT AS n_hit,
       round(CASE WHEN n_exact > 0 THEN n_hit::DOUBLE / n_exact END, 6)
         AS recall,
       round(CASE WHEN n_approx > 0 THEN n_hit::DOUBLE / n_approx END, 6)
         AS precision
FROM stats
"""
    )

    # funnel_absorption: the 10-step absorbing-chain recursion unrolled
    # over the five known event states in the SAME alphabetical float
    # order the driver-side loop uses (left-assoc adds), target =
    # purchase. Probabilities are exact count ratios (0 when a state
    # has no outgoing transitions).
    _ABS_STATES = ["click", "error", "purchase", "signup", "view"]
    _ABS_TGT = "purchase"
    _abs_pdefs = ",\n".join(
        f"         coalesce((SELECT n FROM c WHERE src = '{s}' AND "
        f"dst = '{t}'), 0) / nullif((SELECT tn FROM tot WHERE "
        f"src = '{s}'), 0) AS p_{s}_{t}"
        for s in _ABS_STATES
        for t in _ABS_STATES
    )
    _abs_stages = []
    for _k in range(1, 11):
        exprs = []
        for s in _ABS_STATES:
            acc = f"coalesce(p_{s}_{_ABS_TGT}, 0)"
            if _k > 1:
                for t in _ABS_STATES:
                    if t != _ABS_TGT:
                        acc = (
                            f"({acc} + coalesce(p_{s}_{t}, 0)"
                            f" * v_{t}_{_k - 1})"
                        )
            exprs.append(f"{acc} AS v_{s}_{_k}")
        _abs_stages.append(
            f"v{_k} AS (SELECT *,\n  " + ",\n  ".join(exprs)
            + f" FROM v{_k - 1})"
        )
    _abs_rows = "\nUNION ALL\n".join(
        f"SELECT '{s}' AS state, round(v_{s}_10, 6) AS p_absorb FROM v10"
        for s in _ABS_STATES
    )
    sql["funnel_absorption"] = (
        """
WITH pr AS (
  SELECT event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
c AS (
  SELECT src, dst, count(*)::BIGINT AS n
  FROM pr WHERE dst IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT src, sum(n) AS tn FROM c GROUP BY 1),
v0 AS (SELECT
"""
        + _abs_pdefs
        + "\n),\n"
        + ",\n".join(_abs_stages)
        + "\n"
        + _abs_rows
    )

    sql["kg_powerlaw"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
sym AS (SELECT s AS u FROM ed UNION ALL SELECT d FROM ed),
deg AS (SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY u),
hist AS (
  SELECT deg, count(*)::BIGINT AS cnt FROM deg
  WHERE deg >= 2 GROUP BY 1
),
a AS (
  SELECT sum(cnt)::BIGINT AS n_nodes,
         sum(cnt * ln(deg / 1.5::DOUBLE)) AS lnsum
  FROM hist
)
SELECT n_nodes, 2::BIGINT AS d_min,
       round(CASE WHEN lnsum > 0
                  THEN 1.0::DOUBLE + n_nodes / lnsum END, 6) AS alpha
FROM a
"""

    sql["doc_keywords"] = r"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
           AS term
  FROM documents
),
t2 AS (SELECT doc_id, term FROM toks WHERE term <> ''),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM t2 GROUP BY 1, 2
),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
dfq AS (
  SELECT term, count(*)::BIGINT AS df
  FROM (SELECT DISTINCT doc_id, term FROM t2) GROUP BY 1
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf,
         tf.tf * (ln((n.n_docs + 1.0::DOUBLE) / (dfq.df + 1)) + 1.0::DOUBLE)
           AS s
  FROM tf JOIN dfq USING (term), n
)
SELECT doc_id, term, tf, "rank" FROM (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY s DESC, term ASC)::INT AS "rank"
  FROM scored
) WHERE "rank" <= 3
"""

    sql["kg_truthy"] = _BASE_CTES + """,
st AS (
  SELECT uri AS subj, 'mentionedIn' AS pred,
         'd' || doc_id::VARCHAR AS obj,
         CASE WHEN pos % 7 = 0 THEN 'preferred'
              WHEN pos % 5 = 0 THEN 'deprecated'
              ELSE 'normal' END AS "rank"
  FROM occs
),
rv AS (
  SELECT *, CASE "rank" WHEN 'preferred' THEN 2
                        WHEN 'normal' THEN 1 ELSE 0 END AS r,
         max(CASE "rank" WHEN 'preferred' THEN 2
                         WHEN 'normal' THEN 1 ELSE 0 END)
           OVER (PARTITION BY subj, pred) AS best
  FROM st
)
SELECT subj, pred, obj, "rank" FROM rv WHERE r = best AND r >= 1
"""

    sql["ab_mann_whitney"] = """
WITH vals AS (
  SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 12))::BIGINT
                   % 2 = 0
              THEN 'A' ELSE 'B' END AS arm,
         round(value * 100)::BIGINT AS v
  FROM events
),
hist AS (
  SELECT v, sum((arm = 'A')::INT)::BIGINT AS ca,
         sum((arm = 'B')::INT)::BIGINT AS cb
  FROM vals GROUP BY 1
),
conv AS (
  SELECT *, coalesce(sum(cb) OVER (
    ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
    AS cumb_lt
  FROM hist
),
a AS (
  SELECT sum(ca) AS n_a, sum(cb) AS n_b,
         sum(ca * (2 * cumb_lt + cb)) AS u2_a,
         sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS tie_sum
  FROM conv
),
s AS (
  SELECT *,
         4.0::DOUBLE * (n_a * n_b)::DOUBLE / 12.0::DOUBLE
           * ((n_a + n_b + 1)::DOUBLE
              - tie_sum::DOUBLE
                / ((n_a + n_b) * (n_a + n_b - 1))::DOUBLE) AS s4
  FROM a
)
SELECT n_a::BIGINT AS n_a, n_b::BIGINT AS n_b, u2_a::BIGINT AS u2_a,
       round(CASE WHEN s4 > 0
                  THEN (u2_a - n_a * n_b)::DOUBLE / sqrt(s4) END, 4)
         AS z_score
FROM s
"""

    sql["ab_cuped"] = """
WITH per_u AS (
  SELECT user_id,
         sum(CASE WHEN ts < timestamp '2024-01-15 00:00:00'
                  THEN round(value * 100)::BIGINT ELSE 0 END) AS x,
         sum(CASE WHEN ts >= timestamp '2024-01-15 00:00:00'
                  THEN round(value * 100)::BIGINT ELSE 0 END) AS y
  FROM events GROUP BY 1
),
armed AS (
  SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 12))::BIGINT
                   % 2 = 0
              THEN 'A' ELSE 'B' END AS arm, x, y
  FROM per_u
),
pooled AS (
  SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * x) AS sxx, sum(y * y) AS syy, sum(x * y) AS sxy
  FROM armed
),
arms AS (
  SELECT arm, count(*)::BIGINT AS n_users, sum(x) AS sx_a, sum(y) AS sy_a
  FROM armed GROUP BY 1
),
j AS (SELECT * FROM arms, pooled),
e AS (
  SELECT arm, n_users, sx_a, sy_a, n, sx, sy,
         n * sxx - sx * sx AS vxx,
         n * syy - sy * sy AS vyy,
         n * sxy - sx * sy AS cxy
  FROM j
),
t AS (
  SELECT *, CASE WHEN vxx > 0 THEN cxy / vxx END AS theta FROM e
)
SELECT arm, n_users,
       round(sy_a / n_users, 6) AS mean_post,
       round(sy_a / n_users - theta * (sx_a / n_users - sx / n), 6)
         AS mean_post_adj,
       round(theta, 6) AS theta,
       round(CASE WHEN vxx > 0 AND vyy > 0
                  THEN 1.0 - (vyy - 2 * theta * cxy + theta * theta * vxx)
                             / vyy END, 6) AS var_reduction
FROM t
"""

    sql["orders_skyline"] = """
WITH o AS (
  SELECT o_orderkey,
         round(o_totalprice * 100)::BIGINT AS price_cents,
         date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT
           AS order_day
  FROM orders
)
SELECT r.o_orderkey, r.price_cents, r.order_day FROM o r
WHERE NOT EXISTS (
  SELECT 1 FROM o s
  WHERE s.price_cents <= r.price_cents
    AND s.order_day <= r.order_day
    AND (s.price_cents < r.price_cents OR s.order_day < r.order_day)
)
"""

    sql["kg_temporal_paths"] = "WITH RECURSIVE" + _BASE_CTES.lstrip()[4:] + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
te AS (
  SELECT a.uri AS s, b.uri AS d, a.doc_id::BIGINT AS t
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri <> b.uri
),
src AS (SELECT min(s) AS node FROM te),
walk(node, arrival, hops) AS (
  SELECT node, (-1)::BIGINT, 0 FROM src
  UNION
  SELECT te.d, te.t, w.hops + 1
  FROM walk w JOIN te ON te.s = w.node
  WHERE te.t > w.arrival AND w.hops < 3
)
SELECT node, min(arrival)::BIGINT AS arrival FROM walk GROUP BY node
"""

    sql["docgen_interleaved"] = """
WITH p AS (
  SELECT d.n AS doc_id, g.n AS pos
  FROM generate_series(0, 199) d(n), generate_series(0, 29) g(n)
),
t AS (
  SELECT doc_id, pos,
         'w' || (('0x' || substr(md5(doc_id::VARCHAR || chr(31)
                                     || pos::VARCHAR), 1, 12))::BIGINT
                 % 61)::VARCHAR AS tok
  FROM p
),
agg AS (
  SELECT doc_id,
         length(string_agg(tok, ' ' ORDER BY pos)) AS full_len,
         length(string_agg(tok, ' ' ORDER BY pos)
                FILTER (WHERE pos < 15)) AS first_len,
         length(string_agg(tok, ' ' ORDER BY pos)
                FILTER (WHERE pos >= 15)) AS second_len
  FROM t GROUP BY doc_id
)
SELECT doc_id::BIGINT AS doc_id, 0 AS span_pos, 'text' AS kind,
       (CASE WHEN doc_id % 5 = 0 THEN first_len ELSE full_len END)::INT
         AS text_len,
       NULL::VARCHAR AS media_ref, 0 AS offset
FROM agg
UNION ALL
SELECT doc_id::BIGINT, 1, 'media', NULL::INT,
       'img://' || doc_id::VARCHAR, (first_len + 1)::INT
FROM agg WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id::BIGINT, 2, 'text', second_len::INT,
       NULL::VARCHAR, (first_len + 1)::INT
FROM agg WHERE doc_id % 5 = 0
"""

    sql["events_sliding"] = """
WITH k AS (SELECT unnest([0, 1]) AS i),
w AS (
  SELECT strftime(
           to_timestamp(floor(epoch(ts) / 1800) * 1800 - i * 1800),
           '%Y-%m-%d %H:%M:%S') AS ws,
         event_type
  FROM events, k
)
SELECT ws, event_type, count(*)::BIGINT AS n FROM w GROUP BY 1, 2
"""

    sql["kg_assortativity"] = _BASE_CTES + """,
du AS (SELECT DISTINCT doc_id, uri FROM occs),
ed AS (
  SELECT a.uri AS s, b.uri AS d
  FROM du a JOIN du b ON a.doc_id = b.doc_id AND a.uri < b.uri
  GROUP BY 1, 2 HAVING count(*) >= 150
),
sym AS (SELECT s AS u, d AS v FROM ed UNION ALL SELECT d, s FROM ed),
deg AS (SELECT u, count(*)::BIGINT AS deg FROM sym GROUP BY u),
pairs AS (
  SELECT dx.deg AS dx, dy.deg AS dy
  FROM sym JOIN deg dx ON dx.u = sym.u JOIN deg dy ON dy.u = sym.v
),
a AS (
  SELECT count(*)::BIGINT AS m, sum(dx) AS sx, sum(dy) AS sy,
         sum(dx * dx) AS sxx, sum(dy * dy) AS syy, sum(dx * dy) AS sxy
  FROM pairs
)
SELECT (m / 2)::BIGINT AS n_edges,
       round(CASE WHEN (m * sxx - sx * sx) > 0 AND (m * syy - sy * sy) > 0
                  THEN (m * sxy - sx * sy)
                       / sqrt((m * sxx - sx * sx)::DOUBLE
                              * (m * syy - sy * sy)::DOUBLE)
             END, 6) AS corr
FROM a
"""

    # MMR: the 5 greedy rounds unrolled. Literals are forced ::DOUBLE —
    # DuckDB parses bare 0.7 as DECIMAL, where (1.0 - 0.7) is exactly
    # 0.3 instead of the IEEE 0.30000000000000004 the Python side
    # computes; the casts make both engines run the identical float ops.
    _mmr_stages = []
    for _r in range(1, 5):
        _prev = f"sel{_r - 1}"
        _mmr_stages.append(f""",
m{_r} AS (
  SELECT p.cand_id, p.rel,
         0.7::DOUBLE * p.rel - (1.0::DOUBLE - 0.7::DOUBLE) *
           (SELECT max(s.sim) FROM sims s
            WHERE s.a_id = p.cand_id
              AND s.b_id IN (SELECT cand_id FROM {_prev})) AS score
  FROM pool p
  WHERE p.cand_id NOT IN (SELECT cand_id FROM {_prev})
),
s{_r} AS MATERIALIZED (
  SELECT cand_id, rel, score FROM m{_r}
  ORDER BY score DESC, cand_id LIMIT 1
),
sel{_r} AS MATERIALIZED (
  SELECT cand_id FROM {_prev} UNION SELECT cand_id FROM s{_r}
)""")
    _mmr_rows = "\nUNION ALL\n".join(
        f"SELECT {_r} AS round_idx, cand_id, rel AS relevance,"
        f" score AS mmr_score FROM s{_r}"
        for _r in range(5)
    )
    sql["mmr_rerank"] = (
        """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v FROM e WHERE vec_id = 0),
relall AS (
  SELECT e.vec_id AS cand_id, list_cosine_similarity(q.v, e.v) AS cos
  FROM e, q WHERE e.vec_id <> 0
),
pool AS MATERIALIZED (
  SELECT cand_id, round(cos, 9) AS rel FROM relall
  ORDER BY cos DESC, cand_id LIMIT 20
),
sims AS MATERIALIZED (
  SELECT a.cand_id AS a_id, b.cand_id AS b_id,
         round(list_cosine_similarity(ea.v, eb.v), 9) AS sim
  FROM pool a JOIN pool b ON a.cand_id <> b.cand_id
  JOIN e ea ON ea.vec_id = a.cand_id
  JOIN e eb ON eb.vec_id = b.cand_id
),
s0 AS MATERIALIZED (
  SELECT cand_id, rel, rel AS score FROM pool
  ORDER BY rel DESC, cand_id LIMIT 1
),
sel0 AS MATERIALIZED (SELECT cand_id FROM s0)"""
        + "".join(_mmr_stages)
        + "\n"
        + _mmr_rows
    )

    # ACF: the five lag branches unrolled as UNION ALL over the same
    # window sort; the correlation mirrors event_acf's exact power-sum
    # arithmetic (BIGINT sums, one terminal float expression).
    _acf_branches = "\nUNION ALL\n".join(
        f"SELECT event_type, {k} AS lag, x, lead(x, {k}) OVER "
        "(PARTITION BY event_type ORDER BY ts, event_id) AS y FROM b"
        for k in range(1, 6)
    )
    sql["event_acf"] = f"""
WITH b AS (
  SELECT event_type, round(value * 100)::BIGINT AS x, ts, event_id
  FROM events
),
p AS (
{_acf_branches}
),
a AS (
  SELECT event_type, lag, count(*)::BIGINT AS n_pairs,
         sum(x) AS sx, sum(y) AS sy, sum(x * x) AS sxx,
         sum(y * y) AS syy, sum(x * y) AS sxy
  FROM p WHERE y IS NOT NULL GROUP BY 1, 2
)
SELECT event_type, lag, n_pairs,
       round(CASE WHEN (n_pairs * sxx - sx * sx) > 0
                   AND (n_pairs * syy - sy * sy) > 0
                  THEN (n_pairs * sxy - sx * sy)
                       / sqrt((n_pairs * sxx - sx * sx)::DOUBLE
                              * (n_pairs * syy - sy * sy)::DOUBLE)
             END, 6) AS corr
FROM a
"""

    # Benford: expected shares embedded as the same repr'd literals the
    # Spark plan binds (no per-engine log10 call).
    from dbpedia_spotlight_spark.datapipe.expectations import BENFORD_SHARES

    _bf_vals = ", ".join(
        f"({d}, {s!r})" for d, s in BENFORD_SHARES.items()
    )
    sql["benford_audit"] = f"""
WITH d AS (
  SELECT substr((round(o_totalprice * 100)::BIGINT)::VARCHAR, 1, 1)::INT
           AS digit
  FROM orders WHERE round(o_totalprice * 100)::BIGINT > 0
),
c AS (SELECT digit, count(*)::BIGINT AS n_obs FROM d GROUP BY 1),
t AS (SELECT sum(n_obs) AS total FROM c),
e AS (SELECT digit, e::DOUBLE AS e FROM (VALUES {_bf_vals}) v(digit, e))
SELECT e.digit, coalesce(c.n_obs, 0)::BIGINT AS n_obs,
       round(coalesce(c.n_obs, 0) / t.total, 6) AS obs_share,
       round(e.e, 6) AS expected_share,
       round((coalesce(c.n_obs, 0) - t.total * e.e)
             * (coalesce(c.n_obs, 0) - t.total * e.e)
             / (t.total * e.e), 6) AS chi2_term
FROM e CROSS JOIN t LEFT JOIN c ON c.digit = e.digit
"""

    sql["tpch_shipping"] = """
SELECT l.l_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS revenue,
       strftime(o.o_orderdate, '%Y-%m-%d') AS order_date,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < timestamp '1998-06-01 00:00:00'
  AND l.l_shipdate > timestamp '1998-06-01 00:00:00'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY sum(l.l_extendedprice * (1 - l.l_discount)) DESC, l.l_orderkey
LIMIT 10
"""

    sql["docgen_corpus"] = """
WITH p AS (
  SELECT d.n AS doc_id, g.n AS pos
  FROM generate_series(0, 299) d(n), generate_series(0, 29) g(n)
),
t AS (
  SELECT doc_id, pos,
         'w' || (('0x' || substr(md5(doc_id::VARCHAR || chr(31)
                                     || pos::VARCHAR), 1, 12))::BIGINT
                 % 61)::VARCHAR AS tok
  FROM p
)
SELECT doc_id::BIGINT AS doc_id,
       string_agg(tok, ' ' ORDER BY pos) AS text
FROM t GROUP BY 1
"""

    from dbpedia_spotlight_spark.functions.zorder import hilbert_stage_sql

    sql["hilbert_keys"] = (
        hilbert_stage_sql(
            "event_id",
            "(SELECT event_id, (user_id & 255) AS hx, "
            "(json_extract_string(props, '$.k')::BIGINT & 255) AS hy "
            "FROM events)",
            bits=8,
        )
        + "\nSELECT event_id, hilbert_key FROM hfinal"
    )

    sql["event_transitions"] = """
WITH p AS (
  SELECT event_type AS src,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
),
c AS (
  SELECT src, dst, count(*)::BIGINT AS n
  FROM p WHERE dst IS NOT NULL GROUP BY 1, 2
)
SELECT src, dst, n,
       round(n / sum(n) OVER (PARTITION BY src), 6) AS prob
FROM c
"""

    sql["touch_attribution"] = """
WITH conv AS (
  SELECT user_id AS u, ts AS cts, event_id AS cid
  FROM events WHERE event_type = 'purchase'
),
tch AS (
  SELECT user_id AS u, ts AS tts, event_id AS tid,
         event_type AS touch_type
  FROM events WHERE event_type IN ('view', 'click', 'signup')
),
j AS (
  SELECT c.u, c.cid, t.tts, t.tid, t.touch_type
  FROM conv c JOIN tch t ON c.u = t.u AND t.tts < c.cts
),
s AS (
  SELECT touch_type,
         (row_number() OVER (
            PARTITION BY u, cid ORDER BY tts, tid) = 1)::BIGINT AS f,
         (row_number() OVER (
            PARTITION BY u, cid ORDER BY tts DESC, tid DESC) = 1)::BIGINT AS l,
         floor(1000000 / (count(*) OVER (PARTITION BY u, cid)))::BIGINT AS lm
  FROM j
)
SELECT touch_type, count(*)::BIGINT AS n_touches,
       sum(f)::BIGINT AS first_credit, sum(l)::BIGINT AS last_credit,
       sum(lm)::BIGINT AS linear_micros,
       sum(lm) / 1000000.0 AS linear_credit
FROM s GROUP BY 1
"""

    sql["ab_test"] = """
WITH per_u AS (
  SELECT user_id, max((event_type = 'purchase')::INT) AS c
  FROM events GROUP BY 1
),
armed AS (
  SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 12))::BIGINT
                   % 2 = 0
              THEN 'A' ELSE 'B' END AS arm,
         c
  FROM per_u
),
arms AS (
  SELECT arm, count(*)::BIGINT AS n, sum(c)::BIGINT AS conv
  FROM armed GROUP BY 1
),
w AS (
  SELECT (SELECT n FROM arms WHERE arm = 'A') AS n_a,
         (SELECT conv FROM arms WHERE arm = 'A') AS conv_a,
         (SELECT n FROM arms WHERE arm = 'B') AS n_b,
         (SELECT conv FROM arms WHERE arm = 'B') AS conv_b
),
s AS (
  SELECT *,
         sqrt(((conv_a + conv_b) / (n_a + n_b))
              * (1 - ((conv_a + conv_b) / (n_a + n_b)))
              * (1.0 / n_a + 1.0 / n_b)) AS se
  FROM w
)
SELECT n_a, n_b, conv_a, conv_b,
       round(conv_a / n_a, 6) AS rate_a,
       round(conv_b / n_b, 6) AS rate_b,
       round(CASE WHEN se > 0
                  THEN (conv_a / n_a - conv_b / n_b) / se END, 4) AS z_score
FROM s
"""

    sql["event_ohlc"] = """
WITH b AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts, ts, event_id,
         round(value * 100)::BIGINT AS cents
  FROM events
),
fl AS (
  SELECT event_type, bucket_ts, cents,
         row_number() OVER (
           PARTITION BY event_type, bucket_ts ORDER BY ts, event_id) AS ra,
         row_number() OVER (
           PARTITION BY event_type, bucket_ts
           ORDER BY ts DESC, event_id DESC) AS rd
  FROM b
)
SELECT event_type, strftime(bucket_ts, '%Y-%m-%d %H:%M:%S') AS bucket,
       max(CASE WHEN ra = 1 THEN cents END)::BIGINT AS open_cents,
       max(cents)::BIGINT AS high_cents,
       min(cents)::BIGINT AS low_cents,
       max(CASE WHEN rd = 1 THEN cents END)::BIGINT AS close_cents,
       count(*)::BIGINT AS n, sum(cents)::BIGINT AS volume_cents
FROM fl GROUP BY 1, 2
"""

    sql["readability"] = """
WITH c AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+'))::BIGINT AS n_words,
         greatest(len(regexp_extract_all(text, '[.!?]+')), 1)::BIGINT
           AS n_sentences,
         len(regexp_extract_all(text, '[aeiouyAEIOUY]+'))::BIGINT
           AS n_syllables
  FROM documents
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       round(CASE WHEN n_words > 0
                  THEN 206.835 - 1.015 * (n_words / n_sentences)
                       - 84.6 * (n_syllables / n_words) END, 4) AS flesch,
       round(CASE WHEN n_words > 0
                  THEN 0.39 * (n_words / n_sentences)
                       + 11.8 * (n_syllables / n_words) - 15.59 END, 4)
         AS fk_grade
FROM c
"""

    # Deterministic HLL twin: identical hash / bucket / rank arithmetic
    # (length(bin(w)) for floor(log2)+1 — both engines' bin() emit minimal
    # binary strings), registers via max, exact power-of-two harmonic sum.
    # The alpha constant is written as the same literal arithmetic Spark's
    # Python side evaluates, so it folds to the identical double.
    _HLL_RAW = (
        "(0.7213/(1.0+1.079/256)) * 256 * 256"
        " / (zu + (256 - n_buckets_used))"
    )
    sql["hll_distinct"] = f"""
WITH tok AS (
  SELECT (doc_id % 4)::BIGINT AS bucket_key,
         unnest(string_split(lower(text), ' ')) AS token
  FROM documents
),
h AS (
  SELECT DISTINCT bucket_key,
         ('0x' || substr(md5(token), 1, 12))::BIGINT AS _h
  FROM tok WHERE token <> ''
),
r AS (
  SELECT bucket_key, (_h % 256)::INT AS bucket,
         (CASE WHEN (_h >> 8) = 0 THEN 41
               ELSE 41 - length(bin(_h >> 8)) END)::INT AS rho
  FROM h
),
reg AS (
  SELECT bucket_key, bucket, max(rho) AS register FROM r GROUP BY 1, 2
),
agg AS (
  SELECT bucket_key, count(*)::BIGINT AS n_buckets_used,
         sum(power(2.0, -register)) AS zu
  FROM reg GROUP BY 1
)
SELECT bucket_key, n_buckets_used,
       round({_HLL_RAW}, 4) AS raw_estimate,
       round(CASE WHEN {_HLL_RAW} <= 640.0 AND (256 - n_buckets_used) > 0
                  THEN 256.0 * ln(256.0 / (256 - n_buckets_used))
                  ELSE {_HLL_RAW} END, 4) AS estimate
FROM agg
"""

    # Count-Min twin: the same keyed hash md5_48(i · chr(31) · token) mod
    # 64 builds the 3x64 cell table; point estimates re-probe the cells
    # and take the per-token min — integers end to end.
    sql["cms_counts"] = """
WITH tok AS (
  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents
),
t2 AS (SELECT token FROM tok WHERE token <> ''),
depths AS (SELECT unnest([0, 1, 2]) AS i),
cells AS MATERIALIZED (
  SELECT d.i AS row_idx,
         (('0x' || substr(md5(d.i::VARCHAR || chr(31) || t.token), 1, 12))::BIGINT
          % 64)::INT AS col_idx,
         count(*)::BIGINT AS cell
  FROM t2 t CROSS JOIN depths d
  GROUP BY 1, 2
),
truth AS MATERIALIZED (
  SELECT token, count(*)::BIGINT AS true_cnt
  FROM t2 GROUP BY 1 ORDER BY true_cnt DESC, token LIMIT 20
),
probes AS (
  SELECT t.token, t.true_cnt, d.i AS row_idx,
         (('0x' || substr(md5(d.i::VARCHAR || chr(31) || t.token), 1, 12))::BIGINT
          % 64)::INT AS col_idx
  FROM truth t CROSS JOIN depths d
)
SELECT p.token, p.true_cnt, min(c.cell)::BIGINT AS cms_estimate
FROM probes p JOIN cells c
  ON c.row_idx = p.row_idx AND c.col_idx = p.col_idx
GROUP BY 1, 2
"""

    sql["k_anonymity"] = """
SELECT c_nationkey::BIGINT AS nation_key,
       floor(c_acctbal / 1000)::BIGINT AS bal_band,
       count(*)::BIGINT AS class_size,
       count(*) >= 5 AS k_anonymous,
       count(DISTINCT c_mktsegment)::BIGINT AS l_diversity,
       count(DISTINCT c_mktsegment) >= 2 AS l_diverse
FROM customer
GROUP BY 1, 2
"""

    # Greedy max-coverage: the 5 rounds unrolled — each stage picks the
    # (gain desc, doc_id asc) argmax over the not-yet-covered feature
    # relation, then extends the covered set. MATERIALIZED stops DuckDB
    # re-expanding the whole prefix chain at every stage (same pattern as
    # the bpe_merges oracle).
    _gc_stages = []
    _gc_prev_f, _gc_prev_c = "feats", None
    for _k in range(5):
        _flt = (
            f"WHERE token NOT IN (SELECT token FROM {_gc_prev_c})"
            if _gc_prev_c
            else ""
        )
        _gc_stages.append(f""",
f{_k} AS MATERIALIZED (SELECT * FROM {_gc_prev_f} {_flt}),
s{_k} AS MATERIALIZED (
  SELECT doc_id, count(*)::BIGINT AS gain
  FROM f{_k} GROUP BY 1 ORDER BY gain DESC, doc_id LIMIT 1
),
c{_k} AS MATERIALIZED (
  {"SELECT token FROM " + _gc_prev_c + " UNION " if _gc_prev_c else ""}
  SELECT DISTINCT f.token FROM f{_k} f JOIN s{_k} s ON f.doc_id = s.doc_id
)""")
        _gc_prev_f, _gc_prev_c = f"f{_k}", f"c{_k}"
    _gc_rows = "\nUNION ALL\n".join(
        f"SELECT {_k} AS round_idx, doc_id, gain,"
        f" (SELECT count(*) FROM c{_k})::BIGINT AS covered_total"
        f" FROM s{_k} WHERE gain > 0"
        for _k in range(5)
    )
    sql["greedy_cover"] = (
        """
WITH cleaned AS (
  SELECT doc_id,
         list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
  FROM documents
),
zipped AS (
  SELECT doc_id, unnest(list_zip(toks, toks[2:])) AS z
  FROM cleaned WHERE len(toks) >= 2
),
feats AS MATERIALIZED (
  SELECT DISTINCT doc_id, z[1] || ' ' || z[2] AS token
  FROM zipped WHERE z[2] IS NOT NULL
)"""
        + "".join(_gc_stages)
        + "\n"
        + _gc_rows
    )

    sql["events_cube"] = """
WITH b AS (
  SELECT event_type, floor(value / 10)::BIGINT AS val_band,
         round(value * 100)::BIGINT AS cents
  FROM events
)
SELECT event_type, val_band,
       (2 * GROUPING(event_type) + GROUPING(val_band))::INT AS gid,
       count(*)::BIGINT AS n, sum(cents)::BIGINT AS value_cents
FROM b GROUP BY CUBE(event_type, val_band)
"""

    sql["kg_transitive_reduction"] = """
WITH RECURSIVE e AS (
  SELECT p_partkey::BIGINT AS src, (p_partkey // 2)::BIGINT AS dst
  FROM part WHERE p_partkey >= 2
  UNION
  SELECT p_partkey::BIGINT, (p_partkey // 4)::BIGINT
  FROM part WHERE p_partkey >= 4
),
tc AS (
  SELECT src, dst FROM e
  UNION
  SELECT t.src, e2.dst FROM tc t JOIN e e2 ON t.dst = e2.src
),
two AS (
  SELECT DISTINCT a.src, t.dst FROM e a JOIN tc t ON a.dst = t.src
)
SELECT e.src AS class_id, e.dst AS ancestor_id FROM e
WHERE NOT EXISTS (
  SELECT 1 FROM two WHERE two.src = e.src AND two.dst = e.dst
)
"""

    return sql
