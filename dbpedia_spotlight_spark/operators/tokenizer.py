"""Tokenizer — P1 in SURVEY.md §2.2.

Reference: LanguageIndependentTokenizer
(core/src/main/scala/org/dbpedia/spotlight/db/tokenize/LanguageIndependentTokenizer.scala:25-47,
spans :86-103): locale BreakIterator sentence + word split, stopword marking,
stemmed token-type lookup, end-of-sentence flags.

Spark design: one `mapInPandas` pass over the documents table (Arrow batches,
no per-row Python at the DataFrame level); inside the batch, a compiled-regex
tokenizer runs per document. The interleaved-span input explodes inside the
UDF so media spans never cost a shuffle: only `kind='text'` spans produce
tokens, keyed by (doc_id, span_pos) so downstream stages can re-assemble the
original span order (per-row invariant, BASELINE.json input_hint).

Stemming: the reference wraps a Snowball stemmer
(core/.../db/stem/SnowballStemmer.scala:12-16 — lowercase then stem); we
implement the Snowball English (Porter2) algorithm from its public spec
(functions/stemmer.py) and apply it identically at model-build and query
time.
"""

from __future__ import annotations

import re
from bisect import bisect_right
from collections.abc import Iterator
from functools import lru_cache

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.functions.stemmer import porter2_stem
from dbpedia_spotlight_spark.model.schemas import TOKENS_SCHEMA

_WORD_RE = re.compile(r"\w+", re.UNICODE)
_SENT_RE = re.compile(r"(?<=[.!?])\s+")

DEFAULT_STOPWORDS = frozenset(
    """a an and are as at be by for from has he in is it its of on that the
    to was were will with this these those i you they we she his her their
    our not no or but if then than so do does did den des der die das le la
    les un une et en de du el los las y o""".split()
)


@lru_cache(maxsize=1 << 20)
def stem(token: str) -> str:
    """Lowercase + Snowball English (ref SnowballStemmer.scala:12-16).
    LRU-cached per worker process: corpora repeat tokens heavily, so the
    amortized cost is a dict hit, not an algorithm run."""
    return porter2_stem(token.lower())


def sentence_spans(text: str) -> list[tuple[int, int]]:
    """(start, end) char ranges of sentences."""
    spans, start = [], 0
    for m in _SENT_RE.finditer(text):
        spans.append((start, m.start()))
        start = m.end()
    if start < len(text):
        spans.append((start, len(text)))
    return spans


def tokenize_text(
    text: str, stopwords: frozenset, _memo: dict | None = None
) -> list[tuple]:
    """-> [(sent_id, token, stem, local_offset, is_stopword, eos), ...]

    ``_memo`` (optional) caches token -> (stem, is_stopword) across calls
    — the Arrow-batch-wide interning the round-3 item #8 asked for: corpus
    tokens repeat heavily, so one plain-dict hit replaces a lower() alloc,
    a set probe, and the lru_cache machinery per occurrence. Callers that
    pass a memo must keep one memo per stopword set (tokenize_documents /
    spot_documents hold theirs inside the mapInPandas closure)."""
    out = []
    for sent_id, (s, e) in enumerate(sentence_spans(text)):
        words = list(_WORD_RE.finditer(text, s, e))
        last_i = len(words) - 1
        for i, m in enumerate(words):
            tok = m.group(0)
            if _memo is None:
                info = (stem(tok), tok.lower() in stopwords)
            else:
                info = _memo.get(tok)
                if info is None:
                    info = (stem(tok), tok.lower() in stopwords)
                    _memo[tok] = info
            out.append(
                (sent_id, tok, info[0], m.start(), info[1], i == last_i)
            )
    return out


def offset_ordinals(offsets: list) -> list:
    """Each token's rank by offset within its document (ties keep emission
    order) — the `ordinal` column of the tokens table."""
    ranks = [0] * len(offsets)
    for rank, i in enumerate(sorted(range(len(offsets)), key=offsets.__getitem__)):
        ranks[i] = rank
    return ranks


def spot_ordinal(sorted_offsets: list, offset: int) -> int:
    """The `ordinal` of a spot: that of the last token of its document whose
    offset is <= the spot's, or 0 when there is none. A spot therefore
    shares the context window of the token it starts on, and a spot that
    sits on no token falls into the window of the last token before it
    (the first window when it precedes every token)."""
    return max(bisect_right(sorted_offsets, offset) - 1, 0)


def tokenize_documents(
    documents: DataFrame,
    stopwords: frozenset = DEFAULT_STOPWORDS,
) -> DataFrame:
    """documents(doc_id, spans) -> tokens table (TOKENS_SCHEMA).

    Offsets are global within the document's text stream: span.offset +
    local offset, matching the reference's Text-level offsets. `ordinal`
    is the token's rank by offset within its document (offset_ordinals).
    """
    spark = documents.sparkSession
    bc_stop = spark.sparkContext.broadcast(stopwords)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sw = bc_stop.value
        tok_memo: dict = {}  # token -> (stem, is_stopword), batch-wide
        for pdf in batches:
            rows = {
                "doc_id": [], "span_pos": [], "sent_id": [], "token": [],
                "stem": [], "offset": [], "is_stopword": [], "eos": [],
                "ordinal": [],
            }
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                first = len(rows["offset"])
                for span_pos, sp in enumerate(spans):
                    if sp["kind"] != "text" or sp["text"] is None:
                        continue
                    base = int(sp["offset"] or 0)
                    for sent_id, tok, st, off, is_sw, eos in tokenize_text(
                        sp["text"], sw, tok_memo
                    ):
                        rows["doc_id"].append(doc_id)
                        rows["span_pos"].append(span_pos)
                        rows["sent_id"].append(sent_id)
                        rows["token"].append(tok)
                        rows["stem"].append(st)
                        rows["offset"].append(base + off)
                        rows["is_stopword"].append(is_sw)
                        rows["eos"].append(eos)
                rows["ordinal"] += offset_ordinals(rows["offset"][first:])
            yield pd.DataFrame(rows)

    return documents.select("doc_id", "spans").mapInPandas(run, TOKENS_SCHEMA)


def flat_to_interleaved_media(
    documents_flat: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Adapter: a flat (doc_id, text) table -> the north-rule interleaved
    schema with a media span between two text halves:
        [text(first ceil(n/2) tokens), media(img://doc_id), text(rest)]
    Offsets are text-stream char offsets (media occupies no chars). Docs with
    fewer than 2 tokens become a single text span. Deterministic — used to
    synthesize interleaved test corpora from the driver's flat documents."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    k = F.ceil(n / F.lit(2)).cast("int")
    first = F.concat_ws(" ", F.slice(toks, F.lit(1), k))
    second = F.concat_ws(" ", F.slice(toks, k + 1, n - k))
    second_off = (F.length(first) + 1).cast("int")
    doc_id = F.col("doc_id").cast("string")

    def text_span(txt, off):
        return F.struct(
            F.lit("text").alias("kind"),
            txt.cast("string").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            off.cast("int").alias("offset"),
        )

    media_span = F.struct(
        F.lit("media").alias("kind"),
        F.lit(None).cast("string").alias("text"),
        F.concat(F.lit("img://"), doc_id).alias("media_ref"),
        second_off.alias("offset"),
    )
    spans = F.when(
        n >= 2,
        F.array(text_span(first, F.lit(0)), media_span, text_span(second, second_off)),
    ).otherwise(F.array(text_span(F.col(text_col), F.lit(0))))
    return documents_flat.select(doc_id.alias("doc_id"), spans.alias("spans"))


def flat_to_interleaved(documents_flat: DataFrame, text_col: str = "text") -> DataFrame:
    """Adapter: a flat (doc_id, text) table -> the north-rule interleaved
    schema with a single text span (offset 0)."""
    return documents_flat.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col(text_col).cast("string").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
