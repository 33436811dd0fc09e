"""Seeded generator of the benchmark inputs.

One seed gives, byte for byte, the same inputs:

* a Spotlight model, drawn once from a fixed seed and written in the
  ``model/model_tables.py`` parquet layout with a ``SpotterDictionary``
  saved beside it (as ``jobs/build_model_job.py`` does): ~10^5 word
  types under a Zipf(1) background, 2*10^4 resources each with its own
  context distribution of 10^2-10^3 tokens (so ``context_counts`` holds
  ~3*10^6 rows), and surface forms of 1-3 tokens whose ambiguity fanout
  is Zipfian (a few head forms have >= 20 candidates, most have 1-3);
* documents, drawn from the seed, in the interleaved schema
  ``(doc_id, spans[kind, text, media_ref, offset])`` with media spans
  between text spans, where every sentence plants one mention: a
  resource, one of its surface forms and surrounding tokens drawn from
  that resource's context (some sentences also carry an unlinked shared
  surface form that the gold leaves out, so precision and recall part);
* the planted ``(doc_id, span_pos, offset, surface_form, uri)`` gold.

The program under test sees only these files. Output is cached on disk
under ``annobench/.work`` (corpora by seed); generation is never timed.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import pickle
import shutil
import sys
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

WORK = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")

# Stopwords planted between content words (all in DEFAULT_STOPWORDS).
FILLER_STOPWORDS = (
    "the of and a in to is was for on with as by at from that it an be this"
).split()
ONSETS = "b d f g k l m n p r s t v z br dr tr st pl gr".split()
NUCLEI = "a e i o u ai ou".split()
CODAS = "n r m k t d".split()
VOCAB_SEED = 20240601  # the word list is fixed
MODEL_SEED = 0  # one model serves every corpus seed
DOC_FILES = 8
KEEP_SEEDS = 3  # corpora kept per workload before the oldest is evicted


@dataclass(frozen=True)
class ModelShape:
    vocab: int  # word types; prime, so a resource's topic block never repeats
    resources: int
    pool_forms: int  # shared, ambiguous surface forms
    min_context: int
    max_context: int


@dataclass(frozen=True)
class CorpusShape:
    docs: int
    min_tokens: int
    max_tokens: int
    max_text_spans: int


# 2*10^4 resources (~3*10^6 context rows) rather than 10^5 (~1.5*10^7):
# annotate's per-job fixed cost does not fall with model size, and every
# run must fit set-up plus a warm-up and a timed job into about a minute.
MODEL = ModelShape(
    vocab=99_991, resources=20_000, pool_forms=2_000,
    min_context=100, max_context=1000,
)
TINY_MODEL = ModelShape(
    vocab=1_999, resources=300, pool_forms=40, min_context=20, max_context=100
)
CORPORA = {
    "long_docs": CorpusShape(docs=160, min_tokens=260, max_tokens=1000, max_text_spans=3),
    "short_docs": CorpusShape(docs=1000, min_tokens=20, max_tokens=120, max_text_spans=2),
}
TINY_CORPUS = CorpusShape(docs=24, min_tokens=30, max_tokens=600, max_text_spans=3)
WINDOW_TOKENS = 250  # annotate()'s default max_context_tokens
UNLINKED_SHARE = 0.15  # sentences that also carry a name the gold leaves out


# ---------------------------------------------------------------------------
# vocabulary (fixed word list, cached; every seed re-ranks it)
# ---------------------------------------------------------------------------


def vocabulary(n: int) -> tuple[list, list]:
    """n pronounceable lowercase words with pairwise distinct stems that
    are not stopwords -> (words, stems)."""
    path = os.path.join(WORK, f"vocab-{n}.tsv")
    if os.path.exists(path):
        with open(path) as f:
            pairs = [line.rstrip("\n").split("\t") for line in f]
        return [p[0] for p in pairs], [p[1] for p in pairs]
    from dbpedia_spotlight_spark.operators.tokenizer import DEFAULT_STOPWORDS, stem

    rng = np.random.default_rng(VOCAB_SEED)
    syllables = [o + v for o in ONSETS for v in NUCLEI]
    words, stems, seen = [], [], set()
    while len(words) < n:
        m = 2 * n
        n_syl = rng.integers(2, 4, m)
        syl = rng.integers(0, len(syllables), (m, 3))
        coda = rng.integers(0, len(CODAS), m)
        for i in range(m):
            w = "".join(syllables[s] for s in syl[i, : n_syl[i]]) + CODAS[coda[i]]
            s = stem(w)
            if s in seen or w in seen or w in DEFAULT_STOPWORDS:
                continue
            seen.add(s)
            seen.add(w)
            words.append(w)
            stems.append(s)
            if len(words) == n:
                break
    os.makedirs(WORK, exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.writelines(f"{w}\t{s}\n" for w, s in zip(words, stems))
    os.replace(tmp, path)
    return words, stems


# ---------------------------------------------------------------------------
# model
# ---------------------------------------------------------------------------

CTX_HEAD = 30  # count of a resource's most frequent context token - 1


def context_weights(max_context: int) -> np.ndarray:
    """Count of the k-th token of any resource's context (k < n_r)."""
    k = np.arange(max_context)
    return 1 + np.floor(CTX_HEAD / (k + 1) ** 0.8).astype(np.int64)


@dataclass
class Model:
    shape: ModelShape
    words: list
    stems: list
    bg_rank: np.ndarray  # token_id -> background Zipf rank
    names: list  # sf_id -> surface form
    cand_sf: np.ndarray
    cand_res: np.ndarray
    cand_count: np.ndarray
    res_forms: list  # res_id -> list of sf_ids (primary first)
    uris: list
    pop: np.ndarray
    ctx_n: np.ndarray
    ctx_base: np.ndarray
    ctx_step: np.ndarray


def _fresh_name(rng, tail_ids, words, taken: set, n_tokens: int) -> str:
    toks = [words[t].capitalize() for t in rng.choice(tail_ids, n_tokens)]
    name = " ".join(toks)
    while name in taken:
        toks.append(words[rng.choice(tail_ids)].capitalize())
        name = " ".join(toks)
    taken.add(name)
    return name


def build_model(shape: ModelShape, seed: int) -> Model:
    rng = np.random.default_rng([seed, 0])
    words, stems = vocabulary(shape.vocab)
    V, R = shape.vocab, shape.resources
    bg_rank = rng.permutation(V)
    tail_ids = np.nonzero(bg_rank >= V // 50)[0]

    pop = 5 + np.floor(2000 / (rng.permutation(R) + 1) ** 0.7).astype(np.int64)
    taken: set = set()
    n_name_tokens = rng.choice([1, 2, 3], R, p=[0.4, 0.45, 0.15])
    names = [_fresh_name(rng, tail_ids, words, taken, int(k)) for k in n_name_tokens]
    uris = [n.replace(" ", "_") for n in names]
    res_forms = [[r] for r in range(R)]
    cand_sf = [np.arange(R)]
    cand_res = [np.arange(R)]
    cand_count = [pop.copy()]

    # shared forms: fanout of the i-th is max(2, 80/sqrt(i+1)) — Zipfian
    n_pool_tokens = rng.choice([1, 2], shape.pool_forms, p=[0.6, 0.4])
    for i in range(shape.pool_forms):
        sf_id = len(names)
        names.append(_fresh_name(rng, tail_ids, words, taken, int(n_pool_tokens[i])))
        fan = min(R, max(2, int(80 / math.sqrt(i + 1))))
        res = np.unique(rng.integers(0, R, fan))
        share = rng.uniform(0.05, 0.6, len(res))
        cand_sf.append(np.full(len(res), sf_id))
        cand_res.append(res)
        cand_count.append(np.maximum(1, (pop[res] * share).astype(np.int64)))
        for r in res:
            res_forms[r].append(sf_id)

    lomax = rng.pareto(3.0, R)
    ctx_n = np.clip(
        (shape.min_context * (1 + lomax)).astype(np.int64),
        shape.min_context, shape.max_context,
    )
    return Model(
        shape=shape, words=words, stems=stems, bg_rank=bg_rank, names=names,
        cand_sf=np.concatenate(cand_sf), cand_res=np.concatenate(cand_res),
        cand_count=np.concatenate(cand_count), res_forms=res_forms, uris=uris,
        pop=pop, ctx_n=ctx_n,
        ctx_base=rng.integers(0, V, R), ctx_step=rng.integers(1, V, R),
    )


def context_tokens(m: Model, res: np.ndarray, k: np.ndarray) -> np.ndarray:
    """token_id of the k-th context token of each resource in `res`."""
    return (m.ctx_base[res] + k * m.ctx_step[res]) % m.shape.vocab


def _write(table: pa.Table, directory: str, parts: int = 1) -> None:
    os.makedirs(directory, exist_ok=True)
    n = table.num_rows
    for i in range(parts):
        lo, hi = n * i // parts, n * (i + 1) // parts
        pq.write_table(
            table.slice(lo, hi - lo), os.path.join(directory, f"part-{i:05d}.parquet")
        )


def write_model(m: Model, out: str, seed: int) -> None:
    from dbpedia_spotlight_spark.functions.text import normalize_surface_form_py
    from dbpedia_spotlight_spark.operators.spotter import SpotterDictionary

    rng = np.random.default_rng([seed, 9])
    R, V, S = m.shape.resources, m.shape.vocab, len(m.names)
    annotated = np.bincount(m.cand_sf, weights=m.cand_count, minlength=S).astype(np.int64)
    total = np.ceil(annotated / rng.uniform(0.55, 1.0, S)).astype(np.int64)
    support = (
        np.bincount(m.cand_res, weights=m.cand_count, minlength=R).astype(np.int64)
        + rng.integers(0, 10, R)
    )
    n_types = rng.integers(0, 3, R)
    types = [rng.integers(0, 50, k).astype(np.int16).tolist() for k in n_types]

    _write(pa.table({
        "sf_id": pa.array(np.arange(S), pa.int32()),
        "surface_form": pa.array(m.names, pa.string()),
        "surface_form_norm": pa.array([normalize_surface_form_py(s) for s in m.names]),
        "annotated_count": pa.array(annotated, pa.int64()),
        "total_count": pa.array(total, pa.int64()),
    }), os.path.join(out, "surface_forms"))
    _write(pa.table({
        "res_id": pa.array(np.arange(R), pa.int32()),
        "uri": pa.array(m.uris, pa.string()),
        "support": pa.array(support, pa.int64()),
        "types": pa.array(types, pa.list_(pa.int16())),
    }), os.path.join(out, "resources"))
    _write(pa.table({
        "sf_id": pa.array(m.cand_sf, pa.int32()),
        "res_id": pa.array(m.cand_res, pa.int32()),
        "pair_count": pa.array(m.cand_count, pa.int64()),
    }), os.path.join(out, "candidates"))
    _write(pa.table({
        "token_id": pa.array(np.arange(V), pa.int32()),
        "token": pa.array(m.stems, pa.string()),
        "count": pa.array(np.maximum(1, 50_000_000 // (m.bg_rank + 1)), pa.int64()),
    }), os.path.join(out, "token_types"))

    res = np.repeat(np.arange(R), m.ctx_n)
    starts = np.concatenate([[0], np.cumsum(m.ctx_n)[:-1]])
    k = np.arange(res.shape[0]) - np.repeat(starts, m.ctx_n)
    _write(pa.table({
        "res_id": pa.array(res, pa.int32()),
        "token_id": pa.array(context_tokens(m, res, k), pa.int32()),
        "count": pa.array(context_weights(m.shape.max_context)[k], pa.int64()),
    }), os.path.join(out, "context_counts"), parts=DOC_FILES)

    SpotterDictionary.build(
        zip(m.names, annotated.tolist(), total.tolist())
    ).save(os.path.join(out, "spotter_dict.pkl"))


# ---------------------------------------------------------------------------
# documents + gold
# ---------------------------------------------------------------------------


def build_corpus(m: Model, shape: CorpusShape, seed: int, stream: int, prefix: str):
    """-> (documents table, gold table, per-doc token counts)."""
    rng = np.random.default_rng([seed, stream])
    V = m.shape.vocab
    by_rank = np.argsort(m.bg_rank)  # rank -> token_id
    bg_cdf = np.cumsum(1.0 / np.arange(1, V + 1))
    pop_cdf = np.cumsum(m.pop.astype(np.float64))
    ctx_cdf = np.cumsum(context_weights(m.shape.max_context).astype(np.float64))
    words = m.words

    doc_ids, doc_spans, doc_tokens = [], [], []
    g_doc, g_pos, g_off, g_sf, g_uri = [], [], [], [], []
    for d in range(shape.docs):
        doc_id = f"{prefix}{d:07d}"
        target = int(rng.integers(shape.min_tokens, shape.max_tokens + 1))
        sentences, mentions, n_tok = [], [], 0
        while n_tok < target:
            r = int(np.searchsorted(pop_cdf, rng.random() * pop_cdf[-1], side="right"))
            forms = m.res_forms[r]
            sf = forms[0] if len(forms) == 1 or rng.random() < 0.7 else forms[
                int(rng.integers(1, len(forms)))
            ]
            name = m.names[sf]
            n_fill = int(rng.integers(10, 23))
            kind = rng.random(n_fill)
            k = np.searchsorted(ctx_cdf[: m.ctx_n[r]], rng.random(n_fill) * ctx_cdf[m.ctx_n[r] - 1], side="right")
            ctx = context_tokens(m, np.full(n_fill, r), k)
            bg = by_rank[np.searchsorted(bg_cdf, rng.random(n_fill) * bg_cdf[-1], side="right").clip(0, V - 1)]
            sw = rng.integers(0, len(FILLER_STOPWORDS), n_fill)
            fill = [
                FILLER_STOPWORDS[sw[i]] if kind[i] < 0.25
                else words[ctx[i]] if kind[i] < 0.6
                else words[bg[i]]
                for i in range(n_fill)
            ]
            at = int(rng.integers(0, n_fill + 1))
            # an unlinked name: a shared surface form the gold leaves out,
            # kept one word away from the planted mention
            j = int(rng.integers(0, n_fill))
            if rng.random() < UNLINKED_SHARE and j not in (at - 1, at):
                fill[j] = m.names[int(rng.integers(m.shape.resources, len(m.names)))]
                n_tok += fill[j].count(" ")
            head = " ".join(fill[:at])
            local = len(head) + 1 if at else 0
            text = " ".join(fill[:at] + [name] + fill[at:]) + "."
            sentences.append(text)
            mentions.append((local, name, m.uris[r]))
            n_tok += n_fill + name.count(" ") + 1
        groups = min(len(sentences), int(rng.integers(1, shape.max_text_spans + 1)))
        cuts = np.sort(rng.choice(np.arange(1, len(sentences)), groups - 1, replace=False)) if groups > 1 else []
        bounds = [0, *map(int, cuts), len(sentences)]
        spans, offset = [], 0
        for g in range(groups):
            if g:
                spans.append({"kind": "media", "text": None,
                              "media_ref": f"img://{doc_id}/{g}", "offset": offset})
            pos = len(spans)
            chunk = sentences[bounds[g]: bounds[g + 1]]
            base = 0
            for s_text, (local, name, uri) in zip(chunk, mentions[bounds[g]: bounds[g + 1]]):
                g_doc.append(doc_id)
                g_pos.append(pos)
                g_off.append(offset + base + local)
                g_sf.append(name)
                g_uri.append(uri)
                base += len(s_text) + 1
            text = " ".join(chunk)
            spans.append({"kind": "text", "text": text, "media_ref": None, "offset": offset})
            offset += len(text) + 1
        doc_ids.append(doc_id)
        doc_spans.append(spans)
        doc_tokens.append(n_tok)

    span_type = pa.struct([
        ("kind", pa.string()), ("text", pa.string()),
        ("media_ref", pa.string()), ("offset", pa.int32()),
    ])
    docs = pa.table({
        "doc_id": pa.array(doc_ids, pa.string()),
        "spans": pa.array(doc_spans, pa.list_(span_type)),
    })
    gold = pa.table({
        "doc_id": pa.array(g_doc, pa.string()),
        "span_pos": pa.array(g_pos, pa.int32()),
        "offset": pa.array(g_off, pa.int32()),
        "surface_form": pa.array(g_sf, pa.string()),
        "uri": pa.array(g_uri, pa.string()),
    })
    return docs, gold, np.array(doc_tokens)


def input_properties(m: Model, tokens: np.ndarray, gold_rows: int) -> dict:
    windows = np.ceil(tokens / WINDOW_TOKENS)
    return {
        "docs": int(tokens.shape[0]),
        "tokens_per_doc_median": float(np.median(tokens)),
        "tokens_per_doc_p90": float(np.percentile(tokens, 90)),
        "windows_per_doc": float(windows.mean()),
        "multi_window_share": float((windows > 1).mean()),
        "gold_mentions": gold_rows,
        "surface_forms": len(m.names),
        "candidate_rows": int(m.cand_sf.shape[0]),
        "max_fanout": int(np.bincount(m.cand_sf).max()),
        "context_rows": int(m.ctx_n.sum()),
    }


# ---------------------------------------------------------------------------
# on-disk cache
# ---------------------------------------------------------------------------


def tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for name in sorted(files):
            full = os.path.join(base, name)
            h.update(os.path.relpath(full, path).encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def _evict(prefix: str, keep: str) -> None:
    old = sorted(
        (os.path.getmtime(os.path.join(WORK, d)), d)
        for d in os.listdir(WORK)
        if d.startswith(prefix) and d != keep
    )
    for _, d in old[: max(0, len(old) - (KEEP_SEEDS - 1))]:
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)


@dataclass
class Inputs:
    model_dir: str
    docs_dir: str
    gold_path: str
    properties: dict


def generate(workload: str, seed: int, tiny: bool = False, root: str = WORK) -> Inputs:
    """Write (or reuse) the inputs of `workload` at `seed` under `root`.

    The model is drawn from MODEL_SEED and shared by every seed and
    workload, as one deployed model serves many corpora; the documents
    and gold are drawn from `seed`."""
    tag = "tiny-" if tiny else ""
    model_dir = os.path.join(root, f"{tag}model")
    model_pkl = model_dir + ".pkl"  # the generator's own state, not an input
    corpus_name = f"{tag}{workload}-s{seed}"
    corpus_dir = os.path.join(root, corpus_name)
    model = None
    if not os.path.exists(os.path.join(model_dir, "_DONE")):
        shutil.rmtree(model_dir, ignore_errors=True)
        model = build_model(TINY_MODEL if tiny else MODEL, MODEL_SEED)
        write_model(model, model_dir, MODEL_SEED)
        with open(model_pkl, "wb") as f:
            pickle.dump(model, f, protocol=pickle.HIGHEST_PROTOCOL)
        open(os.path.join(model_dir, "_DONE"), "w").close()
    if not os.path.exists(os.path.join(corpus_dir, "_DONE")):
        if root == WORK:
            _evict(f"{tag}{workload}-s", corpus_name)
        if model is None:
            with open(model_pkl, "rb") as f:
                model = pickle.load(f)
        shutil.rmtree(corpus_dir, ignore_errors=True)
        cshape = TINY_CORPUS if tiny else CORPORA[workload]
        stream = 1 + sorted(CORPORA).index(workload)
        docs, gold, tokens = build_corpus(model, cshape, seed, stream, workload[0].upper())
        _write(docs, os.path.join(corpus_dir, "documents"), parts=DOC_FILES)
        pq.write_table(gold, os.path.join(corpus_dir, "gold.parquet"))
        props = input_properties(model, tokens, gold.num_rows)
        props["model"] = asdict(model.shape)
        props["corpus"] = asdict(cshape)
        with open(os.path.join(corpus_dir, "inputs.json"), "w") as f:
            json.dump(props, f, indent=1, sort_keys=True)
        open(os.path.join(corpus_dir, "_DONE"), "w").close()
    with open(os.path.join(corpus_dir, "inputs.json")) as f:
        props = json.load(f)
    return Inputs(
        model_dir=model_dir,
        docs_dir=os.path.join(corpus_dir, "documents"),
        gold_path=os.path.join(corpus_dir, "gold.parquet"),
        properties=props,
    )
