"""Output checks and linking quality, computed in plain Python from the
parquet files the program wrote and the generator's inputs (no Spark).

Every check returns a list of failure messages; an empty list passes."""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

KEY = ("doc_id", "span_pos", "offset")


def read_rows(path: str, columns=None) -> list:
    """Rows of a parquet file or directory (hive partitions included) as
    dicts; an empty list when nothing was written."""
    if not os.path.exists(path):
        return []
    return pq.read_table(path, columns=columns).to_pylist()


class Reference:
    """What a correct output is judged against: the input span texts,
    the model's (surface_form, uri) candidate pairs and the gold."""

    def __init__(self, docs_dir: str, model_dir: str, gold_path: str):
        self.spans = {}
        for row in read_rows(docs_dir):
            for pos, sp in enumerate(row["spans"]):
                if sp["kind"] == "text":
                    self.spans[(row["doc_id"], pos)] = (sp["offset"], sp["text"])
        sf = {
            r["sf_id"]: r["surface_form"]
            for r in read_rows(os.path.join(model_dir, "surface_forms"))
        }
        uri = {r["res_id"]: r["uri"] for r in read_rows(os.path.join(model_dir, "resources"))}
        self.pairs = {
            (sf[r["sf_id"]], uri[r["res_id"]])
            for r in read_rows(os.path.join(model_dir, "candidates"))
        }
        self.gold = {(r["doc_id"], r["offset"], r["uri"]) for r in read_rows(gold_path)}


def check_annotations(rows: list, ref: Reference, coreference: bool = False) -> list:
    """Each surface form equals the input text at its offset, each
    (surface_form, uri) is a model candidate pair, and no
    (doc_id, span_pos, offset) carries two annotations. With
    `coreference` (filtered output) a single word may instead carry the
    uri of an earlier multi-word annotation in its document that
    contains it, as the coreference filter assigns."""
    first_multi: dict = {}  # (doc_id, word, uri) -> first offset of a multi-word form
    if coreference:
        for r in rows:
            words = r["surface_form"].split(" ")
            for w in words if len(words) > 1 else ():
                key = (r["doc_id"], w, r["uri"])
                first_multi[key] = min(first_multi.get(key, r["offset"]), r["offset"])
    bad, seen = [], set()
    for r in rows:
        key = tuple(r[k] for k in KEY)
        if key in seen:
            bad.append(f"duplicate annotation at {key}")
        seen.add(key)
        span = ref.spans.get((r["doc_id"], r["span_pos"]))
        if span is None:
            bad.append(f"annotation outside a text span at {key}")
            continue
        start = r["offset"] - span[0]
        if span[1][start : start + len(r["surface_form"])] != r["surface_form"]:
            bad.append(f"surface form {r['surface_form']!r} not at {key}")
        antecedent = first_multi.get((r["doc_id"], r["surface_form"], r["uri"]))
        if (r["surface_form"], r["uri"]) not in ref.pairs and not (
            antecedent is not None and antecedent < r["offset"]
        ):
            bad.append(f"({r['surface_form']!r}, {r['uri']!r}) is not a candidate pair")
    return bad[:20]


def link_quality(rows: list, gold: set) -> tuple[float, float]:
    """(precision, recall) of annotations against the planted gold on
    (doc_id, offset, uri)."""
    found = {(r["doc_id"], r["offset"], r["uri"]) for r in rows}
    matched = len(found & gold)
    precision = matched / len(found) if found else 0.0
    recall = matched / len(gold) if gold else 0.0
    return precision, recall


def digest(rows: list, columns=KEY + ("surface_form", "uri")) -> str:
    """Order-independent digest of the rows' `columns`."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r[c] for c in columns)) for r in rows):
        h.update(line.encode())
    return h.hexdigest()
