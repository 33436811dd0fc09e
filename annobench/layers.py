"""Traced run: times each layer of the annotate -> triples path from
outside the library.

A layer's call is an action on the DataFrame that the layer's public
function returns, written to the noop sink. The run times cumulative
prefixes in ``annotate()``'s order; a layer's self time is its prefix
minus the one before:

    1 spot_documents                          spotter.s
    2 + tokenize_documents                    tokenizer.s
    3 + generate_candidates                   candidates.s
    4 annotate(use_context=False) + tokens    ranking.s
    5 annotate(max_context_tokens=None)       scoring.s
    6 annotate(), to parquet                  windows.s (the workload's job)

Prefixes 1-4 take a few seconds each, so they run in two passes and keep
the faster time of each: the first pass also absorbs what is left of the
warm-up. Consecutive prefixes are separate plans, so a small layer's self
time can still read slightly below zero.

The write-side layers are timed directly on 6's materialized output and
added on, so the chain stays cumulative:

    7 + apply_default_filter_chain, to parquet    filters.s
    8 + annotation_triples/write_triples          triples.s
    9 + run_checkpointed around the workload's job, killed after half its
      waves and resumed; checkpoint.s is its wall time minus prefix 6

No timed action carries an observation. Row counts come from the written
outputs, or from one extra, untimed action over the operator functions
``annotate()`` is built from (spots, tokens, candidates, windows,
query-vector rows). Spark counters and plan shape come from the event log
this run enables (``eventlog.py``). A layer function that no longer exists
is recorded as absent (self time 0), not as a failure. Spans (name, start,
end, parent, run id) are kept in memory and written to JSON at the end.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import uuid
from collections import defaultdict

from checks import Reference, check_annotations, digest, read_rows
from eventlog import EventLog
from harness import Bench, noop, scratch_dir

WINDOW = 250  # annotate()'s default max_context_tokens
NUM_BUCKETS, WAVE_SIZE = 4, 2  # two checkpoint waves; the kill comes after one
SHORT_PREFIXES, SHORT_PASSES = 4, 2

ROOT_SPAN = "traced_run"


class Tracer:
    def __init__(self):
        self.run_id = uuid.uuid4().hex
        self.spans: list = []
        self.absent: list = []
        self.errors: list = []
        self.attempted = 0
        self.start = time.time()

    def span(self, name: str, start: float, parent: str | None = ROOT_SPAN) -> None:
        self.spans.append({"name": name, "start": start, "end": time.time(),
                           "parent": parent, "run_id": self.run_id})

    def call(self, name: str, fn, spark, parent: str = ROOT_SPAN):
        """Time `fn()` as span `name` under job group `name`. Returns
        (seconds, result); seconds is None when the layer is absent or
        failed."""
        self.attempted += 1
        spark.sparkContext.setJobGroup(name, name)
        start = time.time()
        try:
            result = fn()
        except (ImportError, AttributeError) as e:
            self.absent.append({"name": name, "reason": repr(e)})
            return None, None
        except Exception as e:  # a failing layer is recorded and counted
            self.errors.append({"name": name, "error": repr(e)})
            print(f"layer {name} failed: {e!r}", file=sys.stderr)
            return None, None
        self.span(name, start, parent)
        return self.spans[-1]["end"] - start, result


def candidates(bench: Bench, spots):
    """generate_candidates as annotate() calls it: spots clustered on
    doc_id, the two-stage head join only for a big candidate table."""
    from dbpedia_spotlight_spark.operators.candidates import (
        AUTO_BROADCAST_MAX,
        generate_candidates,
    )

    m = bench.model
    heads = m.head_ids() if m.candidates_count > AUTO_BROADCAST_MAX else None
    return generate_candidates(spots.repartition("doc_id"), m.surface_forms,
                               m.candidates, heads=heads)


def run(bench: Bench, seed: int) -> dict:
    from dbpedia_spotlight_spark.operators.spotter import spot_documents
    from dbpedia_spotlight_spark.operators.tokenizer import tokenize_documents
    from dbpedia_spotlight_spark.pipeline.annotate import annotate

    spark, m, d, docs = bench.spark, bench.model, bench.dictionary, bench.docs
    bench.warm_up(lambda part: noop(annotate(part, m, dictionary=d)))
    tr = Tracer()
    out = scratch_dir("trace-out")
    shutil.rmtree(out)
    n_docs = bench.inputs.properties["docs"]

    def spots():
        return spot_documents(docs, m.surface_forms, dictionary=d)

    def token_ids():
        return tokenize_documents(docs).select("doc_id")

    annotated_dir = os.path.join(out, "annotated")
    filtered_dir = os.path.join(out, "filtered")
    prefixes = [
        ("spot_documents", "spotter", lambda: noop(spots())),
        ("tokenize_documents", "tokenizer",
         lambda: noop(spots().select("doc_id").unionByName(token_ids()))),
        ("generate_candidates", "candidates",
         lambda: noop(candidates(bench, spots()).select("doc_id").unionByName(token_ids()))),
        ("annotate_no_context", "ranking",
         lambda: noop(annotate(docs, m, use_context=False, dictionary=d)
                      .select("doc_id").unionByName(token_ids()))),
        ("annotate_whole_doc", "scoring",
         lambda: noop(annotate(docs, m, max_context_tokens=None, dictionary=d))),
        ("annotate", "windows",
         lambda: annotate(docs, m, dictionary=d).write.mode("overwrite").parquet(annotated_dir)),
    ]
    times: dict = defaultdict(list)
    for name, _, fn in prefixes[:SHORT_PREFIXES] * SHORT_PASSES + prefixes[SHORT_PREFIXES:]:
        sec, _ = tr.call(name, fn, spark)
        if sec is not None:
            times[name].append(sec)
    prefix_s: dict = {}
    self_s: dict = {}
    last = 0.0
    for name, layer, _ in prefixes:
        cum = min(times[name], default=last)
        prefix_s[name] = cum
        self_s[layer] = cum - last
        last = cum

    job_s = last

    # 7, 8: the filter chain and the triples writer over materialized input
    from dbpedia_spotlight_spark.operators.filters import apply_default_filter_chain
    from dbpedia_spotlight_spark.pipeline.triples import annotation_triples, write_triples

    triples_dir = os.path.join(out, "triples")
    write_side = [
        ("filter_chain", "filters", lambda: apply_default_filter_chain(
            spark.read.parquet(annotated_dir), confidence=0.1, support=10)
         .write.mode("overwrite").parquet(filtered_dir)),
        ("triples", "triples", lambda: write_triples(
            annotation_triples(spark.read.parquet(filtered_dir)), triples_dir)),
    ]
    for name, layer, fn in write_side:
        self_s[layer] = tr.call(name, fn, spark)[0] or 0.0
        last = prefix_s[name] = last + self_s[layer]

    # 9: the checkpointed job, killed after half its waves, then resumed
    start = time.time()
    ck = checkpoint_layer(tr, bench, os.path.join(out, "checkpointed"))
    tr.span("run_checkpointed", start)
    self_s["checkpoint"] = ck.pop("_job_s") - job_s
    prefix_s["run_checkpointed"] = last + self_s["checkpoint"]

    counts = count_internals(tr, bench)
    metrics, problems = {}, list(ck.pop("_problems"))

    ref = Reference(bench.inputs.docs_dir, bench.inputs.model_dir, bench.inputs.gold_path)
    annotated_rows = read_rows(annotated_dir)
    filtered_rows = read_rows(filtered_dir)
    triples_n = len(read_rows(triples_dir, columns=["subj"]))
    problems += check_annotations(annotated_rows, ref) or ([] if annotated_rows else ["no annotations"])
    problems += check_annotations(filtered_rows, ref, coreference=True)
    if triples_n != 3 * len(filtered_rows):
        problems.append(f"{triples_n} triples for {len(filtered_rows)} annotations")
    if ck.pop("_digest") != digest(annotated_rows):
        problems.append("resumed checkpointed output differs from the uninterrupted job's")

    spots_n = counts.get("spots", 0)
    cands_n = counts.get("candidates", 0)
    ann_n = len(annotated_rows)
    for layer, sec in self_s.items():
        metrics[f"{layer}.s"] = (sec, "s")
    metrics.update({
        "spotter.rows_out": (spots_n, "count"),
        "tokenizer.rows_out": (counts.get("tokens", 0), "count"),
        "candidates.rows_out": (cands_n, "count"),
        "candidates.per_spot": (cands_n / spots_n if spots_n else 0.0, "ratio"),
        "candidates.head_share": (counts.get("head_candidates", 0) / cands_n if cands_n else 0.0, "ratio"),
        "windows.count": (counts.get("windows", 0), "count"),
        "windows.per_doc": (counts.get("windows", 0) / n_docs, "ratio"),
        "scoring.query_rows": (counts.get("query", 0), "count"),
        "ranking.rows_out": (ann_n, "count"),
        "ranking.nil_share": (1 - ann_n / spots_n if spots_n else 0.0, "ratio"),
        "ranking.useful_ratio": (ann_n / cands_n if cands_n else 0.0, "ratio"),
        "filters.kept_share": (len(filtered_rows) / ann_n if ann_n else 0.0, "ratio"),
        "triples.rows_out": (triples_n, "count"),
        "triples.files": (_parquet_files(triples_dir), "count"),
        "model.load_s": (bench.timings["load_s"], "s"),
        "model.dict_load_s": (bench.timings["dict_load_s"], "s"),
        "model.cache_s": (bench.timings["cache_s"], "s"),
        "model.context_rows": (m.context_counts.count(), "count"),
        "model.candidate_rows": (m.candidates.count(), "count"),
        "trace.full_job_s": (prefix_s["annotate"], "s"),
        "trace.overhead": (prefix_s["annotate"] / untraced_job_s(bench), "ratio"),
    })
    metrics.update({k: (v, u) for k, (v, u) in ck.items()})

    tr.span(ROOT_SPAN, tr.start, None)
    bench.sampler.stop()
    metrics["mem.peak_rss_mb"] = (bench.sampler.peak_mb, "MB")
    bench.close()  # flushes the event log
    log = EventLog(bench.event_log_dir)
    metrics.update(log.engine("annotate"))
    metrics.update(log.plan_counts("annotate"))
    udf = log.python_tasks("annotate")
    parts = bench.docs_partitions
    metrics["analysis.udf_tasks"] = (udf, "count")
    metrics["analysis.udf_tasks_per_partition"] = (udf / parts if parts else 0.0, "ratio")
    docs_bytes = sum(
        os.path.getsize(os.path.join(bench.inputs.docs_dir, f))
        for f in os.listdir(bench.inputs.docs_dir)
    )
    read = sum(log.file_bytes_read(g) for g in ("checkpoint_killed", "checkpoint_resumed"))
    metrics["checkpoint.input_read_ratio"] = (read / docs_bytes, "ratio")

    spans_path = os.path.join(scratch_dir(), f"trace-{bench.label}-s{seed}.json")
    with open(spans_path, "w") as f:
        json.dump({
            "run_id": tr.run_id, "workload": bench.label, "seed": seed,
            "spans": tr.spans, "absent": tr.absent, "errors": tr.errors,
            "prefix_s": prefix_s, "problems": problems, "counts": counts,
            "setup": bench.timings, "inputs": bench.inputs.properties,
        }, f, indent=1)
    print(json.dumps({"spans": spans_path, "prefix_s": prefix_s}), file=sys.stderr)
    for p in problems:
        print(f"check failed: {p}", file=sys.stderr)
    failed = len(tr.errors) + bool(problems)
    return {
        "correct": not problems and not tr.errors,
        "attempted": tr.attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
    }


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, files in os.walk(path) for f in files)


def untraced_job_s(bench: Bench) -> float:
    """Median untraced job time of the last ``--trace 0`` run of this
    workload in this checkout; if there is none, the job is timed once
    here (with the event log on)."""
    path = os.path.join(scratch_dir(), f"untraced-{bench.label}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)["job_s"]
    from dbpedia_spotlight_spark.pipeline.annotate import annotate

    target = scratch_dir("trace-out", "untraced")
    t0 = time.perf_counter()
    annotate(bench.docs, bench.model, dictionary=bench.dictionary).write.mode(
        "overwrite").parquet(target)
    return time.perf_counter() - t0


def checkpoint_layer(tr: Tracer, bench: Bench, out: str) -> dict:
    """Prefix 9: ``run_checkpointed`` around the workload's job (default
    annotate), killed through ``fail_after_waves`` after half its waves
    and resumed. Checks that the manifest's rows equal the rows on disk
    and counts buckets done twice. ``_job_s`` is the killed plus the
    resumed run's wall time."""
    from dbpedia_spotlight_spark.pipeline.annotate import annotate
    from dbpedia_spotlight_spark.pipeline.checkpoint import run_checkpointed

    spark, m, d = bench.spark, bench.model, bench.dictionary

    def pipeline(subset):
        return annotate(subset, m, dictionary=d)

    waves = NUM_BUCKETS // WAVE_SIZE

    def killed():
        try:
            run_checkpointed(bench.docs, pipeline, out, num_buckets=NUM_BUCKETS,
                             wave_size=WAVE_SIZE, fail_after_waves=waves // 2)
        except RuntimeError:
            return True
        return False

    t_kill, was_killed = tr.call("checkpoint_killed", killed, spark, "run_checkpointed")
    manifest = os.path.join(out, "_manifest", "manifest.jsonl")
    before = _manifest(manifest)
    t_res, _ = tr.call("checkpoint_resumed", lambda: run_checkpointed(
        bench.docs, pipeline, out, num_buckets=NUM_BUCKETS, wave_size=WAVE_SIZE), spark,
        "run_checkpointed")
    data = os.path.join(out, "data")
    t_fp = None
    try:
        from dbpedia_spotlight_spark.pipeline.checkpoint import input_fingerprint

        t_fp, _ = tr.call("checkpoint_fingerprint",
                          lambda: input_fingerprint(bench.docs, NUM_BUCKETS), spark,
                          "run_checkpointed")
    except ImportError as e:
        tr.absent.append({"name": "checkpoint_fingerprint", "reason": repr(e)})

    records = _manifest(manifest)
    rows = read_rows(data)
    problems = []
    if None in (t_kill, t_res) or not was_killed:
        problems.append("checkpointed run did not complete a kill and a resume")
    manifest_rows = sum(r.get("rows", 0) for r in records)
    if manifest_rows != len(rows):
        problems.append(f"manifest rows {manifest_rows} != {len(rows)} on disk")
    done_before = {b for r in before for b in r.get("buckets", ())}
    redone = sum(b in done_before for r in records[len(before):] for b in r.get("buckets", ()))
    return {
        "_job_s": (t_kill or 0.0) + (t_res or 0.0),
        "_problems": problems,
        "_digest": digest(rows),
        "checkpoint.fingerprint_s": (t_fp or 0.0, "s"),
        "checkpoint.wave_s_median": (
            statistics.median(r.get("seconds", 0.0) for r in records) if records else 0.0, "s"),
        "checkpoint.waves": (len(records), "count"),
        "checkpoint.redo_buckets": (redone, "count"),
        "checkpoint.resume_s": (t_res or 0.0, "s"),
    }


def _manifest(path: str) -> list:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def count_internals(tr: Tracer, bench: Bench) -> dict:
    """Row counts at the boundaries inside ``annotate()`` (spots, tokens,
    candidates and their share on head surface forms, windows,
    query-vector rows) from one extra action over the operator functions
    annotate() is built from. Not timed as a layer."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    n = F.count(F.lit(1)).alias("n")
    obs = {k: Observation(k) for k in ("spots", "tokens", "candidates", "windows", "query")}

    def action():
        from dbpedia_spotlight_spark.operators.disambiguate import (
            attach_context_windows,
            build_query_vectors,
        )
        from dbpedia_spotlight_spark.operators.spotter import spot_documents
        from dbpedia_spotlight_spark.operators.tokenizer import tokenize_documents

        m, docs = bench.model, bench.docs
        spots = spot_documents(docs, m.surface_forms, dictionary=bench.dictionary)
        cands = candidates(bench, spots.observe(obs["spots"], n))
        heads = m.head_ids()
        # the observation sits below the exchange that both token branches reuse
        tokens = tokenize_documents(docs).observe(obs["tokens"], n).repartition("doc_id")
        tk, _ = attach_context_windows(tokens, spots, WINDOW)
        windows = tk.groupBy("doc_id").agg((F.max("window_id") + 1).alias("w"))
        query = build_query_vectors(tk, m, "ctx_id")
        noop(
            cands.observe(obs["candidates"], n, F.sum(F.col("sf_id").isin(heads).cast("long"))
                          .alias("head")).select("doc_id")
            .unionByName(windows.observe(obs["windows"], F.sum("w").alias("n")).select("doc_id"))
            .unionByName(query.observe(obs["query"], n).select(F.col("ctx_id").alias("doc_id")))
        )

    tr.attempted -= 1  # bookkeeping, not a layer call
    sec, _ = tr.call("count_internals", action, bench.spark)
    if sec is None:
        return {}
    counts = {k: o.get["n"] for k, o in obs.items()}
    counts["head_candidates"] = obs["candidates"].get["head"]
    return counts
