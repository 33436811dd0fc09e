"""Golden end-to-end: annotate the fixture corpus, check P/R >= 0.95 vs
gold-by-construction, span-sequence invariant, filters, checkpoint/resume."""

import collections
import re

import pytest
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.operators.filters import (
    apply_default_filter_chain,
    support_filter,
    type_filter,
)
from dbpedia_spotlight_spark.pipeline.annotate import annotate, verify_span_invariant
from dbpedia_spotlight_spark.pipeline.checkpoint import run_checkpointed
from dbpedia_spotlight_spark.pipeline.evaluate import (
    linking_metrics,
    spotter_metrics,
)
from dbpedia_spotlight_spark.pipeline.triples import annotation_triples


@pytest.fixture(scope="module")
def annotations(world):
    df = annotate(world.documents, world.model, use_context=True)
    df.cache().count()
    return df


def test_linking_pr_gate(world, annotations):
    m = linking_metrics(annotations, world.gold, redirects=world.model.redirects)
    assert m["precision"] >= 0.95, m
    assert m["recall"] >= 0.95, m


def test_spotter_pr(world, annotations):
    m = spotter_metrics(annotations, world.gold)
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95, m


def test_prior_only_mode_runs(world):
    # contextStore == null path (ref DBTwoStepDisambiguator.scala:161-164)
    df = annotate(world.documents.limit(5), world.model, use_context=False)
    rows = df.collect()
    assert len(rows) > 0
    # prior-only: "Paris" resolves to the higher-prior city everywhere
    paris = [r for r in rows if r["surface_form"] == "Paris"]
    assert all(r["uri"] == "Paris" for r in paris)


def test_span_invariant(world):
    # the pipeline never mutates the documents table; invariant holds
    assert verify_span_invariant(world.documents, world.documents)
    broken = world.documents.withColumn("spans", F.slice("spans", 1, 1))
    assert not verify_span_invariant(world.documents, broken)


def test_filters(world, annotations):
    filtered = apply_default_filter_chain(annotations, confidence=0.1, support=10)
    n_all, n_f = annotations.count(), filtered.count()
    assert 0 < n_f <= n_all
    # support filter: all output resources have support > 10
    assert filtered.filter(F.col("support") <= 10).count() == 0
    # empty type list = pass-all (ref TypeFilter.scala:25-66)
    typed = type_filter(annotations, types=None)
    assert typed.count() == n_all


def test_annotation_triples(annotations):
    t = annotation_triples(annotations)
    rows = t.collect()
    preds = {r["pred"] for r in rows}
    assert len(preds) == 3
    ident = [r for r in rows if "taIdentRef" in r["pred"]]
    assert all(r["subj"].count("#char=") == 1 for r in ident)
    assert all(r["obj"].startswith("http://dbpedia.org/resource/") for r in ident)


def test_checkpoint_resume(world, tmp_path):
    out = str(tmp_path / "ckpt")
    spark = world.documents.sparkSession

    def fn(docs):
        return annotate(docs, world.model, use_context=False)

    # simulated kill after 1 wave
    with pytest.raises(RuntimeError, match="simulated kill"):
        run_checkpointed(
            world.documents, fn, out, num_buckets=4, wave_size=1, fail_after_waves=1
        )
    # resume: skips the completed bucket
    stats = run_checkpointed(world.documents, fn, out, num_buckets=4, wave_size=1)
    assert len(stats["resumed_from"]) == 1
    assert stats["waves_run"] == 3

    # output equals a direct full run
    got = spark.read.parquet(out + "/data")
    direct = fn(world.documents)
    assert got.count() == direct.count()
    key = ["doc_id", "span_pos", "offset", "uri"]
    assert got.select(key).exceptAll(direct.select(key)).isEmpty()


def test_context_windowed_annotate(world):
    """D2: windowed scoring stays accurate (fixtures include a >250-token
    doc; per-window vectors must not break the P/R gate)."""
    ann = annotate(world.documents, world.model, use_context=True,
                   max_context_tokens=250)
    m = linking_metrics(ann, world.gold, redirects=world.model.redirects)
    assert m["precision"] >= 0.9 and m["recall"] >= 0.9, m


def _final_plan_nodes(df) -> collections.Counter:
    """Node names of `df`'s executed plan (final after an action under
    AQE), each subtree counted under every place it appears."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return collections.Counter(
        re.match(r"[\s:+\-]*(\w*)", line).group(1) for line in plan.splitlines()
    )


def test_windowed_and_whole_document_annotate_are_one_plan(world):
    """Every fixture doc fits one 250-token window, so windowed and
    whole-document annotate return the same rows; and both modes execute
    one plan: the same number of Exchange, Window and Python-scan nodes
    (window ids come from the analysis UDFs' ordinals, not from extra
    relational passes in one mode only)."""
    from dbpedia_spotlight_spark.operators.tokenizer import tokenize_documents

    longest = (
        tokenize_documents(world.documents).groupBy("doc_id").count()
        .agg(F.max("count")).first()[0]
    )
    assert longest <= 250

    def run(max_context_tokens):
        df = annotate(world.documents, world.model,
                      max_context_tokens=max_context_tokens)
        rows = sorted(df.collect())
        nodes = _final_plan_nodes(df)
        return rows, {k: nodes[k] for k in
                      ("Exchange", "ReusedExchange", "Window", "MapInPandas")}

    windowed_rows, windowed_plan = run(250)
    whole_rows, whole_plan = run(None)
    assert windowed_rows and windowed_rows == whole_rows
    assert windowed_plan["MapInPandas"] > 0
    assert windowed_plan == whole_plan


def test_filters_and_triples_read_annotations_once(world):
    """The filter chain and the triple writer each read their input once,
    so the Python scans of a lazy annotate() appear in the final plan of
    annotate -> filters -> triples exactly as often as in annotate's own."""
    ann = annotate(world.documents, world.model)
    triples = annotation_triples(apply_default_filter_chain(ann))
    ann.collect()
    assert triples.collect()
    ann_scans = _final_plan_nodes(ann)["MapInPandas"]
    assert ann_scans > 0
    assert _final_plan_nodes(triples)["MapInPandas"] == ann_scans


def test_annotate_plan_reuses_spot_exchange(world):
    """Regression guard (round-1 VERDICT watch item): the spots/tokens
    mapInPandas subtrees fork into several consumers; the repartition at
    the fork must stay a reusable Exchange or the Python scan silently
    recomputes once per branch (~8x). Assert the final adaptive plan
    contains ReusedExchange nodes."""
    df = annotate(world.documents, world.model, use_context=True)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") > 0, plan[:2000]


def test_calibration_table_bins(spark):
    from dbpedia_spotlight_spark.pipeline.evaluate import calibration_table

    scored = spark.createDataFrame(
        [(d, 0, "u%d" % (d % 2), d / 10.0) for d in range(10)],
        "doc_id int, offset int, uri string, score double",
    )
    gold = spark.createDataFrame(
        [(d, 0, "u0") for d in range(10)],  # even docs correct
        "doc_id int, offset int, uri string",
    )
    rows = {r.bin: (r.n, r.precision) for r in calibration_table(scored, gold, num_bins=5).collect()}
    assert {b: n for b, (n, _) in rows.items()} == {1: 2, 2: 2, 3: 2, 4: 2, 5: 2}
    # each bin holds one even (correct) and one odd (wrong) doc
    assert all(p == 0.5 for _, p in rows.values())


def test_label_noise_estimate_thresholds(spark):
    from dbpedia_spotlight_spark.pipeline.evaluate import label_noise_estimate

    rows = [
        (1, "cat", "cat", 0.9), (2, "cat", "dog", 0.95),
        (3, "cat", "dog", 0.2),
        (4, "dog", "dog", 0.8), (5, "dog", "cat", 0.99),
    ]
    df = spark.createDataFrame(
        rows, "id int, given_label string, pred_label string, score double"
    )
    got = {
        (r.given_label, r.pred_label): (r.n_pairs, r.n_suspect, r.threshold)
        for r in label_noise_estimate(df).collect()
    }
    # dog threshold = mean(.95, .2, .8) = .65 -> only the .95 is suspect
    assert got[("cat", "dog")] == (2, 1, 0.65)
    # cat threshold = mean(.9, .99) = .945
    assert got[("dog", "cat")] == (1, 1, 0.945)


def test_conformal_thresholds_rank_pick(spark):
    import pytest

    from dbpedia_spotlight_spark.pipeline.evaluate import conformal_thresholds

    rows = [("PER", i / 100.0) for i in range(1, 100)] + [
        ("ORG", 0.5), ("ORG", 0.9),
    ]
    d = spark.createDataFrame(rows, "label string, score double")
    got = {r.label: (r.n, r.threshold) for r in conformal_thresholds(d, alpha=0.1).collect()}
    # PER: floor(0.1 * 100) = 10 -> 10th smallest = 0.10
    assert got["PER"] == (99, 0.1)
    # tiny class: degenerate pick = min score (never reject)
    assert got["ORG"] == (2, 0.5)
    with pytest.raises(ValueError):
        conformal_thresholds(d, alpha=0.0)
