"""Annotate -> triples benchmark.

    python3 annobench/run.py --workload long_docs --seed 1 --seconds 12 --trace 0

Each run is one fresh process and a closed loop with one client: one job
at a time on ``local[nproc]``. It generates (or reuses) the seed's inputs
with ``gen.py``, sets up the production session (``get_spark``), loads
and caches the model, loads the saved spotter dictionary and warms up on
a slice of the input. Then:

* ``--trace 0`` repeats the workload's job until ``--seconds`` of job time
  have passed and reports the end-to-end metrics of BENCHMARK.json;
* ``--trace 1`` times each annotate layer from outside (``layers.py``) and
  reports the per-layer metrics; its spans go to
  ``annobench/.work/trace-<workload>-s<seed>.json``.

Every output is checked (``checks.py``); a failing check counts its job
as failed. The last line of standard output is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402  (puts the checkout root on sys.path)
import dbpedia_spotlight_spark  # noqa: E402,F401  (fails outside a full checkout)
from checks import Reference, check_annotations, link_quality, read_rows  # noqa: E402
from harness import Bench, scratch_dir  # noqa: E402

WORKLOADS = ("long_docs", "short_docs")
MAX_JOBS = 20


def annotate_job(bench: Bench):
    """The workload's job: default ``annotate`` (windowed, context on,
    the saved dictionary), written once to parquet."""
    from dbpedia_spotlight_spark.pipeline.annotate import annotate

    def job(documents, out: str) -> None:
        annotate(documents, bench.model, dictionary=bench.dictionary).write.mode(
            "overwrite"
        ).parquet(out)

    return job


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def untraced(bench: Bench, seconds: float) -> dict:
    job = annotate_job(bench)
    bench.warm_up(lambda docs: job(docs, scratch_dir("out", "warm")))
    runs, attempted, spent = [], 0, 0.0  # runs: (output dir, seconds) of completed jobs
    while spent < seconds and attempted < MAX_JOBS:
        out = os.path.join(scratch_dir("out", bench.label), str(attempted))
        attempted += 1
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        try:
            job(bench.docs, out)
            ok = True
        except Exception as e:  # a failed job is counted, not fatal
            print(f"job failed: {e!r}", file=sys.stderr)
            ok = False
        dt = time.perf_counter() - t0
        spent += dt
        if ok:
            runs.append((out, dt))

    ref = Reference(bench.inputs.docs_dir, bench.inputs.model_dir, bench.inputs.gold_path)
    failed, quality, job_s = attempted - len(runs), [], []
    for out, sec in runs:
        rows = read_rows(out)
        problems = check_annotations(rows, ref) or ([] if rows else ["no annotations"])
        for p in problems:
            print(f"check failed ({out}): {p}", file=sys.stderr)
        failed += bool(problems)
        quality.append(link_quality(rows, ref.gold))
        job_s.append(sec)
    median_s = statistics.median(job_s) if job_s else float("inf")
    if job_s:  # the traced run's overhead reference
        with open(os.path.join(scratch_dir(), f"untraced-{bench.label}.json"), "w") as f:
            json.dump({"job_s": median_s, "runs": len(job_s)}, f)
    print(json.dumps({"job_s": job_s, "setup": bench.timings}), file=sys.stderr)
    precision, recall = quality[0] if quality else (0.0, 0.0)
    return {
        "correct": failed == 0 and len(set(quality)) == 1,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "docs_per_s": metric(bench.inputs.properties["docs"] / median_s, "docs/s"),
            "setup_s": metric(bench.setup_s, "s"),
            "link_precision": metric(precision, "ratio"),
            "link_recall": metric(recall, "ratio"),
        },
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="annotate -> triples benchmark")
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="tiny inputs (self-test)")
    args = p.parse_args(argv)

    inputs = gen.generate(args.workload, args.seed, tiny=args.tiny)
    label = ("tiny-" if args.tiny else "") + args.workload
    print(json.dumps({"workload": label, "seed": args.seed, "inputs": inputs.properties}))
    bench = Bench(inputs, label, trace=bool(args.trace))
    try:
        bench.start()
        if args.trace:
            import layers

            result = layers.run(bench, args.seed)
        else:
            result = untraced(bench, args.seconds)
    finally:
        bench.close()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
