"""Self-test of the benchmark at a tiny seed.

    python3 annobench/selftest.py [--seed 7]

Checks that:

* the generator is deterministic: one seed writes byte-identical inputs
  twice, and another seed changes the corpus;
* an untraced run reports every end-to-end metric of BENCHMARK.json, and
  its link_precision / link_recall equal a brute-force recomputation from
  the planted gold and the annotations the run wrote;
* a traced run reports every per-layer metric of BENCHMARK.json, and its
  layer self times add up to each cumulative prefix time, the last one
  included.

Prints one line per check and exits 1 if any fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from checks import read_rows  # noqa: E402

SELF_TIMES = [  # (prefix, self-time metric) in the traced run's order
    ("spot_documents", "spotter.s"),
    ("tokenize_documents", "tokenizer.s"),
    ("generate_candidates", "candidates.s"),
    ("annotate_no_context", "ranking.s"),
    ("annotate_whole_doc", "scoring.s"),
    ("annotate", "windows.s"),
    ("filter_chain", "filters.s"),
    ("triples", "triples.s"),
    ("run_checkpointed", "checkpoint.s"),
]


def bench_run(workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--tiny"]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited with {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def brute_force_quality(annotations: list, gold: list) -> tuple[float, float]:
    matched = 0
    for a in annotations:
        for g in gold:
            if (a["doc_id"], a["offset"], a["uri"]) == (g["doc_id"], g["offset"], g["uri"]):
                matched += 1
                break
    return matched / len(annotations), matched / len(gold)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="benchmark self-test")
    p.add_argument("--seed", type=int, default=7)
    args = p.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    results = []

    def check(name: str, ok: bool, detail: str = "") -> None:
        results.append(ok)
        print(f"{'ok  ' if ok else 'FAIL'} {name}{': ' + detail if detail else ''}")

    # generator determinism
    roots = [os.path.join(gen.WORK, f"selftest-{i}") for i in range(2)]
    for r in roots:
        shutil.rmtree(r, ignore_errors=True)
    a, b = (gen.generate("long_docs", args.seed, tiny=True, root=r) for r in roots)
    c = gen.generate("long_docs", args.seed + 1, tiny=True, root=roots[0])
    corpus = [os.path.dirname(i.docs_dir) for i in (a, b, c)]
    check("same seed, byte-identical model",
          gen.tree_digest(a.model_dir) == gen.tree_digest(b.model_dir))
    check("same seed, byte-identical corpus and gold",
          gen.tree_digest(corpus[0]) == gen.tree_digest(corpus[1]))
    check("another seed changes the corpus",
          gen.tree_digest(corpus[0]) != gen.tree_digest(corpus[2]))
    for r in roots:
        shutil.rmtree(r, ignore_errors=True)

    # untraced run: metrics and linking quality
    res = bench_run("long_docs", args.seed, 0)
    check("untraced run correct", res["correct"] and res["failed"] == 0, json.dumps(res)[:200])
    want = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    check("untraced run reports exactly the end-to-end metrics", got == want, f"{got} vs {want}")
    inputs = gen.generate("long_docs", args.seed, tiny=True)
    annotations = read_rows(os.path.join(gen.WORK, "out", "tiny-long_docs", "0"))
    precision, recall = brute_force_quality(annotations, read_rows(inputs.gold_path))
    for name, value in (("link_precision", precision), ("link_recall", recall)):
        reported = res["metrics"][name]["value"]
        check(f"{name} matches brute force", abs(reported - value) < 1e-12,
              f"{reported} vs {value}")

    # traced run: per-layer metrics and prefix arithmetic
    res = bench_run("long_docs", args.seed, 1)
    check("traced run correct", res["correct"] and res["failed"] == 0, json.dumps(res)[:200])
    want = {m["name"]: m["unit"] for m in spec["per_layer"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    check("traced run reports exactly the per-layer metrics", got == want,
          f"missing {sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}")
    with open(os.path.join(gen.WORK, f"trace-tiny-long_docs-s{args.seed}.json")) as f:
        prefix_s = json.load(f)["prefix_s"]
    total = 0.0
    for prefix, metric in SELF_TIMES:
        total += res["metrics"][metric]["value"]
        check(f"self times up to {prefix} sum to its prefix time",
              abs(total - prefix_s[prefix]) < 1e-6, f"{total} vs {prefix_s[prefix]}")
    return 0 if all(results) else 1


if __name__ == "__main__":
    sys.exit(main())
