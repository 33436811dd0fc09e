"""Property-based tests (hypothesis) for the pure-Python algorithm cores,
plus vectorized batch checks of the log-math columns against numpy."""

import re

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from dbpedia_spotlight_spark.operators.spotter import (
    AhoCorasick,
    drop_overlapping_spots,
    leftmost_longest,
)

WORDS = st.text(alphabet="abc", min_size=1, max_size=4)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 30),          # offset
            st.text("xyz", min_size=1, max_size=6),  # surface form
            st.floats(0, 1),             # spot prob
            st.sampled_from(["m", "Capital_Sequences"]),
        ),
        max_size=12,
    )
)
def test_overlap_resolution_invariants(spots):
    out = drop_overlapping_spots(spots)
    # output is a subset of the (deduped) input, without duplicates
    keys = {(s[0], s[1]) for s in spots}
    assert all((s[0], s[1]) in keys for s in out)
    assert len({(s[0], s[1]) for s in out}) == len(out)
    # Reference fidelity (DBSpotter.scala:146-165): two kept spots may only
    # overlap via the `remove += i-1` no-op quirk, i.e. when at least one
    # spot between them in sort order was removed. Consecutive kept spots
    # with adjacent sorted indices therefore never overlap.
    seen = {}
    for s in spots:
        seen.setdefault((s[0], s[1]), s)
    sorted_spots = sorted(seen.values(), key=lambda s: (s[0], len(s[1])))
    idx = {(s[0], s[1]): i for i, s in enumerate(sorted_spots)}
    kept = sorted(out, key=lambda s: idx[(s[0], s[1])])
    for a, b in zip(kept, kept[1:]):
        a0, a1 = a[0], a[0] + len(a[1])
        b0, b1 = b[0], b[0] + len(b[1])
        if a0 < b1 and b0 < a1:  # they overlap
            assert idx[(b[0], b[1])] - idx[(a[0], a[1])] >= 2, (kept, spots)


@settings(max_examples=150, deadline=None)
@given(st.lists(WORDS, min_size=1, max_size=6, unique=True), st.text("abc ", max_size=40))
def test_ahocorasick_equals_bruteforce(patterns, text):
    ac = AhoCorasick(patterns)
    got = sorted(set(ac.find_all(text)))
    expect = sorted(
        {
            (m.start(), m.start() + len(p))
            for p in patterns
            for m in re.finditer(f"(?={re.escape(p)})", text)
        }
    )
    assert got == expect


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 40), st.integers(1, 8)).map(
            lambda t: (t[0], t[0] + t[1])
        ),
        max_size=15,
    )
)
def test_leftmost_longest_invariants(matches):
    kept = leftmost_longest(matches)
    # non-overlapping and input subset
    for (a0, a1), (b0, b1) in zip(kept, kept[1:]):
        assert b0 >= a1
    assert all(m in matches for m in kept)
    # maximality: every dropped match overlaps something kept
    for m in matches:
        if m not in kept:
            assert any(not (m[1] <= k[0] or k[1] <= m[0]) for k in kept)


def test_logaddexp_and_softmax_columns_vs_numpy(spark):
    from pyspark.sql import functions as F

    from dbpedia_spotlight_spark.operators.disambiguate import logaddexp

    rng = np.random.RandomState(11)
    a = rng.uniform(-50, 5, 300)
    b = rng.uniform(-50, 5, 300)
    df = spark.createDataFrame(
        [(float(x), float(y)) for x, y in zip(a, b)], "a double, b double"
    )
    got = np.array(
        [r[0] for r in df.select(logaddexp(F.col("a"), F.col("b"))).collect()]
    )
    assert np.allclose(got, np.logaddexp(a, b), atol=1e-12)


def test_closure_matches_python_fixpoint(spark):
    from dbpedia_spotlight_spark.operators.closure import redirect_closure

    rng = np.random.RandomState(5)
    for trial in range(3):
        n = 25
        # random functional graph over a subset of nodes (chains + cycles)
        srcs = [f"n{i}" for i in range(n)]
        edges = [(s, f"n{rng.randint(0, n)}") for s in srcs if rng.rand() < 0.7]
        edges = [(s, d) for s, d in edges if s != d]
        if not edges:
            continue
        mapping = dict(edges)

        def follow(u):
            seen = [u]
            cur = u
            while cur in mapping and mapping[cur] not in seen:
                cur = mapping[cur]
                seen.append(cur)
            return cur if cur != u else mapping.get(u, u)

        df = spark.createDataFrame(edges, "src_uri string, dst_uri string")
        got = {
            r["src_uri"]: r["final_uri"] for r in redirect_closure(df).collect()
        }
        for s, _ in edges:
            # acyclic chains must resolve to the python fixpoint exactly;
            # cycle members settle on some member of their cycle
            py = follow(s)
            if got[s] != py:
                cyc = [s]
                cur = s
                while cur in mapping and mapping[cur] not in cyc:
                    cur = mapping[cur]
                    cyc.append(cur)
                assert got[s] in cyc, (trial, s, got[s], py, cyc)


def test_duplicate_spans_matches_python_bruteforce(spark):
    """Adversarial small-alphabet corpus (3 tokens, 60 docs => dense k-gram
    collisions, within-doc repeats, spans that touch doc boundaries):
    duplicate_spans must equal a direct Python reference that counts gram
    STRINGS and merges covered windows."""
    from dbpedia_spotlight_spark.datapipe.dedup import duplicate_spans

    rng = np.random.RandomState(11)
    k = 4
    docs = []
    for i in range(60):
        n = rng.randint(0, 15)
        docs.append((i, " ".join(rng.choice(["aa", "bb", "cc"], size=n))))

    counts: dict = {}
    grams_by_doc = {}
    for did, text in docs:
        toks = text.split()
        grams = [tuple(toks[p : p + k]) for p in range(len(toks) - k + 1)]
        grams_by_doc[did] = grams
        for g in grams:
            counts[g] = counts.get(g, 0) + 1
    expected = set()
    for did, grams in grams_by_doc.items():
        hit = [p for p, g in enumerate(grams) if counts[g] >= 2]
        if not hit:
            continue
        start = prev = hit[0]
        for p in hit[1:]:
            if p - prev > k:
                expected.add((did, start, prev + k - 1))
                start = p
            prev = p
        expected.add((did, start, prev + k - 1))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(df, shingle_k=k, min_count=2).collect()
    }
    assert got == expected


def test_asof_join_matches_bruteforce_random(spark):
    """Seeded random tables: asof_join == per-row brute force (latest
    right.ts <= left.ts per key, None when absent)."""
    import random

    from dbpedia_spotlight_spark.operators.asof import asof_join

    rng = random.Random(11)
    left = [
        (i, rng.randrange(5), rng.randrange(1000)) for i in range(120)
    ]
    right = [
        (rng.randrange(5), t, float(j))
        for j, t in enumerate(rng.sample(range(1000), 80))
    ]
    expected = {}
    for pid, k, ts in left:
        best = None
        for rk, rts, rv in right:
            if rk == k and rts <= ts and (best is None or rts > best[0]):
                best = (rts, rv)
        expected[pid] = best
    ldf = spark.createDataFrame(left, "pid long, user_id long, ts long")
    rdf = spark.createDataFrame(right, "user_id long, ts long, v double")
    got = {
        r.pid: (None if r.r_ts is None else (r.r_ts, r.r_v))
        for r in asof_join(ldf, rdf, on="user_id", ts_col="ts").collect()
    }
    assert got == expected


def test_triangle_counts_match_bruteforce_random(spark):
    """Seeded G(n, p) graphs: degree-oriented counts == itertools brute
    force over all vertex triples."""
    import itertools
    import random

    from dbpedia_spotlight_spark.operators.graph import triangle_counts

    for seed, n, p in [(1, 12, 0.4), (2, 16, 0.25), (3, 9, 0.7)]:
        rng = random.Random(seed)
        edges = [
            (a, b)
            for a, b in itertools.combinations(range(n), 2)
            if rng.random() < p
        ]
        es = {frozenset(e) for e in edges}
        expected = {}
        for tri in itertools.combinations(range(n), 3):
            if all(
                frozenset(pair) in es
                for pair in itertools.combinations(tri, 2)
            ):
                for v in tri:
                    expected[v] = expected.get(v, 0) + 1
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r.node: r.n_triangles for r in triangle_counts(df).collect()
        }
        assert got == expected, (seed, got, expected)


# --- BGP matching vs brute-force conjunctive evaluation ---------------------


def _bgp_brute(triples, patterns):
    """Enumerate all variable bindings satisfying every pattern."""
    import itertools

    vars_ = sorted(
        {t[1:] for pat in patterns for t in pat if t.startswith("?")}
    )
    symbols = sorted({s for tr in triples for s in tr})
    out = set()

    def ok(binding):
        for s, p, o in patterns:
            trip = tuple(
                binding[t[1:]] if t.startswith("?") else t for t in (s, p, o)
            )
            if trip not in triples:
                return False
        return True

    for combo in itertools.product(symbols, repeat=len(vars_)):
        binding = dict(zip(vars_, combo))
        if ok(binding):
            out.add(tuple(binding[v] for v in vars_))
    return vars_, out


def test_bgp_match_equals_brute_force_random(spark):
    """Seeded random graphs + patterns: bgp_match == exhaustive binding
    enumeration (SPARQL conjunctive semantics over data-drawn symbols)."""
    import random

    from dbpedia_spotlight_spark.operators.kgquery import bgp_match

    rng = random.Random(7)
    syms = ["a", "b", "c"]
    preds = ["p", "q"]
    terms = ["?x", "?y", "a", "b"]
    cases = 0
    while cases < 12:
        trips = {
            (rng.choice(syms), rng.choice(preds), rng.choice(syms))
            for _ in range(rng.randrange(1, 9))
        }
        pats = [
            (rng.choice(terms), rng.choice(preds + ["?y"]), rng.choice(terms))
            for _ in range(rng.randrange(1, 4))
        ]
        if not all(any(t.startswith("?") for t in p) for p in pats):
            continue  # bgp_match requires every pattern to bind a var
        cases += 1
        vars_, expected = _bgp_brute(trips, pats)
        df = spark.createDataFrame(
            sorted(trips), "subj string, pred string, obj string"
        )
        got_df = bgp_match(df, pats)
        assert sorted(got_df.columns) == vars_, (trips, pats)
        got = {tuple(r[v] for v in vars_) for r in got_df.collect()}
        assert got == expected, (trips, pats)


def test_blend_scores_equals_global_percent_rank_window(spark):
    """r5 rewrite pin: the distributed dense_sorted_id rank path is
    BYTE-identical to the naive one-task global percent_rank window it
    replaced, on a randomized frame with duplicates and NULLs."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from dbpedia_spotlight_spark.datapipe.packing import blend_scores

    rng = random.Random(20260821)
    rows = []
    for i in range(400):
        a = rng.choice([None, 0.0, 1.5, 2.5, rng.uniform(-5, 5)])
        b = float(rng.randint(0, 9))  # heavy duplicates
        rows.append((f"d{i:04d}", a, b))
    df = spark.createDataFrame(rows, "doc_id string, a double, b double")

    got = {
        r["doc_id"]: (r["a_pct"], r["b_pct"], r["blended"])
        for r in blend_scores(df, {"a": 0.7, "b": -0.3}).collect()
    }
    ref = df
    blended = F.lit(0.0)
    for col, wt in sorted({"a": 0.7, "b": -0.3}.items()):
        w = Window.orderBy(F.col(col).asc_nulls_first(), F.col("doc_id").asc())
        ref = ref.withColumn(f"{col}_pct", F.percent_rank().over(w))
        blended = blended + F.lit(float(wt)) * F.col(f"{col}_pct")
    want = {
        r["doc_id"]: (r["a_pct"], r["b_pct"], r["blended"])
        for r in ref.withColumn("blended", F.round(blended, 6)).collect()
    }
    assert got == want  # exact equality, not approx


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(0, 40), max_size=30), st.integers(-5, 45))
def test_offset_ordinals_rank_by_offset(offsets, probe):
    """offset_ordinals is the stable rank by offset (what a row_number
    over offset computes, ties in emission order), for spans emitted in
    any offset order; spot_ordinal is the rank of the last token at or
    before the probe offset, else 0."""
    from dbpedia_spotlight_spark.operators.tokenizer import (
        offset_ordinals,
        spot_ordinal,
    )

    ranks = offset_ordinals(offsets)
    stable = sorted(range(len(offsets)), key=lambda i: (offsets[i], i))
    assert ranks == [stable.index(i) for i in range(len(offsets))]
    at_or_before = [r for r, i in enumerate(stable) if offsets[i] <= probe]
    want = at_or_before[-1] if at_or_before else 0
    assert spot_ordinal(sorted(offsets), probe) == want


def test_spot_window_matches_bruteforce_assignment(spark):
    """A spot's window (spot_ordinal, then context_window) equals the
    brute-force definition (last window whose start offset <= spot
    offset, else first window) on randomized token/spot layouts,
    including spots at offsets that are not token offsets."""
    import random

    from dbpedia_spotlight_spark.operators.disambiguate import context_window
    from dbpedia_spotlight_spark.operators.tokenizer import (
        offset_ordinals,
        spot_ordinal,
    )

    rng = random.Random(7)
    spot_rows, docs = [], {}
    for d in range(25):
        doc = f"doc{d:02d}"
        n_tok = rng.randint(1, 23)
        offsets = sorted(rng.sample(range(0, 400), n_tok))
        docs[doc] = offsets
        assert offset_ordinals(offsets) == list(range(n_tok))
        for _ in range(rng.randint(1, 6)):
            # half aligned to a token, half arbitrary (incl. before first)
            off = (
                rng.choice(offsets)
                if rng.random() < 0.5
                else rng.randint(0, 410)
            )
            spot_rows.append((doc, 0, off, "sf", spot_ordinal(offsets, off)))
    spots = spark.createDataFrame(
        spot_rows,
        "doc_id string, span_pos int, offset int, surface_form string, ordinal int",
    ).distinct()
    W = 5
    sp = spots.withColumn("window_id", context_window(W))
    got = {(r["doc_id"], r["offset"]): r["window_id"] for r in sp.collect()}

    for (doc, off), wid in got.items():
        offsets = docs[doc]
        starts = [
            (offsets[i], i // W) for i in range(0, len(offsets)) if i % W == 0
        ]
        eligible = [w for (s, w) in starts if s <= off]
        want_wid = eligible[-1] if eligible else starts[0][1]
        assert wid == want_wid, (doc, off, wid, starts)
    # every spot got exactly one window
    assert sp.count() == len(got) == len({(r[0], r[2]) for r in spot_rows})


def test_analysis_ordinals_give_bruteforce_windows(spark, world):
    """On the fixture text, tokenize_documents numbers each document's
    tokens 0..n-1 in offset order, and the ordinals spot_documents emits
    (FSA and Aho-Corasick) put every spot in the brute-force window: the
    last window whose start offset <= the spot's, else the first."""
    from dbpedia_spotlight_spark.operators.spotter import spot_documents
    from dbpedia_spotlight_spark.operators.tokenizer import (
        offset_ordinals,
        tokenize_documents,
    )

    docs = world.documents
    toks: dict = {}
    for r in tokenize_documents(docs).select("doc_id", "offset", "ordinal").collect():
        toks.setdefault(r["doc_id"], []).append((r["ordinal"], r["offset"]))
    offsets = {}
    for doc, pairs in toks.items():
        pairs.sort()
        assert [o for o, _ in pairs] == list(range(len(pairs))), doc
        offsets[doc] = [off for _, off in pairs]
        assert offset_ordinals(offsets[doc]) == list(range(len(pairs)))
    checked = 0
    for spotter in ("fsa", "ahocorasick"):
        spots = spot_documents(docs, world.model.surface_forms, spotter=spotter)
        for r in spots.select("doc_id", "offset", "ordinal").collect():
            offs = offsets[r["doc_id"]]
            for W in (4, 10, 250):
                starts = [(offs[i], i // W) for i in range(0, len(offs), W)]
                eligible = [w for s, w in starts if s <= r["offset"]]
                want = eligible[-1] if eligible else starts[0][1]
                assert r["ordinal"] // W == want, (spotter, r, W)
            checked += 1
    assert checked > 100
