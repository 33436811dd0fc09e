"""F6 coreference filter (operators/filters.coreference_filter) against a
plain-Python statement of the rule (ref CoreferenceFilter.scala:28-79)."""

import random
import re

from dbpedia_spotlight_spark.operators.filters import INHERITED, coreference_filter

SCHEMA = (
    "doc_id string, span_pos int, offset int, surface_form string, uri string, "
    "similarity_score double, percentage_second_rank double, "
    "contextual_score double, types array<string>, res_id int, support int, "
    "rank int"
)
SCHEMA_COLS = [f.split(" ")[0] for f in SCHEMA.split(", ")]
OUT = ("doc_id", "span_pos", "offset", "surface_form") + INHERITED


def _row(doc, span_pos, offset, sf, uri, types=(), score=0.5):
    return {
        "doc_id": doc, "span_pos": span_pos, "offset": offset,
        "surface_form": sf, "uri": uri, "similarity_score": score,
        "percentage_second_rank": 1 - score, "contextual_score": score / 2,
        "types": None if types is None else list(types),
        "res_id": sum(map(ord, uri)), "support": len(uri), "rank": 1,
    }


def reference(rows):
    """A single word takes the resource and scores of the earliest strictly
    earlier mention in its doc (any span_pos) whose surface form has
    several space-separated words, each starting with A-Z, one of them
    equal to the single word. Every other row passes unchanged."""
    out = []
    for r in rows:
        hits = [
            a for a in rows
            if " " not in r["surface_form"]
            and a["doc_id"] == r["doc_id"]
            and a["offset"] < r["offset"]
            and " " in a["surface_form"]
            and all(re.match("[A-Z]", w) for w in a["surface_form"].split(" "))
            and r["surface_form"] in a["surface_form"].split(" ")
        ]
        hit = min(hits, key=lambda a: a["offset"], default=None)
        src = {c: (hit or r)[c] for c in INHERITED}
        out.append(tuple({**r, **src}[c] for c in OUT))
    return sorted(out, key=repr)


def _run(spark, rows):
    df = spark.createDataFrame(
        [tuple(r[c] for c in SCHEMA_COLS) for r in rows], SCHEMA
    )
    got = coreference_filter(df)
    assert tuple(got.columns) == OUT
    return sorted((tuple(r) for r in got.collect()), key=repr)


def test_coreference_hand_cases(spark):
    rows = [
        # same offset, other span: not strictly earlier -> no match
        _row("same", 0, 5, "Wall Street", "Wall_Street"),
        _row("same", 1, 5, "Wall", "Wall_(band)"),
        # a lowercase word disqualifies the antecedent
        _row("lower", 0, 0, "Wall street", "Wall_street"),
        _row("lower", 0, 20, "Wall", "Wall_(band)"),
        # a double space leaves an empty word, which is not capitalised
        _row("double", 0, 0, "Wall  Street", "Wall_Street"),
        _row("double", 0, 20, "Street", "Street_(film)"),
        # an antecedent's null types are inherited as null
        _row("nulltypes", 0, 0, "New York", "New_York", types=None),
        _row("nulltypes", 0, 9, "York", "York", types=["dbo:Place"]),
        # two antecedents: the earliest wins, across span_pos
        _row("two", 1, 3, "Jack London", "Jack_London", score=0.9),
        _row("two", 0, 10, "London Bridge", "London_Bridge", score=0.8),
        _row("two", 0, 30, "London", "London", score=0.1),
        # the antecedent must be in the same document
        _row("other", 0, 40, "London", "London", score=0.1),
    ]
    got = _run(spark, rows)
    assert got == reference(rows)
    by_key = {(r[0], r[2]): dict(zip(OUT, r)) for r in got}
    assert by_key[("same", 5)]["uri"] == "Wall_(band)"
    assert by_key[("lower", 20)]["uri"] == "Wall_(band)"
    assert by_key[("double", 20)]["uri"] == "Street_(film)"
    assert by_key[("nulltypes", 9)]["uri"] == "New_York"
    assert by_key[("nulltypes", 9)]["types"] is None
    assert by_key[("two", 30)]["uri"] == "Jack_London"
    assert by_key[("two", 30)]["similarity_score"] == 0.9
    assert by_key[("other", 40)]["uri"] == "London"


def test_coreference_matches_bruteforce_random(spark):
    rnd = random.Random(11)
    words = ["Wall", "wall", "Street", "New", "York", "york", "London", "Jack"]
    rows = []
    for d in range(30):
        # distinct offsets per doc, so "earliest" never ties
        for offset in sorted(rnd.sample(range(60), rnd.randint(4, 20))):
            n = rnd.choice([1, 1, 2, 3])
            sf = rnd.choice([" ", " ", " ", "  "]).join(
                rnd.choice(words) for _ in range(n)
            )
            types = rnd.choice([None, (), ("dbo:Place",), ("dbo:Person", "dbo:Agent")])
            rows.append(_row(f"d{d}", rnd.randint(0, 2), offset, sf,
                             f"R{rnd.randint(0, 99)}", types=types,
                             score=rnd.random()))
    expected = reference(rows)
    unchanged = {repr(tuple(r[c] for c in OUT)) for r in rows}
    rewritten = len({repr(t) for t in expected} - unchanged)
    assert rewritten > 20  # the sample exercises the rewrite
    assert _run(spark, rows) == expected
