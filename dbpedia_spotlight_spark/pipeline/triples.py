"""Triple materialization — the KG-construction output (north rule).

Three triple families, all (subj, pred, obj) rows partitioned by pred +
bucket(subj) on write (SURVEY.md §4):

  1. mention anchors (NIF-style; ref rest/.../NIFOutputFormatter.scala:43-84):
     span URIs `<doc>#char=<start>,<end>` linked to resources via
     itsrdf:taIdentRef, plus anchorOf / confidence literals.
  2. lexicalization score triples (ref core/.../util/CreateLexicalizations.scala)
     — see operators/modelbuild.lexicalization_triples.
  3. entity co-occurrence edges (ref index/src/main/pig/CooccurrencesCount.pig)
     — see operators/modelbuild.cooccurrence_edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ITSRDF_TA_IDENT_REF = "http://www.w3.org/2005/11/its/rdf#taIdentRef"
ITSRDF_TA_CONFIDENCE = "http://www.w3.org/2005/11/its/rdf#taConfidence"
NIF_ANCHOR_OF = "http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#anchorOf"
RESOURCE_PREFIX = "http://dbpedia.org/resource/"


def annotation_triples(annotations: DataFrame, doc_prefix: str = "http://example.org/doc/") -> DataFrame:
    """annotations -> NIF-style mention triples."""
    span_uri = F.concat(
        F.lit(doc_prefix),
        F.col("doc_id"),
        F.lit("#char="),
        F.col("offset").cast("string"),
        F.lit(","),
        (F.col("offset") + F.length("surface_form")).cast("string"),
    )
    objects = {
        ITSRDF_TA_IDENT_REF: F.concat(F.lit(RESOURCE_PREFIX), F.col("uri")),
        NIF_ANCHOR_OF: F.col("surface_form"),
        ITSRDF_TA_CONFIDENCE: F.col("similarity_score").cast("string"),
    }
    # one pass over the annotations: each row explodes into its three triples
    return annotations.select(
        span_uri.alias("subj"),
        F.inline(F.array(*[
            F.struct(F.lit(pred).alias("pred"), obj.alias("obj"))
            for pred, obj in objects.items()
        ])),
    )


def write_triples(
    triples: DataFrame, path: str, num_buckets: int = 64, mode: str = "overwrite"
) -> None:
    """Partitioned triple sink: pred is low-cardinality (directory
    partitioning → partition pruning per predicate); subj is hash-bucketed
    into a fixed column so a 100 TB output never creates giant single files
    nor millions of tiny ones."""
    (
        triples.withColumn("subj_bucket", F.pmod(F.xxhash64("subj"), F.lit(num_buckets)))
        .repartition("pred", "subj_bucket")
        .write.mode(mode)
        .partitionBy("pred", "subj_bucket")
        .parquet(path)
    )


def relation_triples(
    mentions: DataFrame,
    tokens: DataFrame,
    max_gap: int = 2,
    min_support: int = 1,
) -> DataFrame:
    """Open-IE-style relational triples between LINKED mentions — the
    "triple extraction" step beyond mention/co-occurrence triples: for
    every ordered pair of entity mentions in a document separated by
    1..max_gap non-entity tokens, the intervening token sequence is the
    predicate surface (ReVerb/Banko-style V / V+P patterns reduced to
    the corpus-countable form), aggregated with corpus-wide support.

    mentions: (doc_id, pos, uri) token-position mention rows.
    tokens:   (doc_id, pos, token).
    -> (subj_uri, pred, obj_uri, support), support >= min_support.

    Scale shape: one equi-join per (gap, middle-slot) — b.pos is EXACTLY
    a.pos + gap + 1 and each middle token sits at a fixed offset, so no
    range join and no per-doc window materializes; middle slots that are
    themselves entity mentions are excluded with a left-anti join
    (predicates must be plain text, not entities). The final groupBy is
    map-side combinable. Everything unions into one plan; AQE sizes the
    joins. All arithmetic on integer positions -> exact SQL twin.
    """
    if max_gap < 1:
        raise ValueError(f"max_gap must be >= 1, got {max_gap}")
    m = mentions.select("doc_id", "pos", "uri")
    t = tokens.select("doc_id", "pos", "token")
    mention_pos = m.select("doc_id", "pos").distinct()

    branches = []
    for span in range(2, max_gap + 2):  # obj.pos - subj.pos
        a = m.select(
            "doc_id",
            F.col("pos").alias("_apos"),
            F.col("uri").alias("subj_uri"),
        )
        b = m.select(
            "doc_id",
            F.col("pos").alias("_bpos"),
            F.col("uri").alias("obj_uri"),
        )
        pair = a.join(b, "doc_id").filter(
            F.col("_bpos") == F.col("_apos") + span
        )
        mid_cols = []
        for i in range(1, span):
            ti = t.select(
                "doc_id",
                (F.col("pos") - i).alias("_apos"),
                F.col("token").alias(f"_m{i}"),
            )
            # middle slot must not be an entity mention itself
            not_ent = ti.join(
                mention_pos.select(
                    "doc_id", (F.col("pos") - i).alias("_apos")
                ),
                ["doc_id", "_apos"],
                "left_anti",
            )
            pair = pair.join(not_ent, ["doc_id", "_apos"])
            mid_cols.append(F.col(f"_m{i}"))
        branches.append(
            pair.select(
                "subj_uri",
                F.concat_ws(" ", *mid_cols).alias("pred"),
                "obj_uri",
            )
        )
    out = branches[0]
    for br in branches[1:]:
        out = out.unionByName(br)
    return (
        out.groupBy("subj_uri", "pred", "obj_uri")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )


def distant_supervision(
    mentions: DataFrame,
    kb: DataFrame,
    max_distance: int = 30,
) -> DataFrame:
    """Distant supervision for relation extraction (Mintz et al., ACL
    2009): every document window containing linked mentions of e1 and
    e2 where the KB asserts (e1, p, e2) becomes a silver training
    example for p — the loop that closes KG construction: the KB this
    engine built labels the corpus that trains the next extractor.

    ``mentions``: (doc_id, pos, uri) token-position mention rows (the
    relation_triples input shape); ``kb``: (subj, pred, obj) over the
    same URI space. -> distinct (doc_id, subj_pos, obj_pos, subj_uri,
    pred, obj_uri) with |obj_pos - subj_pos| <= max_distance and
    subj_pos != obj_pos.

    Scale shape: KB-FIRST join order — subject mentions join the KB on
    the uri (fan-out = facts per entity, the KB degree), then ONE
    equi-join on (doc_id, object uri) manufactures ONLY the pairs the
    KB actually relates; unrelated mention pairs never exist, so the
    classic all-pairs-then-filter blowup (mentions² per doc) is
    avoided entirely. The distance test is a post-join codegen filter.
    Hub entities (10^4+ facts AND frequent mentions) dominate cost —
    cap kb per subject upstream (fact_ranking) if that bites.
    """
    m = mentions.select("doc_id", "pos", "uri").distinct()
    ms = m.select(
        "doc_id", F.col("pos").alias("subj_pos"), F.col("uri").alias("subj_uri")
    )
    mo = m.select(
        "doc_id", F.col("pos").alias("obj_pos"), F.col("uri").alias("obj_uri")
    )
    k = kb.select(
        F.col("subj").alias("subj_uri"),
        "pred",
        F.col("obj").alias("obj_uri"),
    ).distinct()
    return (
        ms.join(k, "subj_uri")
        .join(mo, ["doc_id", "obj_uri"])
        .filter(
            (F.col("subj_pos") != F.col("obj_pos"))
            & (
                F.abs(F.col("obj_pos") - F.col("subj_pos"))
                <= F.lit(max_distance)
            )
        )
        .select("doc_id", "subj_pos", "obj_pos", "subj_uri", "pred", "obj_uri")
        .distinct()
    )


def hearst_patterns(
    docs: DataFrame,
    text_col: str = "text",
    min_support: int = 1,
) -> DataFrame:
    """Taxonomy induction from raw text via Hearst patterns (Hearst,
    COLING 1992 — still the backbone of automatic is-a harvesting,
    cf. WebIsA/Hearst-over-CommonCrawl): three lexical frames over
    lowercased text

        HYPER such as HYPO[, HYPO]*
        HYPO and other HYPER
        HYPER including HYPO

    yield candidate (hyponym, hypernym) edges with corpus support —
    the subclass-edge feed for the subclass/closure operators, mined
    WITHOUT a parser (single alphanumeric-token terms by design; NP chunking
    upstream generalizes it).

    -> (hyponym, hypernym, pattern, support >= min_support),
    support = matching occurrences corpus-wide.

    Scale shape: pure codegen — regexp_extract_all per frame (two
    group extractions zipped), comma-lists split + exploded, ONE
    map-side-combinable groupBy for support. No joins, no Python.
    """
    t = F.lower(F.col(text_col))
    word = r"[a-z0-9]+"

    def frame(pat, g_hypo, g_hyper, name, split_hypo=False):
        a = F.regexp_extract_all(t, F.lit(pat), g_hypo)
        b = F.regexp_extract_all(t, F.lit(pat), g_hyper)
        z = F.arrays_zip(a.alias("x"), b.alias("y"))
        df = docs.select(F.explode(z).alias("m")).select(
            F.col("m.x").alias("_hypo_raw"),
            F.col("m.y").alias("hypernym"),
            F.lit(name).alias("pattern"),
        )
        if split_hypo:
            df = df.select(
                F.explode(F.split(F.col("_hypo_raw"), ", ")).alias(
                    "hyponym"
                ),
                "hypernym",
                "pattern",
            )
        else:
            df = df.select(
                F.col("_hypo_raw").alias("hyponym"), "hypernym", "pattern"
            )
        return df

    such_as = frame(
        rf"({word}) such as ((?:{word}, )*{word})", 2, 1,
        "such_as", split_hypo=True,
    )
    and_other = frame(
        rf"({word}) and other ({word})", 1, 2, "and_other"
    )
    including = frame(
        rf"({word}) including ({word})", 2, 1, "including"
    )
    return (
        such_as.unionByName(and_other)
        .unionByName(including)
        .groupBy("hyponym", "hypernym", "pattern")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )


def acronym_pairs(
    docs: DataFrame,
    text_col: str = "text",
    min_support: int = 1,
) -> DataFrame:
    """Acronym/long-form mining (the Schwartz-Hearst 2003 algorithm's
    high-precision core): harvest 'Long Form Words (LFW)' patterns and
    keep only pairs whose acronym letters EXACTLY match the long
    form's initials — the surface-form enrichment feed for the model's
    lexicalization tables (an entity known as 'World Health
    Organization' should also spot as 'WHO').

    -> (long_form, acronym, support). Matching is case-sensitive on
    the capitalized long-form words and the parenthesized uppercase
    acronym; per Schwartz-Hearst the candidate is RIGHT-ANCHORED — the
    last len(acronym) captured words — so a greedily captured leading
    word ('The World Health Organization') still yields the correct
    pair. The initials check runs as a codegen transform, no UDF.

    Scale shape: one regexp_extract_all pass + explode + one
    map-side-combinable support groupBy. No joins.
    """
    pat = r"((?:[A-Z][a-z]+ )+)\(([A-Z]{2,})\)"
    longs = F.regexp_extract_all(F.col(text_col), F.lit(pat), 1)
    acros = F.regexp_extract_all(F.col(text_col), F.lit(pat), 2)
    pairs = docs.select(
        F.explode(F.arrays_zip(longs.alias("l"), acros.alias("a"))).alias("m")
    ).select(
        F.split(F.trim(F.col("m.l")), " ").alias("_w"),
        F.col("m.a").alias("acronym"),
    )
    k = F.length("acronym")
    kept = F.slice(pairs["_w"], F.size("_w") - k + 1, k)
    anchored = pairs.filter(F.size("_w") >= k).select(
        F.array_join(kept, " ").alias("long_form"), "acronym"
    )
    initials = F.array_join(
        F.transform(
            F.split(F.col("long_form"), " "),
            lambda w: F.substring(w, 1, 1),
        ),
        "",
    )
    return (
        anchored.filter(initials == F.col("acronym"))
        .groupBy("long_form", "acronym")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
