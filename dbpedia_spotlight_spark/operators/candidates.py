"""Candidate generation — C1/C2 in SURVEY.md §2.3.

Reference: DBCandidateSearcher
(core/src/main/scala/org/dbpedia/spotlight/db/DBCandidateSearcher.scala:25-35):
sf -> Set[Candidate]; on miss, retry with the *normalized* surface form
(MemorySurfaceFormStore.scala:40-41,105-116 — highest annotated_count wins a
normalized-key collision :77-79). Candidate pruning keeps the top
MAX_CANDIDATES=20 by prior P(e|s) (DBTwoStepDisambiguator.scala:69,145-151).

Spark design (scale notes):
  - spots ⋈ surface_forms: equi-join on the sf string; surface_forms is a dim
    (millions of rows max) — broadcast by default.
  - normalized fallback in the same pass: exact misses left-join a
    pre-aggregated "best per norm" dim on surface_form_norm (row_number
    tie-break on annotated_count desc) — second broadcast join.
  - spots ⋈ candidates: the skewed join (head sfs like "apple" have 20+
    candidates and huge occurrence counts). Two-stage plan per the north
    star: the head of the candidate map (top sf_ids by pair fanout ×
    frequency) joins broadcast; the tail joins shuffle with AQE skew-join
    enabled. Both halves are equi-joins on sf_id; union afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.functions.text import normalize_surface_form_col

MAX_CANDIDATES = 20  # ref DBTwoStepDisambiguator.scala:69

# Above this many candidate rows the single-shot broadcast of the whole
# candidate fact table (fine for test models) would burst executor memory at
# real-model scale (~10^7 pairs); annotate() then switches to the two-stage
# broadcast(head)+shuffle(tail) plan automatically.
AUTO_BROADCAST_MAX = 2_000_000

SF_COLS = ["sf_id", "annotated_count", "total_count"]


def resolve_surface_forms(spots: DataFrame, surface_forms: DataFrame) -> DataFrame:
    """Attach (sf_id, annotated_count, total_count) to spots; unresolved spots
    fall back to the normalized surface form (C1 fallback). The returned
    `surface_form` column keeps the original spot string (reference keeps the
    spot text in getSurfaceFormNormalized, MemorySurfaceFormStore.scala:105-116).
    """
    sf_dim = F.broadcast(
        surface_forms.select(F.col("surface_form").alias("_sf_key"), *SF_COLS)
    )
    # Pre-aggregate: best sf per normalized key (highest annotated_count;
    # res: MemorySurfaceFormStore.scala:77-79), deterministic tie on sf_id.
    w = Window.partitionBy("surface_form_norm").orderBy(
        F.desc("annotated_count"), F.asc("sf_id")
    )
    norm_dim = F.broadcast(
        surface_forms.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("surface_form_norm").alias("_norm_key"),
            *[F.col(c).alias(f"_n_{c}") for c in SF_COLS],
        )
    )
    hit = F.col("sf_id").isNotNull()
    # null for exact hits: only misses are normalized, and a null key never matches
    norm = F.when(~hit, normalize_surface_form_col(F.col("surface_form")))
    resolved = [
        F.when(hit, F.col(c)).otherwise(F.col(f"_n_{c}")).alias(c) for c in SF_COLS
    ]
    return (
        spots.join(sf_dim, spots["surface_form"] == sf_dim["_sf_key"], "left")
        .join(norm_dim, norm == F.col("_norm_key"), "left")
        .select(*spots.columns, *resolved)
        .filter(F.col("sf_id").isNotNull())
    )


def head_sf_ids(candidates: DataFrame, top_n: int = 1000) -> list:
    """sf_ids with the largest candidate fanout — the skew heads. A
    model-build-time statistic; cache the result."""
    rows = (
        candidates.groupBy("sf_id")
        .agg(F.count("*").alias("fanout"), F.sum("pair_count").alias("freq"))
        .orderBy(F.desc("freq"), F.desc("fanout"))
        .limit(top_n)
        .select("sf_id")
        .collect()
    )
    return [r[0] for r in rows]


def join_candidates(
    spots_sf: DataFrame,
    candidates: DataFrame,
    heads: list | None = None,
) -> DataFrame:
    """spots_sf ⋈ candidates on sf_id, two-stage broadcast-then-shuffle.
    The head membership test is `isin` over the head id list — Catalyst
    converts it to an O(1) InSet hash probe above
    spark.sql.optimizer.inSetConversionThreshold (default 10)."""
    cand = candidates.select("sf_id", "res_id", "pair_count")
    if heads:
        is_head = F.col("sf_id").isin(list(heads))
        head_join = spots_sf.filter(is_head).join(
            F.broadcast(cand.filter(is_head)), "sf_id", "inner"
        )
        tail_join = spots_sf.filter(~is_head).join(
            cand.filter(~is_head), "sf_id", "inner"
        )
        return head_join.unionByName(tail_join)
    return spots_sf.join(F.broadcast(cand), "sf_id", "inner")


def prune_candidates(
    spot_candidates: DataFrame, max_candidates: int = MAX_CANDIDATES
) -> DataFrame:
    """Top-N candidates per spot by prior P(e|s)=pair_count/annotated_count
    (ref DBTwoStepDisambiguator.scala:145-151); deterministic res_id tie-break."""
    w = Window.partitionBy("doc_id", "span_pos", "offset").orderBy(
        F.desc(F.col("pair_count") / F.col("annotated_count")), F.asc("res_id")
    )
    return (
        spot_candidates.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_candidates)
        .drop("_rn")
    )


def generate_candidates(
    spots: DataFrame,
    surface_forms: DataFrame,
    candidates: DataFrame,
    heads: list | None = None,
    max_candidates: int = MAX_CANDIDATES,
) -> DataFrame:
    """Full C1+C2: resolve sfs (with normalized fallback), join the candidate
    map (skew-aware), prune to top-N by prior."""
    spots_sf = resolve_surface_forms(spots, surface_forms)
    joined = join_candidates(spots_sf, candidates, heads=heads)
    return prune_candidates(joined, max_candidates)
