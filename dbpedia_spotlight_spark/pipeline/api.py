"""API surface parity — the reference's four REST endpoints as functions
over DataFrames (SURVEY.md §7 stage 5).

Reference endpoints (rest/src/main/java/org/dbpedia/spotlight/web/rest/
resources/): Annotate.java (:57-66), Spot.java, Candidates.java,
Disambiguate.java; shared param handling SpotlightInterface.java:124-172;
defaults core/.../model/SpotlightConfiguration.java:48-53 (confidence=0.1,
support=10, policy=whitelist, coreference=true).

Each function takes the interleaved documents table (or pre-made spots for
disambiguate-only) + the model, and returns the stage's DataFrame — the
same contract the REST layer wraps with serialization (our serialization =
pipeline.triples / to_json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dbpedia_spotlight_spark.model.model_tables import SpotlightModel
from dbpedia_spotlight_spark.operators.filters import apply_default_filter_chain
from dbpedia_spotlight_spark.operators.spotter import spot_documents
from dbpedia_spotlight_spark.pipeline.annotate import annotate


def spot(documents: DataFrame, model: SpotlightModel, spotter: str = "fsa") -> DataFrame:
    """/spot — surface-form occurrences only (rest/.../resources/Spot.java)."""
    return spot_documents(documents, model.surface_forms, spotter=spotter)


def candidates(
    documents: DataFrame,
    model: SpotlightModel,
    k: int = 20,
    spotter: str = "fsa",
    use_context: bool = True,
) -> DataFrame:
    """/candidates — ranked candidate lists per spot
    (rest/.../resources/Candidates.java; bestK with k retained)."""
    return annotate(
        documents, model, use_context=use_context, spotter=spotter, k=max(k, 2)
    )


def disambiguate(
    spots: DataFrame,
    documents: DataFrame,
    model: SpotlightModel,
    use_context: bool = True,
) -> DataFrame:
    """/disambiguate — caller supplies the spots (the reference accepts
    SpotXmlParser input, io/sources.parse_spot_xml); only candidate
    generation + scoring runs (rest/.../resources/Disambiguate.java).
    The spots carry no token ordinals, so context scoring is whole-document.
    """
    return annotate(
        documents,
        model,
        use_context=use_context,
        spots=spots.withColumn("ordinal", F.lit(0)),
        max_context_tokens=None,
    )


def annotate_endpoint(
    documents: DataFrame,
    model: SpotlightModel,
    confidence: float = 0.1,
    support: int = 10,
    types: list | None = None,
    policy: str = "whitelist",
    coreference: bool = True,
    spotter: str = "fsa",
) -> DataFrame:
    """/annotate with the REST default filter chain applied."""
    return apply_default_filter_chain(
        annotate(documents, model, use_context=True, spotter=spotter),
        confidence=confidence,
        support=support,
        types=types,
        policy=policy,
        coreference=coreference,
    )
