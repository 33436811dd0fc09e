#!/usr/bin/env python
"""spark-submit entrypoint: annotate an interleaved documents table and
materialize NIF mention triples, resumable from checkpoint.

    spark-submit --py-files dbpedia_spotlight_spark.zip jobs/annotate_job.py \
        --input  /data/documents_parquet \
        --model  /models/spotlight \
        --output /out/annotations \
        --num-buckets 64 --wave-size 8 [--no-context] [--flat-input] \
        [--confidence 0.1] [--support 10] [--triples]

The input is either the north-rule interleaved schema
(doc_id string, spans array<struct<kind,text,media_ref,offset>>) or, with
--flat-input, a flat (doc_id, text) table adapted on the fly. Each bucket
wave runs annotate and then the REST default filter chain
(apply_default_filter_chain with --confidence/--support). Each completed
bucket wave appends lineage to <output>/_manifest/manifest.jsonl; a rerun
skips completed buckets (kill -9 safe). Final metrics print as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main(argv=None) -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True)
    p.add_argument("--model", required=True)
    p.add_argument("--output", required=True)
    p.add_argument("--num-buckets", type=int, default=64)
    p.add_argument("--wave-size", type=int, default=8)
    p.add_argument("--no-context", action="store_true")
    p.add_argument("--flat-input", action="store_true")
    p.add_argument("--triples", action="store_true", help="also write NIF triples")
    p.add_argument("--confidence", type=float, default=0.1)
    p.add_argument("--support", type=int, default=10)
    args = p.parse_args(argv)

    spark = SparkSession.builder.appName("spotlight-annotate").getOrCreate()

    from dbpedia_spotlight_spark.model.model_tables import SpotlightModel
    from dbpedia_spotlight_spark.operators.filters import apply_default_filter_chain
    from dbpedia_spotlight_spark.operators.tokenizer import flat_to_interleaved
    from dbpedia_spotlight_spark.pipeline.annotate import annotate
    from dbpedia_spotlight_spark.pipeline.checkpoint import run_checkpointed
    from dbpedia_spotlight_spark.pipeline.triples import (
        annotation_triples,
        write_triples,
    )

    docs = spark.read.parquet(args.input)
    if args.flat_input:
        docs = flat_to_interleaved(docs)
    model = SpotlightModel.load(spark, args.model)

    # load the persisted spotter dictionary when the model dir carries one
    # (build_model_job writes it) — skips the per-job driver FSA build
    import os

    from dbpedia_spotlight_spark.operators.spotter import SpotterDictionary

    dict_path = os.path.join(args.model, "spotter_dict.pkl")
    dictionary = (
        SpotterDictionary.load(dict_path)
        if os.path.exists(dict_path)
        else None
    )

    def pipeline(subset):
        return apply_default_filter_chain(
            annotate(
                subset,
                model,
                use_context=not args.no_context,
                dictionary=dictionary,
            ),
            confidence=args.confidence,
            support=args.support,
        )

    metrics = run_checkpointed(
        docs,
        pipeline,
        args.output,
        num_buckets=args.num_buckets,
        wave_size=args.wave_size,
    )

    if args.triples:
        ann = spark.read.parquet(f"{args.output}/data")
        write_triples(annotation_triples(ann), f"{args.output}/triples")

    print(json.dumps({"job": "annotate", **metrics}))


if __name__ == "__main__":
    main(sys.argv[1:])
