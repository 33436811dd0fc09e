"""Resumable execution with per-partition lineage — north-rule requirement:
"every stage writes per-partition lineage + checkpoint state so a killed job
resumes without recomputing completed partitions."

Design (SURVEY.md §4.3): documents are hash-bucketed on doc_id into B
buckets; buckets are processed in waves (one Spark job per wave, W buckets
each). Each completed wave appends a manifest record (bucket list, row
counts, wall seconds, input fingerprint) to `<out>/_manifest/manifest.jsonl`
and its output lands under `<out>/data/bucket=<k>/`. A rerun loads the
manifest, verifies the input fingerprint, and skips completed buckets — the
anti-join on completed doc_id ranges is a metadata-only filter on the bucket
column, so resumed runs never rescan finished work.

Wave size trades resumability granularity against per-job overhead: at 100 TB
with 1000 executors you want waves big enough to saturate the cluster
(hundreds of buckets) but small enough that a preemption loses minutes, not
hours.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Manifest:
    path: str

    @property
    def file(self) -> str:
        return os.path.join(self.path, "manifest.jsonl")

    def load(self) -> list[dict]:
        if not os.path.exists(self.file):
            return []
        with open(self.file) as f:
            return [json.loads(line) for line in f if line.strip()]

    def completed_buckets(self, fingerprint: str | None = None) -> set:
        done: set = set()
        for rec in self.load():
            if fingerprint is not None and rec.get("fingerprint") != fingerprint:
                continue
            done.update(rec["buckets"])
        return done

    def append(self, record: dict) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(self.file, "a") as f:
            f.write(json.dumps(record) + "\n")
            f.flush()
            os.fsync(f.fileno())


def bucket_of(doc_id_col, num_buckets: int):
    return F.pmod(F.xxhash64(doc_id_col), F.lit(num_buckets)).cast("int")


def success_marker_exists(spark: SparkSession, table_dir: str) -> bool:
    """True when ``<table_dir>/_SUCCESS`` exists, probed through the
    Hadoop FileSystem API so HDFS/S3A outputs resume exactly like local
    paths (an ``os.path.exists`` probe is always false for non-local
    URIs, silently rewriting every table on rerun — the round-3 ADVICE
    fix). Falls back to ``os.path.exists`` if the JVM gateway is
    unavailable (plain local path in unit tests)."""
    marker = table_dir.rstrip("/") + "/_SUCCESS"
    try:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(marker)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(path))
    except Exception:
        return os.path.exists(os.path.join(table_dir, "_SUCCESS"))


def input_fingerprint(documents: DataFrame, num_buckets: int) -> str:
    """Cheap stable fingerprint of the logical input: row count + bucket
    layout. At production scale use the Iceberg snapshot id instead."""
    n = documents.count()
    return f"n={n};b={num_buckets}"


def run_checkpointed(
    documents: DataFrame,
    pipeline_fn,
    output_path: str,
    num_buckets: int = 16,
    wave_size: int = 4,
    fail_after_waves: int | None = None,
) -> dict:
    """Run `pipeline_fn(documents_subset) -> DataFrame` bucket-wave by
    bucket-wave, writing `<out>/data/bucket=<k>/` plus manifest lineage.

    Each result row goes to bucket_of(doc_id); a foreign doc_id hashing
    outside the wave lands in the wave's pseudo-bucket -(min(wave)+1).

    fail_after_waves: test hook — raise after N waves to simulate a kill.
    Returns run metrics {waves_run, buckets_done, rows_written, resumed_from}.
    """
    spark: SparkSession = documents.sparkSession
    manifest = Manifest(os.path.join(output_path, "_manifest"))
    fp = input_fingerprint(documents, num_buckets)
    done = manifest.completed_buckets(fp)

    docs_b = documents.withColumn("_bucket", bucket_of(F.col("doc_id"), num_buckets))
    all_buckets = list(range(num_buckets))
    todo = [b for b in all_buckets if b not in done]
    waves = [todo[i : i + wave_size] for i in range(0, len(todo), wave_size)]

    rows_written = 0
    for wi, wave in enumerate(waves):
        if fail_after_waves is not None and wi >= fail_after_waves:
            raise RuntimeError(f"simulated kill after {wi} waves")
        t0 = time.time()
        # A per-wave pseudo-bucket rather than a shared -1 keeps foreign
        # rows attributable (and countable) per wave, and makes crash
        # cleanup a plain partition-directory delete. The key is derived
        # from the wave's bucket ids, so a resumed (re-run) wave maps to
        # the same pseudo-bucket.
        pseudo = -(min(wave) + 1)
        data_path = os.path.join(output_path, "data")
        # Crash recovery: a kill between the parquet append and the manifest
        # append leaves orphan partition dirs for this wave; appending again
        # would double the rows AND the count. Any partition dir for a
        # not-yet-manifested bucket of this wave is stale — drop it before
        # re-running. (On object storage / Iceberg this is the same move:
        # delete uncommitted data files, or let the table format's atomic
        # commit do it.)
        for k in list(wave) + [pseudo]:
            d = os.path.join(data_path, f"bucket={k}")
            if k not in done and os.path.exists(d):
                shutil.rmtree(d)
        subset = docs_b.filter(F.col("_bucket").isin(wave))
        result = pipeline_fn(subset.drop("_bucket"))
        b = bucket_of(F.col("doc_id"), num_buckets)
        out = result.withColumn(
            "bucket", F.when(b.isin(wave), b).otherwise(F.lit(pseudo))
        )
        (
            out.repartition("bucket")
            .write.mode("append")
            .partitionBy("bucket")
            .parquet(data_path)
        )
        # Count from the parquet just written, not by recomputing `out` —
        # a second pass over the pipeline DAG would double every wave's cost.
        # Grouping on the partition column reads only file metadata. The
        # pseudo-bucket is included so unknown-doc rows are counted too.
        per_bucket = {
            str(r["bucket"]): r["n"]
            for r in spark.read.parquet(data_path)
            .filter(F.col("bucket").isin(list(wave) + [pseudo]))
            .groupBy("bucket")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        n = sum(per_bucket.values())
        rows_written += n
        manifest.append(
            {
                "buckets": wave,
                "rows": n,
                "rows_per_bucket": per_bucket,
                "seconds": round(time.time() - t0, 3),
                "fingerprint": fp,
                "ts": time.time(),
            }
        )
    return {
        "waves_run": len(waves),
        "buckets_done": len(done) + sum(len(w) for w in waves),
        "rows_written": rows_written,
        "resumed_from": sorted(done),
    }
