#!/usr/bin/env python3
"""spark-submit entry point for the incremental corpus-update loop:
screen an incoming batch against the existing corpus (exact content
hash + banded SimHash near-dup, via operators.dedup.screen_incoming —
the individually-oracled `dedup_incremental` operator), then commit
kept docs and a full per-doc audit under an idempotent batch partition.

Cluster usage:

    spark-submit --py-files dist/hpd_spark.zip jobs/incremental_update_job.py \
        --corpus   s3://corpus/documents/ \
        --incoming s3://corpus/deliveries/2026-08-17/ \
        --output   s3://corpus/documents/ \
        --batch-id 2026-08-17

Output layout: <output>/docs/batch=<batch_id>/ (kept incoming docs) and
<output>/audit/batch=<batch_id>/ (EVERY incoming doc with n_exact /
n_near / keep — why each rejected doc was rejected). Re-running the
same batch OVERWRITES its own partition and, because both screen keys
are deterministic content functions, reproduces byte-identical
verdicts — the replace-by-batch idempotence contract (same shape as
iceberg.merge_commit). Existing partitions are never
touched, so a killed job resumes by re-running its batch.

Local smoke:
    python jobs/incremental_update_job.py \
        --corpus /root/testdata/sf0.001/documents.parquet \
        --incoming /root/testdata/sf0.001/documents.parquet \
        --output /tmp/incr --batch-id smoke
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def run_incremental_update(
    spark, corpus_path: str, incoming_path: str, output: str, batch_id: str,
    max_hamming: int = 3,
) -> dict:
    """Library entry (job == thin wrapper; tested in tests/test_jobs
    style): screen, then idempotently commit kept docs + audit under
    batch=<batch_id>. Returns {'n_in', 'n_kept', 'n_exact_dropped',
    'n_near_dropped'}."""
    from pyspark.sql import functions as F

    from high_performance_docling_spark.operators.dedup import screen_incoming

    existing = spark.read.parquet(corpus_path).select("doc_id", "text")
    incoming = spark.read.parquet(incoming_path).select("doc_id", "text")
    verdicts = screen_incoming(existing, incoming, max_hamming=max_hamming)
    audit = incoming.join(verdicts, "doc_id").select(
        "doc_id", "n_exact", "n_near", "keep"
    )
    kept = incoming.join(
        verdicts.filter(F.col("keep") == 1).select("doc_id"), "doc_id"
    )
    # idempotent replace-by-batch: each run owns exactly its own
    # batch=<id> directory; mode=overwrite replaces a re-run in place
    kept.write.mode("overwrite").parquet(f"{output}/docs/batch={batch_id}")
    audit.write.mode("overwrite").parquet(f"{output}/audit/batch={batch_id}")
    stats = audit.agg(
        F.count(F.lit(1)).alias("n_in"),
        F.sum("keep").alias("n_kept"),
        F.sum((F.col("n_exact") > 0).cast("int")).alias("n_exact_dropped"),
        F.sum(
            ((F.col("n_exact") == 0) & (F.col("n_near") > 0)).cast("int")
        ).alias("n_near_dropped"),
    ).first()
    return {k: int(stats[k] or 0) for k in stats.asDict()}


def main() -> None:
    ap = argparse.ArgumentParser(description="incremental corpus update")
    ap.add_argument("--corpus", required=True, help="existing docs parquet")
    ap.add_argument("--incoming", required=True, help="incoming batch parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--batch-id", required=True)
    ap.add_argument("--max-hamming", type=int, default=3)
    args = ap.parse_args()

    from high_performance_docling_spark.pipeline import get_spark

    spark = get_spark("incremental-update")
    try:
        stats = run_incremental_update(
            spark, args.corpus, args.incoming, args.output, args.batch_id,
            max_hamming=args.max_hamming,
        )
        print(stats)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
