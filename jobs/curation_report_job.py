#!/usr/bin/env python3
"""spark-submit entry point for the corpus curation report: one run
produces the data-quality dashboard a pipeline reviews before training
— column profile, quality-decile tiers and the snapshot diff vs the
previous corpus — each written under an idempotent batch=<id>
partition (replace-by-batch, the incremental_update_job contract).

Every section is an individually-oracled registry operator
(profile_documents / quality_tiers / snapshot_diff), so this job adds
composition + idempotent commit, not new math.

Cluster usage:

    spark-submit --py-files dist/hpd_spark.zip jobs/curation_report_job.py \
        --sf-dir s3://corpus/tables/ \
        --output s3://reports/curation/ \
        --batch-id 2026-08-17

Local smoke:
    python jobs/curation_report_job.py \
        --sf-dir /root/testdata/sf0.001 --output /tmp/cur --batch-id smoke
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

SECTIONS = ("profile", "tiers", "diff")


def run_curation_report(spark, sf_dir: str, output: str, batch_id: str) -> dict:
    """Library entry: materialize every report section under
    <output>/<section>/batch=<batch_id>/ and return row counts."""
    from high_performance_docling_spark.entry_queries import QUERIES

    frames = {
        "profile": QUERIES["profile_documents"](spark, sf_dir),
        "tiers": QUERIES["quality_tiers"](spark, sf_dir),
        "diff": QUERIES["snapshot_diff"](spark, sf_dir),
    }
    from pyspark.sql import Observation, functions as F

    counts = {}
    for section, df in frames.items():
        # observe() rides the write job itself — the row count comes
        # from the same action that materializes the section, no
        # second scan (the modern replacement for re-read-and-count)
        obs = Observation(f"curation_{section}")
        path = f"{output}/{section}/batch={batch_id}"
        df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        ).parquet(path)
        counts[section] = int(obs.get["rows"])
    return counts


def main() -> None:
    ap = argparse.ArgumentParser(description="corpus curation report")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--batch-id", required=True)
    args = ap.parse_args()

    from high_performance_docling_spark.pipeline import get_spark

    spark = get_spark("curation-report")
    try:
        print(run_curation_report(spark, args.sf_dir, args.output,
                                  args.batch_id))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
