#!/usr/bin/env python3
"""spark-submit entry point for small-file compaction: rewrite a
parquet directory into size-targeted files without changing a row.

Streaming sinks (ingest_job --streaming) and per-batch commits (the
iceberg parquet fallback) accumulate small files; scan cost at
100 TB is dominated by file COUNT long before bytes. This job reads a
directory, computes the partition count from the actual input bytes /
target file size, and rewrites atomically (write to <dir>.compact.tmp,
then swap) so readers never see a half-written directory.

Cluster usage:

    spark-submit --py-files dist/hpd_spark.zip jobs/compact_job.py \
        --path s3://corpus/docs/batch=2026-08-17 --target-mb 256

Local smoke:
    python jobs/compact_job.py --path /tmp/some_parquet --target-mb 8
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def input_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if f.endswith(".parquet")
        )
    return total


def run_compact(spark, path: str, target_mb: int = 256) -> dict:
    """Library entry: rewrite `path` into ceil(bytes/target) files.
    Returns {'files_before', 'files_after', 'rows'} — rows asserted
    unchanged before the swap (the job aborts, leaving the original
    intact, on any mismatch)."""
    def count_files(p):
        return sum(
            f.endswith(".parquet")
            for _r, _d, fs in os.walk(p) for f in fs
        )

    before_files = count_files(path)
    df = spark.read.parquet(path)
    n_rows = df.count()
    n_out = max(1, -(-input_bytes(path) // (target_mb * 1024 * 1024)))
    tmp = path.rstrip("/") + ".compact.tmp"
    df.repartition(n_out).write.mode("overwrite").parquet(tmp)
    new_rows = spark.read.schema(df.schema).parquet(tmp).count()
    if new_rows != n_rows:  # pragma: no cover - safety abort
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction row mismatch {new_rows} != {n_rows}; original kept"
        )
    bak = path.rstrip("/") + ".compact.bak"
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak)
    return {
        "files_before": before_files,
        "files_after": count_files(path),
        "rows": n_rows,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description="parquet small-file compaction")
    ap.add_argument("--path", required=True)
    ap.add_argument("--target-mb", type=int, default=256)
    args = ap.parse_args()

    from high_performance_docling_spark.pipeline import get_spark

    spark = get_spark("compact")
    try:
        print(run_compact(spark, args.path, args.target_mb))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
