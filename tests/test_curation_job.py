"""Compaction job: rewriting a directory of many small parquet files
leaves fewer files with the same rows, and compacting it again is
idempotent."""

from __future__ import annotations

SF = "/root/testdata/sf0.001"


def test_compact_job_reduces_files_and_keeps_rows(spark, tmp_path):
    from jobs.compact_job import run_compact

    src = str(tmp_path / "many")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # fragment into many small files
    docs.repartition(40).write.parquet(src)
    want = sorted(map(str, docs.collect()))
    stats = run_compact(spark, src, target_mb=64)
    assert stats["files_before"] >= 40
    assert stats["files_after"] < stats["files_before"]
    assert stats["files_after"] >= 1
    got = sorted(map(str, spark.read.parquet(src).collect()))
    assert got == want and stats["rows"] == len(want)
    # idempotent: compacting a compacted dir is a no-op-sized rewrite
    stats2 = run_compact(spark, src, target_mb=64)
    assert stats2["files_after"] <= stats["files_after"]
    assert stats2["rows"] == stats["rows"]
