"""Curation-report job: every section lands under its
batch=<id> partition, re-running a batch is byte-idempotent, and a
second batch never touches the first (the replace-by-batch contract
shared with incremental_update_job)."""

from __future__ import annotations

import glob
import hashlib

from jobs.curation_report_job import SECTIONS, run_curation_report

SF = "/root/testdata/sf0.001"


def _tree_hash(root: str) -> str:
    h = hashlib.sha256()
    for p in sorted(glob.glob(f"{root}/**/*.parquet", recursive=True)):
        h.update(p.encode())
        h.update(open(p, "rb").read())
    return h.hexdigest()


def test_curation_report_sections_and_idempotence(spark, tmp_path):
    out = str(tmp_path / "report")
    c1 = run_curation_report(spark, SF, out, "b1")
    assert set(c1) == set(SECTIONS)
    assert all(n > 0 for n in c1.values())
    for s in SECTIONS:
        assert glob.glob(f"{out}/{s}/batch=b1/*.parquet")
    def rows(section):
        return sorted(
            map(str, spark.read.parquet(
                f"{out}/{section}/batch=b1").collect())
        )

    r1 = {s: rows(s) for s in SECTIONS}
    # re-run of the same batch reproduces identical content (part-file
    # names carry fresh job UUIDs, so compare canonical rows)
    c2 = run_curation_report(spark, SF, out, "b1")
    assert c2 == c1
    assert {s: rows(s) for s in SECTIONS} == r1
    # a second batch adds its own partitions and leaves b1 untouched
    b1_hash = _tree_hash(f"{out}/profile/batch=b1")
    run_curation_report(spark, SF, out, "b2")
    assert glob.glob(f"{out}/profile/batch=b2/*.parquet")
    assert _tree_hash(f"{out}/profile/batch=b1") == b1_hash
    # section values match the registry operator they came from
    from high_performance_docling_spark.entry_queries import QUERIES

    got = {
        r["col_name"]: r["n_rows"]
        for r in spark.read.parquet(f"{out}/profile/batch=b1").collect()
    }
    want = {
        r["col_name"]: r["n_rows"]
        for r in QUERIES["profile_documents"](spark, SF).collect()
    }
    assert got == want


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
