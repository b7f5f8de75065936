"""Analytics-query invariants: snapshot-diff status partitioning.
Value-exactness vs DuckDB is scripts/verify_queries.py's job."""

from __future__ import annotations

from high_performance_docling_spark.entry_queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_snapshot_diff_statuses_partition_the_keys(spark):
    rows = QUERIES["snapshot_diff"](spark, SF).collect()
    by_status: dict[str, set] = {}
    for r in rows:
        by_status.setdefault(r["status"], set()).add(r["doc_id"])
    assert set(by_status) == {"added", "removed", "changed"}
    # construction invariants: added = %10 docs kept by new filter;
    # removed = %7 docs present in old; changed = revised %5 survivors
    assert all(d % 10 == 0 and d % 7 != 0 for d in by_status["added"])
    assert all(d % 7 == 0 and d % 10 != 0 for d in by_status["removed"])
    assert all(
        d % 5 == 0 and d % 7 != 0 and d % 10 != 0
        for d in by_status["changed"]
    )
    # statuses are disjoint
    assert not (by_status["added"] & by_status["removed"])
    assert not (by_status["added"] & by_status["changed"])
