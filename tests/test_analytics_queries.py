"""Analytics-query invariants: z-order bucket locality, snapshot-diff
status partitioning and the salted join's row identity. Value-exactness
vs DuckDB is scripts/verify_queries.py's job."""

from __future__ import annotations

from high_performance_docling_spark.entry_queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_zorder_buckets_are_local_in_both_dims(spark):
    # top-4 z-bits carve the 256x256 grid into 16 quadrant cells of
    # 64x64: every bucket's bounding box must fit one — the 2-D
    # locality a 1-D sort can't give (a sort by x alone would span the
    # full y range in every file)
    rows = QUERIES["zorder_layout"](spark, SF).collect()
    assert rows
    for r in rows:
        assert r["max_x"] - r["min_x"] <= 63
        assert r["max_y"] - r["min_y"] <= 63
        assert r["n_rows"] > 0


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


def test_salted_join_is_row_identical_and_salts_the_exchange(spark):
    from pyspark.sql import functions as F

    from high_performance_docling_spark.operators.skew import salted_join

    orders = spark.read.parquet(f"{SF}/orders.parquet").withColumnRenamed(
        "o_custkey", "c_custkey"
    )
    cust = spark.read.parquet(f"{SF}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    plain = orders.join(cust, "c_custkey")
    salted = salted_join(orders, cust, "c_custkey", n_salts=8,
                         salt_source="o_orderkey")
    # row-identical result
    a = sorted(map(str, plain.select(sorted(plain.columns)).collect()))
    b = sorted(map(str, salted.select(sorted(plain.columns)).collect()))
    assert a == b
    # the join key is (key, salt): the exchange partitions on both
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan
    # deterministic replay: same salt assignment both times
    s1 = salted.select("c_custkey", "o_orderkey").collect()
    s2 = salted.select("c_custkey", "o_orderkey").collect()
    assert sorted(map(str, s1)) == sorted(map(str, s2))
