"""AQE skew-join evidence: with adaptive skew handling on (the
session default, pipeline.get_spark), a join whose shuffle has one
pathologically hot key gets its skewed partition SPLIT at runtime —
the final adaptive SortMergeJoin is marked skew=true. Together with
the checkpointed extraction path's page explode (a mega-document's
pages spread over tasks instead of one), this is how the engine
handles skew; an aggregation without a distinct count needs no split
because its map-side partial aggregation folds a hot key to one row per
input partition."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

CONFS = {
    # shrink the thresholds so the test-sized skew triggers the split
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    "spark.sql.shuffle.partitions": "8",
}


@pytest.fixture()
def skew_confs(spark):
    old = {k: spark.conf.get(k, None) for k in CONFS}
    for k, v in CONFS.items():
        spark.conf.set(k, v)
    yield
    for k, v in old.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark, skew_confs):
    # 95% of the left side lands on key 0; right side is uniform
    left = spark.range(0, 120_000).select(
        F.when(F.col("id") % 20 != 0, F.lit(0))
        .otherwise(F.col("id") % 97)
        .alias("k"),
        F.concat(F.lit("padpadpadpadpadpad-"), F.col("id")).alias("pay"),
    )
    right = spark.range(0, 97).select(
        F.col("id").alias("k"), F.lit("dim").alias("d")
    )
    joined = left.join(right, "k")
    # materialize THIS DataFrame's own query execution (count() would
    # plan a separate agg tree and leave this one unfinalized)
    assert len(joined.collect()) > 0
    final = joined._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in final
    assert "skew=true" in final, final[:2000]
