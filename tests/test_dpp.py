"""Dynamic partition pruning evidence: joining a partitioned fact
table to a FILTERED dimension prunes fact partitions at runtime — the
fact scan's PartitionFilters carry a dynamicpruning subquery instead
of reading every partition. This is the Catalyst behavior that makes
partitioned corpus scans cheap when the dimension filter only selects
a few partitions (here: documents partitioned by language)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    fact_dir = str(tmp_path / "documents_by_lang")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    docs.write.partitionBy("lang").parquet(fact_dir)

    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("en", "germanic"), ("de", "germanic"),
         ("fr", "romance"), ("es", "romance"),
         ("zh", "sinitic")],
        ["lang", "family"],
    )
    joined = fact.join(dim.filter(F.col("family") == "romance"), "lang")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan[:2000]
    # and the result really only contains the two pruned-in partitions
    langs = {r["lang"] for r in joined.select("lang").distinct().collect()}
    assert langs == {"fr", "es"}
