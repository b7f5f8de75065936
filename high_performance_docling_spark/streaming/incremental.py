"""Stream-static join: screen an INCOMING document stream against the
static existing-corpus index — the streaming face of the batch
`dedup_incremental` query (entry_queries.py).

Spark re-plans the static side per micro-batch, so the index can be a
bucketed/partitioned table that broadcast- or hash-joins each delta;
state is zero — the join itself is stateless, exactly why screening a
delta against a MAINTAINED index beats streaming full-corpus dedup at
100 TB (only the delta ever enters the stream)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def content_hash(text_col: str = "text"):
    """The shared exact-dedup key: md5 of the case/whitespace-normalized
    text (same normalization as the batch dedup operators)."""
    return F.md5(F.lower(F.trim(F.col(text_col))))


def stream_screen_incoming(
    spark: SparkSession, source_dir: str, index: DataFrame
) -> DataFrame:
    """readStream(parquet docs) → stream-static LEFT join against the
    ``index`` DataFrame of existing content hashes (columns: ch,
    n_ex) → per incoming doc: n_exact + keep flag. Append-mode safe
    (no aggregation on the stream side)."""
    incoming = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
        .select("doc_id", content_hash().alias("ch"))
    )
    return (
        incoming.join(index, "ch", "left")
        .select(
            "doc_id",
            F.coalesce("n_ex", F.lit(0)).cast("bigint").alias("n_exact"),
            (F.coalesce("n_ex", F.lit(0)) == 0).cast("int").alias("keep"),
        )
    )


def build_content_index(docs: DataFrame) -> DataFrame:
    """The static side: existing docs → (ch, n_ex) hash index. At scale
    this is a maintained bucketed table; here it is computed once and
    reused across every micro-batch."""
    return (
        docs.select(content_hash().alias("ch"))
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("n_ex"))
    )
