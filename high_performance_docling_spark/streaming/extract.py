"""Streaming span extraction: the flagship pipeline over a document feed.

New corpus files land in a directory (at scale: an Iceberg/Kafka feed);
each micro-batch runs the SAME fused extraction as the batch path via
``foreachBatch`` — one code path for batch and streaming (the Structured
Streaming pattern for stateless-per-document work, which needs no
watermarked state).

Exactly-once note: parquet append inside foreachBatch is at-least-once
on retry; production sinks use the (batch_id)-idempotent writers (Delta/
Iceberg MERGE keyed on batch_id) — the seam is the ``process`` closure.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from ..corpus import GenConfig
from ..pipeline import extract_spans
from ..schemas import DOCS_SCHEMA


def stream_extract_spans(
    spark: SparkSession,
    source_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    cfg: GenConfig,
    max_files_per_trigger: int = 4,
    idempotent: bool = False,
):
    """Start an available-now streaming query: docs parquet feed →
    fused extraction → parquet append. Returns the StreamingQuery.

    ``idempotent=True`` commits each micro-batch through
    ``iceberg.merge_commit`` (Iceberg MERGE when the runtime is present,
    per-batch overwritten partition dirs on parquet) so a RETRIED batch
    converges instead of appending duplicates — the exactly-once sink
    the module docstring's seam describes. Read the result back with
    ``iceberg.read_committed``."""
    docs = (
        spark.readStream.schema(DOCS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(source_dir)
    )

    def process(batch_df, batch_id: int) -> None:
        out = extract_spans(
            batch_df.sparkSession, batch_df, cfg,
            input_partitions=batch_df.sparkSession.sparkContext.defaultParallelism,
        )
        if idempotent:
            from ..iceberg import merge_commit

            merge_commit(out, output_dir, batch_id)
        else:
            out.write.mode("append").parquet(output_dir)

    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_extract_warc(
    spark: SparkSession,
    warc_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 4,
    idempotent: bool = False,
):
    """Continuous crawl ingestion: WARC archives landing in a directory
    (the Common Crawl delivery shape) stream through the SAME batch
    operators — response-record fan-out → format-sniffing extraction →
    ordered spans — via foreachBatch. binaryFile is a supported
    streaming file source, so each new archive is one input row and one
    task; ``idempotent=True`` commits through iceberg.merge_commit so a
    retried micro-batch replaces its previous attempt (read back with
    iceberg.read_committed)."""
    files = (
        spark.readStream.format("binaryFile")
        .schema("path string, modificationTime timestamp, "
                "length long, content binary")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .load(warc_dir)
    )

    def process(batch_df, batch_id: int) -> None:
        from ..sources import extract_warc_documents

        out = extract_warc_documents(batch_df)
        if idempotent:
            from ..iceberg import merge_commit

            merge_commit(out, output_dir, batch_id)
        else:
            out.write.mode("append").parquet(output_dir)

    return (
        files.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_extract_fetched(
    spark: SparkSession,
    manifest_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    fetcher=None,
    real_http: bool = False,
    max_files_per_trigger: int = 4,
):
    """Streaming ingestion of REAL documents: a (doc_id, url) manifest
    feed → distributed fetch → format-sniffing extraction (PDF parser /
    HTML boilerplate strip) → parquet append, one foreachBatch reusing
    the exact batch operators (sources.fetch_documents +
    extract_fetched_documents). The manifest IS the work queue — fetch
    parallelism = partitions, per the reference's download loop
    (main.py:31-43) lifted to a stream."""
    manifest = (
        spark.readStream.schema("doc_id string, url string")
        .option("maxFilesPerTrigger", str(max_files_per_trigger))
        .parquet(manifest_dir)
    )

    def process(batch_df, batch_id: int) -> None:
        from ..sources import extract_fetched_documents, fetch_documents

        out = extract_fetched_documents(
            fetch_documents(batch_df, fetcher=fetcher, real_http=real_http)
        )
        out.write.mode("append").parquet(output_dir)

    return (
        manifest.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
