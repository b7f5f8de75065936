"""Structured Streaming: the document-feed extraction equals the batch
extraction over the same files."""


def test_stream_extract_spans_matches_batch(spark, tmp_path):
    """The flagship pipeline over a document stream (foreachBatch of the
    fused path) produces exactly the batch extraction's output."""
    from high_performance_docling_spark.corpus import GenConfig
    from high_performance_docling_spark.pipeline import (
        docs_dataframe,
        extract_spans,
    )
    from high_performance_docling_spark.streaming.extract import (
        stream_extract_spans,
    )

    cfg = GenConfig(seed=11, n_docs=16)
    src = tmp_path / "docs_feed"
    out = tmp_path / "spans_stream"
    ckpt = tmp_path / "ckpt"
    docs = docs_dataframe(spark, cfg, num_partitions=4)
    docs.write.mode("overwrite").parquet(str(src))
    q = stream_extract_spans(spark, str(src), str(out), str(ckpt), cfg)
    q.awaitTermination(120)
    got = {
        r["doc_id"]: sorted(tuple(s) for s in r["spans"])
        for r in spark.read.parquet(str(out)).collect()
    }
    want = {
        r["doc_id"]: sorted(tuple(s) for s in r["spans"])
        for r in extract_spans(spark, docs, cfg).collect()
    }
    assert got == want and len(got) == 16
