"""Structured Streaming: the document-feed extraction and the
stream-static incoming-document screen each equal the batch
computation over the same files."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


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


def test_stream_screen_incoming_matches_batch(spark, tmp_path):
    """Stream-static join: the streamed screen of an incoming doc feed
    against the static content index equals the batch left join over
    the same files, and flags exactly the planted duplicates."""
    import shutil

    from high_performance_docling_spark.streaming import (
        build_content_index,
        stream_screen_incoming,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    incoming_dir = tmp_path / "incoming"
    incoming_dir.mkdir()
    # write the incoming delta as TWO flat files -> two micro-batches
    # (the file stream source does not recurse into subdirectories)
    inc = docs.filter(F.col("doc_id") % 10 == 0)
    for i, pred in enumerate(
        [F.col("doc_id") % 20 == 0, F.col("doc_id") % 20 != 0]
    ):
        staged = tmp_path / f"stage{i}"
        inc.filter(pred).coalesce(1).write.parquet(str(staged))
        part = next(staged.glob("part-*.parquet"))
        shutil.copy(part, incoming_dir / f"f{i}.parquet")

    index = build_content_index(existing)
    out = stream_screen_incoming(spark, str(incoming_dir), index)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_screen")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc_id"]: (r["n_exact"], r["keep"])
        for r in spark.table("t_screen").collect()
    }

    from high_performance_docling_spark.streaming.incremental import (
        content_hash,
    )

    want_df = (
        inc.select("doc_id", content_hash().alias("ch"))
        .join(index, "ch", "left")
        .select(
            "doc_id",
            F.coalesce("n_ex", F.lit(0)).cast("bigint").alias("n_exact"),
            (F.coalesce("n_ex", F.lit(0)) == 0).cast("int").alias("keep"),
        )
    )
    want = {r["doc_id"]: (r["n_exact"], r["keep"]) for r in want_df.collect()}
    assert got == want and len(got) > 0
    assert {k for k, v in got.items() if v[1] == 0} == {
        k for k, v in want.items() if v[0] > 0
    }
