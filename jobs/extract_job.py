#!/usr/bin/env python3
"""spark-submit entry point for the span-extraction pipeline.

Cluster usage (north rule: spark-submit --py-files on a multi-executor
cluster):

    python scripts/build_pyfiles.py                     # → dist/hpd_spark.zip
    spark-submit \
        --py-files dist/hpd_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        jobs/extract_job.py \
        --input  s3://corpus/docs/            # or a local parquet dir
        --output s3://corpus/spans/ \
        --checkpoint-dir s3://corpus/ckpt/ \
        --lineage-dir /shared/lineage

Modes: without --checkpoint-dir the job runs the fused doc-grain path
(zero shuffles). With --checkpoint-dir it runs the checkpointed
page-grain path, and a killed job restarted with the same arguments
anti-joins completed (doc_id[, page_no]) keys and only processes the
remainder (pipeline._checkpoint_stage).

Local smoke:
    python jobs/extract_job.py --synthesize 200 --output /tmp/spans_out
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))


def main() -> None:
    ap = argparse.ArgumentParser(description="docs → ordered spans extraction")
    ap.add_argument("--input", help="input corpus parquet (doc_id, spans[])")
    ap.add_argument("--output", required=True, help="output parquet path")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--lineage-dir", default=None)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--with-confidence", action="store_true",
                    help="attach the per-doc ConfidenceReport struct")
    ap.add_argument("--figures-output", default=None,
                    help="also write the figure-crop media table here")
    ap.add_argument(
        "--synthesize", type=int, default=0,
        help="generate N synthetic docs instead of reading --input",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from high_performance_docling_spark.corpus import GenConfig
    from high_performance_docling_spark.pipeline import (
        docs_dataframe,
        extract_spans,
        split_conf,
    )

    # On a cluster, master/memory come from spark-submit; locally default.
    spark = SparkSession.builder.appName("hpd-extract").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # the split sizing get_spark uses, unless spark-submit --conf set it
    submitted = spark.sparkContext.getConf()
    splits = split_conf()
    for key, value in splits.items():
        if not submitted.contains(key):
            spark.conf.set(key, value)
    print("split sizing: " + " ".join(
        f"{key}={spark.conf.get(key)}" for key in splits))

    cfg = GenConfig(seed=args.seed, n_docs=max(args.synthesize, 1))
    if args.synthesize:
        docs = docs_dataframe(spark, cfg)
    else:
        if not args.input:
            ap.error("--input required unless --synthesize is given")
        docs = spark.read.parquet(args.input)

    out = extract_spans(
        spark,
        docs,
        cfg,
        checkpoint_dir=args.checkpoint_dir,
        lineage_dir=args.lineage_dir,
        with_confidence=args.with_confidence,
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.schema(out.schema).parquet(args.output).count()
    print(f"extracted spans for {n} documents → {args.output}")
    if args.figures_output:
        from high_performance_docling_spark.operators.figures import extract_figures

        figures = extract_figures(docs, cfg)
        figures.write.mode("overwrite").parquet(args.figures_output)
        nf = spark.read.schema(figures.schema).parquet(args.figures_output).count()
        print(f"extracted {nf} figure crops → {args.figures_output}")
    spark.stop()


if __name__ == "__main__":
    main()
