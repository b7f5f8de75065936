"""End-to-end extraction pipeline: docs → ordered spans.

Wires the stages (operators/stages.py) into two modes:
  - fused (default): one doc-grain stage, zero shuffles;
  - checkpointed (checkpoint_dir set): page-grain stages, each
    materialized to a parquet checkpoint keyed by (doc_id[, page_no]) — a
    restarted job anti-joins completed keys and only processes the
    remainder (north rule resumability; reference analogue: the phase
    boundaries at main.py:53-80) — and one doc_id shuffle before
    assembly. Mega-docs reach page grain only here: after the
    document→page explode each page is its own row (SURVEY.md §4 "skew
    handling").
Both modes write per-partition lineage rows when lineage_dir is set.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from .corpus import GenConfig, generate_doc
from .operators.stages import (
    detect_stage,
    doc_assemble_stage,
    doc_fused_stage,
    layout_stage,
    parse_stage,
)
from .schemas import DOCS_SCHEMA


def split_conf() -> dict[str, str]:
    """Sandbox-scale file split sizing, applied by ``get_spark`` and by
    jobs/extract_job.py. Corpora here are tens of MB, and the Python
    stages are CPU-bound per row — the default 128m would read
    everything as 1-2 splits and serialize the pipeline. A real 100 TB
    table has thousands of row groups and keeps Spark's default, given
    to the job with spark-submit ``--conf``."""
    return {
        "spark.sql.files.maxPartitionBytes":
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "1m"),
        "spark.sql.files.openCostInBytes": "262144",
    }


def get_spark(
    app: str = "hpd-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.cpu_count() or 8
    builder = (
        SparkSession.builder.appName(app)
        .master(master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', cpus)}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(map=split_conf())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def docs_dataframe(
    spark: SparkSession, cfg: GenConfig, num_partitions: int | None = None
) -> DataFrame:
    """Synthesize the input corpus as a DataFrame (S0). Generation happens
    distributed: one Arrow batch of doc indices in, docs rows out."""
    import pandas as pd

    def gen(batches):
        for pdf in batches:
            rows = [generate_doc(cfg, int(i)) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    rng_df = spark.range(cfg.n_docs, numPartitions=num_partitions or 32)
    return rng_df.mapInPandas(gen, DOCS_SCHEMA)


def _checkpoint_committed(path: str) -> bool:
    """A checkpoint counts only when the parquet job COMMITTED (_SUCCESS
    marker): a job killed mid-write leaves the directory with only
    _temporary/ inside, which must be treated as absent, not as done.
    Local-FS in the sandbox; on a cluster swap for the Hadoop FS API /
    Iceberg snapshot check."""
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _checkpoint_stage(
    spark: SparkSession,
    input_df: DataFrame,
    stage_fn,
    path: str,
    input_keys: list[str],
) -> DataFrame:
    """Run stage_fn over only the not-yet-completed input rows, append to
    the stage's parquet checkpoint, return the full checkpointed output.

    Resume semantics: completed keys are anti-joined from the INPUT before
    the stage runs, so a restarted job never reprocesses finished
    partitions (north rule). The append runs unconditionally (an empty
    append is harmless) — probing the output first would evaluate the
    Python stage twice. Join strategy for the done-keys set is left to
    Catalyst/AQE: at 100 TB the completed-key set can be huge and must be
    allowed to shuffle rather than broadcast.

    The checkpoint is read back with the stage's declared output schema
    (building the stage is lazy and runs no job): ``spark.read.parquet``
    without a schema launches a job to read the footers, one per read.
    """
    out = stage_fn(input_df)
    read = spark.read.schema(out.schema)
    if _checkpoint_committed(path):
        # no distinct(): a left-anti join ignores duplicate right-side
        # keys, and deduplicating them costs a job per stage
        done_keys = read.parquet(path).select(*input_keys)
        todo = input_df.join(done_keys, input_keys, "left_anti")
        stage_fn(todo).write.mode("append").parquet(path)
    else:
        out.write.mode("overwrite").parquet(path)
    return read.parquet(path)


def extract_spans(
    spark: SparkSession,
    docs_df: DataFrame,
    cfg: GenConfig,
    checkpoint_dir: str | None = None,
    lineage_dir: str | None = None,
    input_partitions: int | None = None,
    with_confidence: bool = False,
) -> DataFrame:
    """Full S0→S7 pipeline.

    Execution modes (partitioning/shuffle strategy is explicit, per the
    north rule):
      - fused (default, checkpoint_dir=None): doc grain, ZERO shuffles —
        each partition converts whole documents end-to-end. Fastest and
        perfectly scalable while stages are CPU kernels.
      - checkpointed (checkpoint_dir set): page-grain stages, each
        materialized and resumable, with one doc_id shuffle before
        assembly — use when page-level model stages need cross-doc GPU
        batching or when resumable stage checkpoints are required.

    ``with_confidence`` adds the per-doc ConfidenceReport struct
    (base_models.py:379-459) computed from the same post-processed
    clusters as the spans.
    """
    # Parallelism guard: if the input still arrives with fewer splits than
    # cores (tiny corpus or in-memory DF), fan out once. The shuffle is
    # not free (the spans payload moves), so the primary lever is the
    # small files.maxPartitionBytes of split_conf; this is the backstop.
    # Partition count comes from (in order): the caller's hint, the file
    # split count, and only as a last resort the RDD-conversion probe
    # (df.rdd builds a conversion plan per call — avoid it when possible).
    target = spark.sparkContext.defaultParallelism
    n_parts = input_partitions
    if n_parts is None:
        files = docs_df.inputFiles()
        n_parts = len(files) if files else None
    if n_parts is None:
        n_parts = docs_df.rdd.getNumPartitions()
    if n_parts < target:
        docs_df = docs_df.repartition(target * 2, "doc_id")

    if checkpoint_dir is None:
        return doc_fused_stage(docs_df, cfg, lineage_dir,
                               with_confidence=with_confidence)

    # parse → detect → layout, each materialized (so no two Python stages
    # chain in one job) and resumable; detect is the stage a real cluster
    # schedules on GPU executors (stages.py module docstring)
    parsed = _checkpoint_stage(
        spark,
        docs_df,
        lambda df: parse_stage(df, cfg, lineage_dir),
        os.path.join(checkpoint_dir, "parsed"),
        ["doc_id"],
    )
    pages = _checkpoint_stage(
        spark,
        parsed,
        lambda df: detect_stage(df, cfg, lineage_dir),
        os.path.join(checkpoint_dir, "pages"),
        ["doc_id", "page_no"],
    )
    elements = _checkpoint_stage(
        spark,
        pages,
        lambda df: layout_stage(df, cfg, lineage_dir,
                                with_confidence=with_confidence),
        os.path.join(checkpoint_dir, "elements"),
        ["doc_id", "page_no"],
    )
    return doc_assemble_stage(elements, cfg, lineage_dir,
                              with_confidence=with_confidence)
