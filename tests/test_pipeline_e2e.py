"""Spark pipeline == serial oracle, span-for-span (FIXTURES.md §5), plus
checkpoint/resume semantics."""

import os
import re

from high_performance_docling_spark.corpus import GenConfig
from high_performance_docling_spark.oracle import extract_doc_spans
from high_performance_docling_spark.pipeline import (
    docs_dataframe,
    extract_spans,
)

CFG = GenConfig(seed=42, n_docs=36, noise=True, mega_frac=0.1, mega_pages=16)


def _spans(rows):
    return {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in rows}


def test_spark_matches_oracle_exactly(spark):
    docs = docs_dataframe(spark, CFG, num_partitions=6)
    got = _spans(extract_spans(spark, docs, CFG).collect())
    inputs = _spans(docs.collect())
    assert len(got) == CFG.n_docs
    for doc_id, in_spans in inputs.items():
        assert got[doc_id] == extract_doc_spans(doc_id, in_spans, CFG), doc_id


def test_staged_mode_equals_fused_mode(spark, tmp_path):
    """The checkpointed page-grain stages equal the fused doc-grain stage."""
    docs = docs_dataframe(spark, CFG, num_partitions=6)
    fused = _spans(extract_spans(spark, docs, CFG).collect())
    staged = _spans(extract_spans(spark, docs, CFG,
                                  checkpoint_dir=str(tmp_path / "ckpt")).collect())
    assert fused == staged


def test_mega_cluster_page_grid_path_staged_e2e(spark, tmp_path):
    """VERDICT r4 #7: a pathological ≥20k-cluster page driven through the
    DISTRIBUTED pipeline (checkpointed page-grain stages), not just the
    kernel: spans stay
    EXACT (equal to both the serial oracle and the same doc without the
    density stress) and the lineage stream records the grid path taken."""
    import json

    dense = GenConfig(seed=21, n_docs=2, pages_min=1, pages_max=1,
                      two_col_frac=0.0, dense_noise_boxes=20000)
    base = GenConfig(seed=21, n_docs=2, pages_min=1, pages_max=1,
                     two_col_frac=0.0)
    # precondition: the stress page really exceeds 20k raw clusters
    from high_performance_docling_spark.corpus import (
        generate_doc, synth_detections, typeset,
    )

    d0 = generate_doc(dense, 0)
    page0 = typeset(d0["doc_id"], d0["spans"], dense)[0]
    assert len(synth_detections(d0["doc_id"], page0, dense)) > 20000

    docs = docs_dataframe(spark, dense, num_partitions=2)
    ldir = str(tmp_path / "lineage")
    got = _spans(
        extract_spans(spark, docs, dense, checkpoint_dir=str(tmp_path / "ckpt"),
                      lineage_dir=ldir).collect()
    )
    inputs = _spans(docs.collect())
    for doc_id, in_spans in inputs.items():
        assert got[doc_id] == extract_doc_spans(doc_id, in_spans, dense), doc_id
        # the 20k recoverable proposals are fully absorbed: output equals
        # the SAME document extracted without the density stress
        assert got[doc_id] == extract_doc_spans(doc_id, in_spans, base), doc_id

    rows = []
    for fname in os.listdir(ldir):
        if fname.endswith(".jsonl"):
            with open(os.path.join(ldir, fname)) as f:
                rows += [json.loads(line) for line in f]
    grid_rows = [r for r in rows if r["stage"] == "layout/grid_pages"]
    assert grid_rows and sum(r["input_rows"] for r in grid_rows) >= 2, rows


def test_output_schema(spark):
    docs = docs_dataframe(spark, GenConfig(seed=1, n_docs=2), num_partitions=1)
    out = extract_spans(spark, docs, GenConfig(seed=1, n_docs=2))
    assert [f.name for f in out.schema.fields] == ["doc_id", "spans"]
    span_fields = out.schema["spans"].dataType.elementType.fieldNames()
    assert span_fields == ["kind", "text", "media_ref", "order"]


def _page_keys(path):
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["doc_id", "page_no"])
    return list(zip(t.column("doc_id").to_pylist(), t.column("page_no").to_pylist()))


def test_checkpoint_resume(spark, tmp_path):
    import shutil

    from pyspark.sql import functions as F

    cfg = GenConfig(seed=5, n_docs=8)
    ckpt = str(tmp_path / "ckpt")
    docs = docs_dataframe(spark, cfg, num_partitions=2)

    out1 = _spans(extract_spans(spark, docs, cfg, checkpoint_dir=ckpt).collect())
    all_keys = sorted(_page_keys(os.path.join(ckpt, "parsed")))

    # simulate a restart: resume must not reprocess completed keys and
    # must produce identical output
    out2 = _spans(extract_spans(spark, docs, cfg, checkpoint_dir=ckpt).collect())
    assert out1 == out2

    # partial checkpoints: pages and elements committed for only half the
    # docs; the resume must compute the other half, and only that half
    half = sorted(out1)[::2]
    for stage in ("pages", "elements"):
        path = os.path.join(ckpt, stage)
        (spark.read.parquet(path).where(F.col("doc_id").isin(half))
         .write.parquet(path + ".half"))
        shutil.rmtree(path)
        os.rename(path + ".half", path)
        assert {d for d, _ in _page_keys(path)} == set(half)
    out3 = _spans(extract_spans(spark, docs, cfg, checkpoint_dir=ckpt).collect())
    assert out3 == out1
    for stage in ("parsed", "pages", "elements"):
        assert sorted(_page_keys(os.path.join(ckpt, stage))) == all_keys, stage


def test_lineage_rows_written(spark, tmp_path):
    cfg = GenConfig(seed=3, n_docs=4)
    ldir = str(tmp_path / "lineage")
    docs = docs_dataframe(spark, cfg, num_partitions=2)
    extract_spans(spark, docs, cfg, lineage_dir=ldir).collect()
    files = os.listdir(ldir)
    assert any(f.startswith("doc_fused") for f in files)
    extract_spans(spark, docs, cfg, lineage_dir=ldir,
                  checkpoint_dir=str(tmp_path / "ckpt")).collect()
    files = os.listdir(ldir)
    for stage in ("parse", "detect", "layout", "assemble"):
        assert any(f.startswith(f"{stage}-") for f in files), stage


def test_detect_lineage_clock_starts_in_the_task(spark, tmp_path):
    """The detect row's wall_ms is task time: building the stage and
    waiting before the action must not count toward it."""
    import json
    import time

    from high_performance_docling_spark.operators.stages import (
        detect_stage,
        parse_stage,
    )

    cfg = GenConfig(seed=3, n_docs=4)
    ldir = str(tmp_path / "lineage")
    docs = docs_dataframe(spark, cfg, num_partitions=2)
    detected = detect_stage(parse_stage(docs, cfg), cfg, lineage_dir=ldir)
    time.sleep(2.0)
    t0 = time.monotonic()
    detected.write.mode("overwrite").format("noop").save()
    action_ms = (time.monotonic() - t0) * 1000.0
    rows = []
    for f in os.listdir(ldir):
        if f.startswith("detect-"):
            with open(os.path.join(ldir, f)) as fh:
                rows.extend(json.loads(ln) for ln in fh)
    assert rows
    assert max(r["wall_ms"] for r in rows) <= action_ms


def test_checkpoint_recovers_from_uncommitted_write(spark, tmp_path):
    """A job killed mid-write leaves the checkpoint dir WITHOUT _SUCCESS;
    a restart must treat it as absent and rewrite, not crash."""
    cfg = GenConfig(seed=9, n_docs=4)
    ckpt = str(tmp_path / "ckpt")
    docs = docs_dataframe(spark, cfg, num_partitions=2)

    # simulate the crash artifact: pages dir exists but never committed
    crashed = os.path.join(ckpt, "pages")
    os.makedirs(os.path.join(crashed, "_temporary"))

    out = _spans(extract_spans(spark, docs, cfg, checkpoint_dir=ckpt).collect())
    assert len(out) == cfg.n_docs
    assert os.path.exists(os.path.join(crashed, "_SUCCESS"))


def test_confidence_report_on_pipeline_output(spark):
    """extract_spans(with_confidence=True) carries the ConfidenceReport
    struct (base_models.py:379-459): per-page layout/ocr scores from the
    post-processed clusters, parse (low-decile cell text quality) and
    table (mean TABLE-cluster confidence) analogues, doc roll-up =
    mean of page means / mean of page lows."""
    import math

    from high_performance_docling_spark.corpus import GenConfig
    from high_performance_docling_spark.oracle import extract_doc_result
    from high_performance_docling_spark.pipeline import (
        docs_dataframe,
        extract_spans,
    )

    cfg = GenConfig(seed=13, n_docs=10, ocr_frac=0.25, keep_empty_clusters=True)
    docs = docs_dataframe(spark, cfg, num_partitions=4)
    out = extract_spans(spark, docs, cfg, with_confidence=True).collect()
    assert len(out) == 10
    saw_ocr = False
    saw_table = False
    for row in out:
        conf = row["confidence"]
        assert conf["mean_grade"] in ("poor", "fair", "good", "excellent",
                                      "unspecified")
        assert not math.isnan(conf["mean_score"])
        pages = conf["pages"]
        assert len(pages) >= 1
        for p in pages:
            # a page with clusters has cells → parse_score set, in [0,1]
            assert p["layout_score"] is not None
            assert p["parse_score"] is not None
            assert 0.0 <= p["parse_score"] <= 1.0
            if p["table_score"] is not None:
                saw_table = True
                assert 0.0 < p["table_score"] <= 1.0
            if p["ocr_score"] is not None:
                saw_ocr = True
                assert abs(p["ocr_score"] - 0.9) < 1e-9  # synthetic OCR conf
        # doc roll-up = mean of page means / mean of page lows
        means = [p["mean_score"] for p in pages if p["mean_score"] is not None]
        lows = [p["low_score"] for p in pages if p["low_score"] is not None]
        assert abs(conf["mean_score"] - sum(means) / len(means)) < 1e-9
        assert abs(conf["low_score"] - sum(lows) / len(lows)) < 1e-9
    assert saw_ocr and saw_table
    # spot-check one doc against the serial oracle
    from high_performance_docling_spark.corpus import generate_doc

    d0 = generate_doc(cfg, 0)
    expect = extract_doc_result(d0["doc_id"], d0["spans"], cfg,
                                with_confidence=True)["confidence"]
    got = next(r["confidence"] for r in out if r["doc_id"] == d0["doc_id"])
    assert got["mean_grade"] == expect["mean_grade"]
    assert abs(got["mean_score"] - expect["mean_score"]) < 1e-12
    got_pages = {p["page_no"]: p for p in got["pages"]}
    for p in expect["pages"]:
        g = got_pages[p["page_no"]]
        for k in ("layout_score", "mean_score", "low_score"):
            assert abs(g[k] - p[k]) < 1e-12


def test_fused_lineage_reports_per_phase_timers(spark, tmp_path):
    """The fused stage writes one lineage row per internal phase (parse /
    layout_predict / layout_postprocess / table_structure / doc_assemble)
    — the reference's stage-timer dump (gpu_processor.py:333-363) as
    lineage rows; phase sums must not exceed the stage total."""
    import json

    cfg = GenConfig(seed=3, n_docs=6)
    ldir = str(tmp_path / "lineage")
    docs = docs_dataframe(spark, cfg, num_partitions=2)
    extract_spans(spark, docs, cfg, lineage_dir=ldir).collect()

    rows = []
    for f in os.listdir(ldir):
        with open(os.path.join(ldir, f)) as fh:
            rows.extend(json.loads(ln) for ln in fh)
    by_stage = {}
    for r in rows:
        by_stage.setdefault(r["stage"], 0.0)
        by_stage[r["stage"]] += r["wall_ms"]
    for phase in ("doc_fused/parse", "doc_fused/layout_predict",
                  "doc_fused/layout_postprocess",
                  "doc_fused/table_structure", "doc_fused/doc_assemble"):
        assert phase in by_stage and by_stage[phase] > 0.0, phase
    phase_sum = sum(v for k, v in by_stage.items() if k.startswith("doc_fused/"))
    assert phase_sum <= by_stage["doc_fused"] * 1.05


def test_plan_shapes_of_the_two_modes(spark, tmp_path):
    """Fused is one Python node and no Exchange; checkpointed reads the
    elements checkpoint and shuffles exactly once, on doc_id, before
    assembly."""
    cfg = GenConfig(seed=3, n_docs=8)
    src = str(tmp_path / "docs")
    docs_dataframe(spark, cfg, num_partitions=8).write.parquet(src)
    docs = spark.read.parquet(src)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    fused = plan(extract_spans(spark, docs, cfg))
    assert fused.count("MapInPandas") == 1 and "Exchange" not in fused
    ckpt = plan(extract_spans(spark, docs, cfg,
                              checkpoint_dir=str(tmp_path / "ckpt")))
    assert ckpt.count("Exchange") == 1, ckpt
    assert re.search(r"Exchange hashpartitioning\(doc_id#\d+", ckpt), ckpt
    assert ckpt.count("MapInPandas") == 1


def test_checkpointed_assembly_runs_in_one_wave(spark, tmp_path):
    """The doc_id shuffle makes one partition per core, so assembly is
    one wave of Python tasks; AQE does not coalesce a repartition(n,
    col), so the plan's partition count is the task count."""
    cfg = GenConfig(seed=3, n_docs=8)
    src = str(tmp_path / "docs")
    docs_dataframe(spark, cfg, num_partitions=8).write.parquet(src)
    out = extract_spans(spark, spark.read.parquet(src), cfg,
                        checkpoint_dir=str(tmp_path / "ckpt"))
    plan = out._jdf.queryExecution().executedPlan().toString()
    n = re.findall(r"hashpartitioning\(doc_id#\d+, (\d+)\)", plan)
    assert n == [str(spark.sparkContext.defaultParallelism)], plan


def test_checkpointed_build_runs_one_job_per_stage(spark, tmp_path):
    """Building the checkpointed frame runs the three checkpointed stages
    and nothing else: each checkpoint is read back with the stage's
    declared schema, not with a footer-reading schema-inference job."""
    cfg = GenConfig(seed=3, n_docs=8)
    src = str(tmp_path / "docs")
    docs_dataframe(spark, cfg, num_partitions=8).write.parquet(src)
    docs = spark.read.parquet(src)
    sc = spark.sparkContext
    sc.setJobGroup("checkpointed-build", "fresh checkpointed build")
    try:
        extract_spans(spark, docs, cfg, checkpoint_dir=str(tmp_path / "ckpt"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("checkpointed-build")) == 3


def test_resumed_checkpointed_build_runs_two_jobs_per_stage(spark, tmp_path):
    """Resuming over committed checkpoints runs two jobs per stage (the
    done-keys read feeding the anti-join, and the append), with no job
    to deduplicate the done keys, and still equals the oracle."""
    cfg = GenConfig(seed=3, n_docs=8)
    src = str(tmp_path / "docs")
    docs_dataframe(spark, cfg, num_partitions=8).write.parquet(src)
    docs = spark.read.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    extract_spans(spark, docs, cfg, checkpoint_dir=ckpt)
    sc = spark.sparkContext
    sc.setJobGroup("checkpointed-resume", "resumed checkpointed build")
    try:
        out = extract_spans(spark, docs, cfg, checkpoint_dir=ckpt)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("checkpointed-resume")) == 6
    got = _spans(out.collect())
    inputs = _spans(docs.collect())
    assert len(got) == cfg.n_docs
    for doc_id, in_spans in inputs.items():
        assert got[doc_id] == extract_doc_spans(doc_id, in_spans, cfg), doc_id

