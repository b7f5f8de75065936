"""jobs/extract_job.py run as a program over a multi-file parquet corpus:
both modes equal the serial oracle per document, and the job's session
carries get_spark's split sizing unless a ``--conf`` overrides it."""

import os
import subprocess
import sys
from pathlib import Path

from high_performance_docling_spark.corpus import GenConfig
from high_performance_docling_spark.oracle import extract_doc_result
from high_performance_docling_spark.pipeline import docs_dataframe, split_conf

REPO = Path(__file__).resolve().parents[1]
SEED = 42


def _run_job(args, submit_args=""):
    env = dict(os.environ)
    env["PYSPARK_SUBMIT_ARGS"] = f"--master local[2] {submit_args} pyspark-shell"
    r = subprocess.run(
        [sys.executable, "jobs/extract_job.py", "--seed", str(SEED), *args],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    line = next(s for s in r.stdout.splitlines() if s.startswith("split sizing: "))
    return dict(kv.split("=", 1) for kv in line.split(": ", 1)[1].split())


def _spans(rows):
    return {r["doc_id"]: [s.asDict() for s in r["spans"]] for r in rows}


def test_extract_job_both_modes_equal_the_oracle(spark, tmp_path):
    docs_path = str(tmp_path / "docs")
    docs_dataframe(spark, GenConfig(seed=SEED, n_docs=24),
                   num_partitions=3).write.parquet(docs_path)
    assert len(spark.read.parquet(docs_path).inputFiles()) == 3
    cfg = GenConfig(seed=SEED, n_docs=1)  # the job's config for --input
    want = {d: extract_doc_result(d, spans, cfg)["spans"]
            for d, spans in _spans(spark.read.parquet(docs_path).collect()).items()}

    fused_out = str(tmp_path / "fused")
    fused_conf = _run_job(["--input", docs_path, "--output", fused_out])
    assert fused_conf == split_conf()

    # a spark-submit --conf value wins over the job's default
    ckpt_out = str(tmp_path / "ckpt_out")
    key = "spark.sql.files.maxPartitionBytes"
    ckpt_conf = _run_job(
        ["--input", docs_path, "--output", ckpt_out,
         "--checkpoint-dir", str(tmp_path / "ckpt")],
        submit_args=f"--conf {key}=2m",
    )
    assert ckpt_conf == {**split_conf(), key: "2m"}

    for out in (fused_out, ckpt_out):
        assert _spans(spark.read.parquet(out).collect()) == want, out
