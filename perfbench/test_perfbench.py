"""Toy-size checks of the benchmark itself.

    python3 -m pytest perfbench -q

The output check must count a corrupted, missing or duplicated document,
and a toy run must print every metric BENCHMARK.json names, with its unit.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from perfbench import check  # noqa: E402


def _oracle_rows(n: int) -> list[tuple[str, list[dict]]]:
    from high_performance_docling_spark.corpus import GenConfig, generate_doc
    from high_performance_docling_spark.oracle import extract_doc_result

    cfg = GenConfig(seed=7, n_docs=n)
    rows = []
    for i in range(n):
        doc = generate_doc(cfg, i)
        rows.append((doc["doc_id"],
                     extract_doc_result(doc["doc_id"], doc["spans"], cfg)["spans"]))
    return rows


def _write_output(path: Path, rows) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from high_performance_docling_spark.schemas import SPANS_OUT_SCHEMA

    path.mkdir()
    table = pa.Table.from_pylist(
        [{"doc_id": d, "spans": s} for d, s in rows],
        schema=to_arrow_schema(SPANS_OUT_SCHEMA))
    pq.write_table(table, path / "part-00000.parquet")


def test_corrupted_span_output_counts_as_failed(tmp_path):
    rows = _oracle_rows(6)
    expected = {d: check.span_digest(s) for d, s in rows}

    _write_output(tmp_path / "good", rows)
    assert check.count_failed(expected, check.read_output(str(tmp_path / "good"))) == 0

    corrupted = [(d, [dict(x) for x in s]) for d, s in rows]
    corrupted[2][1][0]["text"] += " (corrupted)"
    _write_output(tmp_path / "bad", corrupted)
    failed = check.count_failed(expected, check.read_output(str(tmp_path / "bad")))
    assert failed == 1
    assert failed / len(expected) == pytest.approx(1 / 6)  # failed_frac

    swapped = [(d, [dict(x) for x in s]) for d, s in rows]
    s0 = swapped[0][1]
    s0[0]["order"], s0[1]["order"] = s0[1]["order"], s0[0]["order"]
    missing_and_dup = swapped[:4] + [rows[3], ("doc-unknown", rows[0][1])]
    # doc 0 reordered, doc 3 twice, docs 4-5 missing, one unknown doc
    assert check.count_failed(expected, missing_and_dup) == 5


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.02"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


@pytest.mark.parametrize("workload,trace", [("fused", 0), ("checkpointed_skew", 1)])
def test_toy_run_prints_every_metric_with_unit(workload, trace):
    spec = json.loads((REPO / "BENCHMARK.json").read_text())
    metrics = spec["per_layer" if trace else "end_to_end"]
    lines, result = _run(workload, trace)

    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0
    assert result["attempted"] >= 1
    assert set(result["metrics"]) == {m["name"] for m in metrics}
    printed = {ln.split()[1]: ln.split()[3] for ln in lines if ln.startswith("metric ")}
    for m in metrics:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert printed[m["name"]] == m["unit"]
        assert isinstance(result["metrics"][m["name"]]["value"], (int, float))
    values = {k: v["value"] for k, v in result["metrics"].items()}
    if trace == 0:
        assert all(v > 0 for v in values.values())
    else:
        assert values["pipeline.resume_redo_docs"] == 0
        # layers that do work on checkpointed_skew: a wrapper that failed
        # to install in the workers would leave them at 0
        for name in TRACED_WORK:
            assert values[name] > 0, name
        assert values["pipeline.exchanges"] >= 1


TRACED_WORK = (
    "corpus.typeset.ms_per_doc",
    "layout_postprocess.postprocess_page.ms_per_page",
    "table_decode.tables",
    "reading_order.assemble_spans.ms_per_doc",
    "assemble.assemble_page_elements.ms_per_page",
    "convert.apply_ocr.crops",
    "model_harness.forward_calls",
    "model_harness.padded_frac",
    "stages.task_ms_per_doc",
    "stages.shuffle_write_bytes",
    "stages.output_bytes",
)


def test_install_wraps_every_traced_function():
    """In a fresh interpreter, as in a Python worker: every traced
    function is replaced, also where a module imported it by name, and a
    second install wraps nothing twice."""
    code = """
import importlib, json
from perfbench import layers
from high_performance_docling_spark.kernels import convert
layers.install()
layers.install()
out = {}
for name, (mod, attr), _ in layers.TRACED:
    owner = importlib.import_module(layers.PACKAGE + "." + mod)
    for part in attr.split("."):
        owner = getattr(owner, part)
    out[name] = getattr(owner, "perfbench_layer", None)
    out[name + ".once"] = not hasattr(owner.__wrapped__, "perfbench_layer")
# convert imported postprocess_page by name
out["by_name"] = getattr(convert.postprocess_page, "perfbench_layer", None)
print(json.dumps(out))
"""
    proc = subprocess.run([sys.executable, "-c", code], cwd=REPO,
                          capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    from perfbench.layers import TRACED

    for name, _, _ in TRACED:
        assert out[name] == name
        assert out[name + ".once"] is True
    assert out["by_name"] == "layout_postprocess.postprocess_page"
