"""Golden-output regression gate (the reference's primary test strategy,
SURVEY.md §5): frozen canonical span fixtures with sha256 compare,
tolerance zero. A semantics change in any kernel fails here."""

import json
import os

from high_performance_docling_spark.corpus import GenConfig, generate_doc
from high_performance_docling_spark.oracle import extract_doc_spans
from high_performance_docling_spark.testing.regression import (
    KERNEL_GOLDEN_CORPORA,
    canonical_layout,
    canonical_table_cells,
    kernel_golden_hashes,
    layout_matches,
    spans_hash,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "goldens", "spans_seed42.json")


def test_spans_match_frozen_goldens():
    with open(GOLDEN) as f:
        golden = json.load(f)
    cfg = GenConfig(seed=42, n_docs=10)
    for i in range(10):
        d = generate_doc(cfg, i)
        out = extract_doc_spans(d["doc_id"], d["spans"], cfg)
        g = golden[d["doc_id"]]
        assert len(out) == g["n_spans"], d["doc_id"]
        assert spans_hash(out) == g["hash"], d["doc_id"]
        assert [
            {"kind": s["kind"], "text": s["text"],
             "media_ref": s["media_ref"], "order": s["order"]}
            for s in out
        ] == g["spans"], d["doc_id"]


def test_kernel_outputs_match_frozen_hashes():
    """Bit-exactness gate for kernel edits: the pickled oracle results
    (spans + confidence) over the three KERNEL_GOLDEN_CORPORA hash to the
    values frozen in goldens/kernel_hashes.json. `python bench_extra.py
    golden` checks the same file."""
    with open(os.path.join(os.path.dirname(__file__), "goldens",
                           "kernel_hashes.json")) as f:
        frozen = json.load(f)
    assert len(frozen) == len(KERNEL_GOLDEN_CORPORA) == 3
    assert kernel_golden_hashes() == frozen


def test_enriched_profile_spans_match_goldens_all_modes(spark, tmp_path):
    """Docling-parity output profile (VERDICT r4 #4): enrichment ON +
    merges + markers; the tested invariant is the ENRICHED span sequence
    (spans_enriched_seed42.json) — serial oracle, fused, checkpointed,
    and a checkpointed rerun resumed from its committed checkpoints all
    produce it exactly."""
    from high_performance_docling_spark.corpus import docling_parity_config
    from high_performance_docling_spark.pipeline import (
        docs_dataframe,
        extract_spans,
    )

    with open(os.path.join(os.path.dirname(__file__), "goldens",
                           "spans_enriched_seed42.json")) as f:
        golden = json.load(f)
    cfg = docling_parity_config(seed=42, n_docs=10)
    assert cfg.enrich_formulas and cfg.enable_merges and cfg.process_list_markers

    def norm(rows):
        return {
            r["doc_id"]: [
                {"kind": s["kind"], "text": s["text"],
                 "media_ref": s["media_ref"], "order": s["order"]}
                for s in r["spans"]
            ]
            for r in rows
        }

    want = {doc_id: g["spans"] for doc_id, g in golden.items()}

    # serial oracle
    serial = {}
    for i in range(10):
        d = generate_doc(cfg, i)
        serial[d["doc_id"]] = [
            {"kind": s["kind"], "text": s["text"],
             "media_ref": s["media_ref"], "order": s["order"]}
            for s in extract_doc_spans(d["doc_id"], d["spans"], cfg)
        ]
    assert serial == want

    docs = docs_dataframe(spark, cfg, num_partitions=4)
    ckpt = str(tmp_path / "ckpt")
    for mode, kw in (
        ("fused", {}),
        ("checkpointed", {"checkpoint_dir": ckpt}),
        ("checkpointed-resumed", {"checkpoint_dir": ckpt}),
    ):
        got = norm(extract_spans(spark, docs, cfg, **kw).collect())
        assert got == want, mode

    # non-vacuous: the profile's output DIFFERS from the raw profile on
    # formula spans (enrichment actually ran)
    n_formula = sum(1 for spans in want.values()
                    for s in spans if s["kind"] == "formula")
    assert n_formula > 0
    raw_cfg = docling_parity_config(seed=42, n_docs=10, enrich_formulas=False)
    diffs = []
    for i in range(10):
        d = generate_doc(raw_cfg, i)
        raw = extract_doc_spans(d["doc_id"], d["spans"], raw_cfg)
        diffs += [
            (a["text"], b["text"])
            for a, b in zip(raw, want[d["doc_id"]])
            if a["kind"] == "formula" and a["text"] != b["text"]
        ]
    assert diffs, "enrichment changed no formula span in the golden corpus"


def test_layout_matcher_tolerates_small_shift():
    golden = [{"label": "text", "l": 10, "t": 10, "r": 110, "b": 40}]
    close = [{"label": "text", "l": 11, "t": 10.5, "r": 111, "b": 40.2}]
    far = [{"label": "text", "l": 200, "t": 10, "r": 300, "b": 40}]
    ok, _ = layout_matches(golden, close)
    assert ok
    ok, problems = layout_matches(golden, far)
    assert not ok and problems


def test_canonical_layout_sorted():
    rows = canonical_layout(
        [
            {"label": "text", "l": 5, "t": 50, "r": 10, "b": 60},
            {"label": "text", "l": 5, "t": 10, "r": 10, "b": 20},
            {"label": "caption", "l": 5, "t": 90, "r": 10, "b": 95},
        ]
    )
    assert [r["label"] for r in rows] == ["caption", "text", "text"]
    assert rows[1]["bbox"][1] == 10


def test_canonical_table_cells_shape():
    cells = [
        {
            "start_row_offset_idx": 0, "start_col_offset_idx": 1,
            "end_row_offset_idx": 1, "end_col_offset_idx": 2,
            "row_span": 1, "col_span": 1,
            "column_header": True, "row_header": False, "row_section": False,
            "bbox": {"l": 1.234, "t": 2.345, "r": 3.456, "b": 4.567},
            "text_cell_bboxes": [{"token": "hi"}],
        }
    ]
    [row] = canonical_table_cells(cells)
    assert row["token"] == "hi" and row["bbox"] == [1.23, 2.35, 3.46, 4.57]


def test_layout_stage_matches_frozen_goldens():
    """Stage-level golden: canonical layout of post-processed clusters
    (FIXTURES.md §6 golden_layout, reference layout_regression_runner
    format)."""
    from high_performance_docling_spark.corpus import (
        GenConfig, generate_doc, synth_detections, typeset,
    )
    from high_performance_docling_spark.kernels.layout_postprocess import (
        postprocess_page,
    )

    with open(os.path.join(os.path.dirname(__file__), "goldens",
                           "layout_seed42.json")) as f:
        golden = json.load(f)
    cfg = GenConfig(seed=42, n_docs=6)
    for i in range(6):
        d = generate_doc(cfg, i)
        for p in typeset(d["doc_id"], d["spans"], cfg)[:2]:
            dets = synth_detections(d["doc_id"], p, cfg)
            clusters = postprocess_page(p.width, p.height, p.cells, dets)
            key = f"{d['doc_id']}:p{p.page_no}"
            assert canonical_layout(clusters) == golden[key], key


def test_table_stage_matches_frozen_goldens():
    """Stage-level golden: canonical table-cell grids + hashes
    (FIXTURES.md §6 golden_tables, reference table_regression_runner
    format)."""
    from high_performance_docling_spark.corpus import (
        GenConfig, generate_doc, synth_detections, typeset,
    )
    from high_performance_docling_spark.kernels.layout_postprocess import (
        postprocess_page,
    )
    from high_performance_docling_spark.kernels.table_decode import (
        table_structure_for_tokens,
    )
    from high_performance_docling_spark.testing.regression import table_hash

    with open(os.path.join(os.path.dirname(__file__), "goldens",
                           "tables_seed42.json")) as f:
        golden = json.load(f)
    cfg = GenConfig(seed=42, n_docs=6)
    seen = 0
    for i in range(6):
        d = generate_doc(cfg, i)
        for p in typeset(d["doc_id"], d["spans"], cfg)[:2]:
            dets = synth_detections(d["doc_id"], p, cfg)
            for cl in postprocess_page(p.width, p.height, p.cells, dets):
                if cl["label"] in ("table", "document_index") and cl["cells"]:
                    toks = [
                        {"id": c["index"], "text": c["text"],
                         "bbox": [c["l"], c["t"], c["r"], c["b"]]}
                        for c in cl["cells"]
                    ]
                    res = table_structure_for_tokens(
                        [cl["l"], cl["t"], cl["r"], cl["b"]], toks
                    )
                    if res is None:
                        continue
                    key = f"{d['doc_id']}:p{p.page_no}:c{cl['id']}"
                    assert table_hash(res["tf_cells"]) == golden[key]["hash"], key
                    assert (res["num_rows"], res["num_cols"]) == (
                        golden[key]["num_rows"], golden[key]["num_cols"],
                    ), key
                    seen += 1
    assert seen == len(golden)
