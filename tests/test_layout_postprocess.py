"""Unit tests for the layout post-processing kernel
(port of fork/layout/layout_postprocessor.py — see module docstring)."""

import pytest

from high_performance_docling_spark.kernels.layout_postprocess import (
    _remove_overlaps,
    _select_best,
    postprocess_page,
)
from high_performance_docling_spark.labels import OVERLAP_PARAMS


def cell(i, text, l, t, r, b, conf=1.0):
    return {
        "index": i, "text": text, "l": float(l), "t": float(t),
        "r": float(r), "b": float(b), "from_ocr": False, "confidence": conf,
    }


def det(cid, label, l, t, r, b, conf):
    return {
        "id": cid, "label": label, "l": float(l), "t": float(t),
        "r": float(r), "b": float(b), "confidence": conf,
    }


def clus(cid, label, l, t, r, b, conf, cells=()):
    return {
        "id": cid, "label": label, "l": float(l), "t": float(t),
        "r": float(r), "b": float(b), "confidence": conf,
        "cells": list(cells), "children": [], "first_cell_index": 10**18,
    }


PAGE = dict(page_width=612.0, page_height=792.0)


def test_confidence_filter_drops_low_conf():
    cells = [cell(0, "hello", 50, 50, 200, 60)]
    dets = [
        det(0, "text", 48, 48, 202, 62, 0.9),
        det(1, "text", 300, 300, 400, 320, 0.3),  # below 0.5 threshold
    ]
    out = postprocess_page(612, 792, cells, dets)
    assert [c["id"] for c in out] == [0]


def test_title_remap():
    cells = [cell(0, "Heading", 50, 50, 200, 60)]
    out = postprocess_page(612, 792, cells, [det(0, "title", 48, 48, 202, 62, 0.8)])
    assert out[0]["label"] == "section_header"


def test_empty_cluster_dropped_formula_kept():
    dets = [det(0, "text", 300, 300, 400, 320, 0.9),
            det(1, "formula", 100, 500, 200, 520, 0.9)]
    out = postprocess_page(612, 792, [], dets)
    assert [c["label"] for c in out] == ["formula"]


def test_orphan_cells_become_text_clusters():
    cells = [cell(5, "orphan line", 50, 700, 300, 711)]
    out = postprocess_page(612, 792, cells, [])
    assert len(out) == 1
    c = out[0]
    assert c["label"] == "text" and c["id"] == 1
    assert (c["l"], c["t"], c["r"], c["b"]) == (50, 700, 300, 711)
    assert [x["index"] for x in c["cells"]] == [5]


def test_cell_argmax_assignment_and_envelope_adjust():
    cells = [cell(0, "a", 50, 50, 200, 61), cell(1, "b", 50, 64, 180, 75)]
    # jittered outward box — envelope adjust must shrink to the cells
    out = postprocess_page(612, 792, cells, [det(0, "text", 47, 46, 205, 78, 0.9)])
    c = out[0]
    assert [x["index"] for x in c["cells"]] == [0, 1]
    assert (c["l"], c["t"], c["r"], c["b"]) == (50, 50, 200, 75)


def test_full_page_picture_filtered():
    out = postprocess_page(
        612, 792, [], [det(0, "picture", 2, 2, 610, 790, 0.95)]
    )
    assert out == []


def test_picture_duplicate_merged_keeps_larger():
    dets = [
        det(0, "picture", 100, 100, 300, 250, 0.8),
        det(1, "picture", 102, 102, 298, 248, 0.7),
    ]
    out = postprocess_page(612, 792, [], dets)
    assert len(out) == 1 and out[0]["id"] == 0


def test_table_collects_orphan_children():
    # table interior word cells have no regular detection: they orphan into
    # singleton TEXT clusters, then become the TABLE's children
    cells = [
        cell(0, "w00", 110, 110, 150, 121), cell(1, "w01", 210, 110, 250, 121),
        cell(2, "w10", 110, 130, 150, 141), cell(3, "w11", 210, 130, 250, 141),
    ]
    out = postprocess_page(612, 792, cells, [det(0, "table", 100, 100, 300, 150, 0.9)])
    assert len(out) == 1
    tb = out[0]
    assert tb["label"] == "table"
    assert [x["index"] for x in tb["cells"]] == [0, 1, 2, 3]
    assert len(tb["children"]) == 4


def test_form_wrapper_children_and_bbox():
    cells = [cell(0, "line one", 50, 100, 250, 111), cell(1, "line two", 50, 130, 260, 141)]
    dets = [
        det(0, "text", 50, 100, 250, 111, 0.9),
        det(1, "text", 50, 130, 260, 141, 0.9),
        det(2, "form", 45, 95, 270, 146, 0.8),
    ]
    out = postprocess_page(612, 792, cells, dets)
    assert len(out) == 1
    form = out[0]
    assert form["label"] == "form"
    # FORM bbox tightens to the children envelope (:516-523)
    assert (form["l"], form["t"], form["r"], form["b"]) == (50, 100, 260, 141)
    assert [ch["id"] for ch in form["children"]] == [0, 1]
    assert [x["index"] for x in form["cells"]] == [0, 1]


def test_final_sort_first_cell_index_then_geometry():
    cells = [
        cell(0, "first", 50, 200, 200, 211),   # later on page but earlier index
        cell(1, "second", 50, 100, 200, 111),
    ]
    dets = [
        det(0, "text", 50, 100, 200, 111, 0.9),
        det(1, "text", 50, 200, 200, 211, 0.9),
    ]
    out = postprocess_page(612, 792, cells, dets)
    # cluster with cell index 0 sorts first despite lower position
    assert [c["cells"][0]["index"] for c in out] == [0, 1]


def test_select_best_list_item_survives_conf_rejection_via_rule1():
    # LIST_ITEM with much lower confidence over a similar-area TEXT would be
    # rejected by the fallback conf rule, but rule 1 (:592-599) keeps it;
    # listed first, it then wins the group (larger area never displaces it).
    b = clus(1, "list_item", 0, 0, 101, 100, 0.6)
    a = clus(0, "text", 0, 0, 100, 100, 0.9)
    best = _select_best([b, a], OVERLAP_PARAMS["regular"])
    assert best["label"] == "list_item"


def test_select_best_higher_conf_list_item_wins_any_order():
    a = clus(0, "text", 0, 0, 100, 100, 0.6)
    b = clus(1, "list_item", 0, 0, 101, 100, 0.9)
    assert _select_best([a, b], OVERLAP_PARAMS["regular"])["label"] == "list_item"
    assert _select_best([b, a], OVERLAP_PARAMS["regular"])["label"] == "list_item"


def test_select_best_confidence_rule():
    # similar areas, big confidence gap → higher confidence wins
    a = clus(0, "text", 0, 0, 100, 100, 0.95)
    b = clus(1, "text", 0, 0, 101, 100, 0.6)
    best = _select_best([a, b], OVERLAP_PARAMS["regular"])
    assert best["id"] == 0


def test_remove_overlaps_merges_cells():
    a = clus(0, "text", 0, 0, 100, 60, 0.9, [cell(0, "x", 1, 1, 99, 10)])
    b = clus(1, "text", 0, 0, 100, 62, 0.9, [cell(1, "y", 1, 50, 99, 60)])
    c = clus(2, "text", 300, 300, 400, 340, 0.9, [cell(2, "z", 301, 301, 399, 339)])
    out, merged = _remove_overlaps([a, b, c], "regular", epsilon=1e-4)
    assert merged and len(out) == 2
    big = next(x for x in out if x["id"] in (0, 1))
    assert [cc["index"] for cc in big["cells"]] == [0, 1]


def test_sort_clusters_modes():
    """layout_postprocessor.py:1053-1075: id / tblr / lrtb sort modes."""
    from high_performance_docling_spark.kernels.layout_postprocess import (
        sort_clusters,
    )

    mk = lambda i, fci, t, l: {"id": i, "first_cell_index": fci, "t": t, "l": l}  # noqa: E731
    cl = [mk(0, 9, 10.0, 200.0), mk(1, 2, 50.0, 10.0), mk(2, 5, 10.0, 10.0)]
    assert [c["id"] for c in sort_clusters(cl, "id")] == [1, 2, 0]
    assert [c["id"] for c in sort_clusters(cl, "tblr")] == [2, 0, 1]
    assert [c["id"] for c in sort_clusters(cl, "lrtb")] == [2, 1, 0]
    assert sort_clusters(cl, "nope") == cl  # unknown mode: input order


def test_stable_sort_detections_compat():
    """layout_predictor_gpu.py:160-172: (label, -conf, l, t, r, b) stable."""
    from high_performance_docling_spark.kernels.layout_postprocess import (
        stable_sort_detections,
    )

    d = lambda i, lab, conf, l, t: {"id": i, "label": lab, "confidence": conf,  # noqa: E731
                                    "l": l, "t": t, "r": l + 10, "b": t + 10}
    dets = [
        d(0, "text", 0.7, 5, 5),
        d(1, "table", 0.9, 0, 0),
        d(2, "text", 0.9, 9, 0),
        d(3, "text", 0.9, 1, 0),
    ]
    out = stable_sort_detections(dets)
    assert [x["id"] for x in out] == [1, 3, 2, 0]  # label, then -conf, then l


def test_bbox_convert_and_merge():
    """tablemodel04_rs.py:277-339: cxcywh<->xyxy with 1e-6 clamp, batched
    order-agnostic union merge."""
    import numpy as np

    from high_performance_docling_spark.geometry import (
        cxcywh_to_xyxy,
        merge_bboxes_cxcywh,
        xyxy_to_cxcywh,
    )

    xyxy = cxcywh_to_xyxy([5.0, 5.0, 4.0, 2.0])
    assert xyxy.tolist() == [3.0, 4.0, 7.0, 6.0]
    back = xyxy_to_cxcywh(xyxy)
    assert np.allclose(back, [5.0, 5.0, 4.0, 2.0])
    # degenerate extent clamps to 1e-6, never zero/negative
    degen = xyxy_to_cxcywh([3.0, 4.0, 3.0, 4.0])
    assert degen[2] == 1e-6 and degen[3] == 1e-6
    m1 = merge_bboxes_cxcywh([5.0, 5.0, 4.0, 2.0], [10.0, 5.0, 2.0, 2.0])
    m2 = merge_bboxes_cxcywh([10.0, 5.0, 2.0, 2.0], [5.0, 5.0, 4.0, 2.0])
    assert np.allclose(m1, m2)  # order-agnostic
    assert np.allclose(cxcywh_to_xyxy(m1), [3.0, 4.0, 11.0, 6.0])
    batch = merge_bboxes_cxcywh(
        np.array([[5.0, 5.0, 4.0, 2.0]] * 3), np.array([[10.0, 5.0, 2.0, 2.0]] * 3)
    )
    assert batch.shape == (3, 4) and np.allclose(batch[0], m1)


def test_fmt_secs_and_safe_id():
    from high_performance_docling_spark.util import fmt_secs, safe_id

    assert fmt_secs(0.0852) == "85.2 ms"
    assert fmt_secs(2.31) == "2.31 s"
    assert safe_id("https://ex.com/a b/c.pdf?x=1") == "https_ex.com_a_b_c.pdf_x_1"


def test_postfilter_detections():
    """layout_predictor_gpu.py:303-312: blacklist drop, base-threshold
    drop, bbox clamp to the page — before per-label thresholds."""
    from high_performance_docling_spark.kernels.layout_postprocess import (
        postfilter_detections,
    )

    dets = [
        {"id": 0, "label": "text", "l": -5.0, "t": -2.0, "r": 700.0, "b": 900.0,
         "confidence": 0.9},
        {"id": 1, "label": "text", "l": 10.0, "t": 10.0, "r": 20.0, "b": 20.0,
         "confidence": 0.29},  # below base threshold
        {"id": 2, "label": "key_value_region", "l": 0.0, "t": 0.0, "r": 9.0,
         "b": 9.0, "confidence": 0.9},  # blacklisted
    ]
    out = postfilter_detections(dets, 612.0, 792.0,
                                blacklist=frozenset({"key_value_region"}))
    assert [d["id"] for d in out] == [0]
    assert (out[0]["l"], out[0]["t"], out[0]["r"], out[0]["b"]) == (0.0, 0.0, 612.0, 792.0)
    # idempotent
    assert postfilter_detections(out, 612.0, 792.0) == out


@pytest.mark.filterwarnings("error::RuntimeWarning")
def test_select_best_big_group_vectorized_parity():
    """The >64-member vectorized exclusion scan in _select_best must pick
    EXACTLY the cluster the reference pairwise loop picks — property-
    checked over random groups straddling the cutover, including
    LIST_ITEM/CODE members (which keep the loop path) and zero-area
    boxes. RuntimeWarnings are ERRORS here (VERDICT r5 #6): the masked
    divide must stay silent even for 0/0 area ratios."""
    import random as _random

    from high_performance_docling_spark.kernels.layout_postprocess import (
        _select_best,
        _should_prefer,
    )
    from high_performance_docling_spark.labels import OVERLAP_PARAMS

    def reference_select(group, params):
        best = None
        for candidate in group:
            if any(
                other is not candidate
                and not _should_prefer(candidate, other, params)
                for other in group
            ):
                continue
            if best is None:
                best = candidate
            elif (
                (candidate["r"] - candidate["l"]) * (candidate["b"] - candidate["t"])
                > (best["r"] - best["l"]) * (best["b"] - best["t"])
                and best["confidence"] - candidate["confidence"]
                <= params["conf_threshold"]
            ):
                best = candidate
        return best if best is not None else group[0]

    rng = _random.Random(99)
    labels = ["text", "formula", "list_item", "code", "section_header"]
    for trial in range(40):
        n = rng.choice([3, 64, 65, 80, 200])
        group = []
        for i in range(n):
            l, t = rng.uniform(0, 500), rng.uniform(0, 700)
            w = rng.choice([0.0, rng.uniform(0.5, 200)])
            h = rng.uniform(0.5, 60)
            group.append({
                "id": i,
                "label": rng.choice(labels),
                "l": l, "t": t, "r": l + w, "b": t + h,
                "confidence": round(rng.uniform(0.3, 1.0), 3),
                "cells": [], "children": [],
            })
        for family in ("regular", "picture", "wrapper"):
            params = OVERLAP_PARAMS[family]
            assert _select_best(group, params) is reference_select(group, params), (
                trial, family, n,
            )


def test_grid_index_edges_match_sweep():
    """Grid candidate pruning (pages past GRID_CUTOVER) must yield
    EXACTLY the top-edge sweep's edge set (every smaller page), same
    thresholds/epsilon, on dense random boxes."""
    import numpy as np

    from high_performance_docling_spark.kernels.layout_postprocess import (
        _overlap_edges_py,
    )
    from high_performance_docling_spark.kernels.spatial_index import (
        overlap_edges_grid,
    )

    rng = np.random.default_rng(3)
    for trial, (n, span) in enumerate([(300, 200.0), (1500, 400.0)]):
        xy = rng.uniform(0, span, (n, 2))
        wh = rng.uniform(0.0, 40.0, (n, 2))
        boxes = np.concatenate([xy, xy + wh], axis=1)
        boxes[:7, 2] = boxes[:7, 0]  # degenerate zero-area boxes
        clusters = [dict(zip("ltrb", b)) for b in boxes.tolist()]
        for eps in (0.0, 0.01):
            sweep = _overlap_edges_py(clusters, 0.8 - eps, 0.8 - eps)
            grid = overlap_edges_grid(boxes, 0.8, 0.8, eps)
            assert sweep == sorted(map(tuple, grid.tolist())), (trial, eps)


def test_grid_path_handles_pathological_page():
    """>10^4 clusters: a dense pairwise matrix would hold 10^8 elements;
    the grid path must produce correct groups in reasonable time."""
    import time

    import numpy as np

    from high_performance_docling_spark.geometry import union_find_groups
    from high_performance_docling_spark.kernels.spatial_index import (
        overlap_edges_grid,
    )

    n = 20000
    rng = np.random.default_rng(5)
    # pairs of near-identical boxes -> n/2 groups of 2
    base = np.concatenate(
        [rng.uniform(0, 5000, (n // 2, 2)),
         np.zeros((n // 2, 2))], axis=1)
    base[:, 2] = base[:, 0] + 20
    base[:, 3] = base[:, 1] + 10
    dup = base + rng.uniform(-0.5, 0.5, base.shape)
    boxes = np.concatenate([base, dup], axis=0)
    t0 = time.monotonic()
    edges = overlap_edges_grid(boxes, 0.8, 0.8, 0.0)
    groups = union_find_groups(n, edges)
    dt = time.monotonic() - t0
    n_pairs = sum(1 for g in groups if len(g) >= 2)
    assert n_pairs >= 0.95 * (n // 2)  # random jitter keeps most pairs
    assert dt < 30.0, f"grid path too slow: {dt:.1f}s"


def test_postfilter_then_postprocess_equals_postprocess_on_corpus_pages():
    """postprocess_page's fused filter and postfilter_detections share
    BASE_THRESHOLD and clamp arithmetic: pre-filtering changes nothing.
    Noisy corpus pages get planted proposals below, at and above the
    threshold, some spilling off the page, so both paths drop and clamp."""
    from high_performance_docling_spark.corpus import (
        GenConfig,
        generate_doc,
        synth_detections,
        typeset,
    )
    from high_performance_docling_spark.kernels.layout_postprocess import (
        BASE_THRESHOLD,
        postfilter_detections,
    )

    dropped = clamped = 0
    for cfg in (GenConfig(seed=42, n_docs=6, noise=True),
                GenConfig(seed=21, n_docs=6, noise=True, ocr_frac=0.3,
                          keep_empty_clusters=True)):
        for i in range(cfg.n_docs):
            d = generate_doc(cfg, i)
            for p in typeset(d["doc_id"], d["spans"], cfg):
                dets = synth_detections(d["doc_id"], p, cfg)
                n = len(dets)
                # orphan clusters are numbered after the largest surviving
                # id, so the sub-threshold proposal carries the largest id
                for k, conf in enumerate((0.9, BASE_THRESHOLD,
                                          BASE_THRESHOLD - 0.05)):
                    src = dets[k % n]
                    dets.append({**src, "id": 1000 * (k + 1), "confidence": conf,
                                 "l": -5.0, "r": p.width + 12.0})
                filtered = postfilter_detections(dets, p.width, p.height)
                dropped += len(dets) - len(filtered)
                clamped += sum(f["l"] == 0.0 and f["r"] == p.width
                               for f in filtered)
                kw = dict(keep_empty_clusters=cfg.keep_empty_clusters)
                assert postprocess_page(p.width, p.height, p.cells, dets, **kw) \
                    == postprocess_page(p.width, p.height, p.cells, filtered,
                                        **kw), (d["doc_id"], p.page_no)
    assert dropped > 0 and clamped > 0
