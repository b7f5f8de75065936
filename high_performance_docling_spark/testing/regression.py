"""Golden-output canonicalization, hashing and tolerant comparison.

Ports of the reference's regression runners:
  - span/doc canonical JSON + sha256 gate (the span analogue of
    table_regression_runner.py:86-97, tolerance ZERO per FIXTURES.md §5)
  - layout canonicalization (label, bbox@2dp) sorted by (label, t, l) and
    greedy per-label IoU matching with threshold 0.7
    (layout_regression_runner.py:10-13, 41-117)
  - table-cell canonicalization (sr, sc, er, ec, spans, headers, bbox@2dp,
    token) sorted by (sr, sc, er, ec) (table_regression_runner.py:53-84)
"""

from __future__ import annotations

import hashlib
import json
from typing import Any


def canonical_spans(spans: list[dict[str, Any]]) -> str:
    """Compact, key-sorted JSON of an ordered span list."""
    return json.dumps(
        [
            {
                "kind": s["kind"],
                "text": s["text"],
                "media_ref": s["media_ref"],
                "order": int(s["order"]),
            }
            for s in sorted(spans, key=lambda s: s["order"])
        ],
        sort_keys=True,
        separators=(",", ":"),
        ensure_ascii=False,
    )


def spans_hash(spans: list[dict[str, Any]]) -> str:
    return hashlib.sha256(canonical_spans(spans).encode("utf-8")).hexdigest()


def canonical_layout(clusters: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """(label, bbox rounded 2dp) sorted by (label, t, l)
    (layout_regression_runner.py:41-57)."""
    rows = [
        {
            "label": c["label"],
            "bbox": [round(float(c[k]), 2) for k in ("l", "t", "r", "b")],
        }
        for c in clusters
    ]
    rows.sort(key=lambda r: (r["label"], r["bbox"][1], r["bbox"][0]))
    return rows


def _iou(a: list[float], b: list[float]) -> float:
    iw = min(a[2], b[2]) - max(a[0], b[0])
    ih = min(a[3], b[3]) - max(a[1], b[1])
    if iw <= 0 or ih <= 0:
        return 0.0
    inter = iw * ih
    ua = (a[2] - a[0]) * (a[3] - a[1]) + (b[2] - b[0]) * (b[3] - b[1]) - inter
    return inter / ua if ua > 0 else 0.0


def layout_matches(
    golden: list[dict[str, Any]],
    got: list[dict[str, Any]],
    iou_threshold: float = 0.7,
) -> tuple[bool, list[str]]:
    """Greedy per-label IoU matching (layout_regression_runner.py:
    59-117): every golden cluster must match an unused got-cluster of the
    same label with IoU >= threshold, and counts must agree."""
    problems: list[str] = []
    if len(golden) != len(got):
        problems.append(f"cluster count {len(got)} != golden {len(golden)}")
    used: set[int] = set()
    got_canon = canonical_layout(got)
    for g in canonical_layout(golden):
        best, best_iou = None, 0.0
        for i, h in enumerate(got_canon):
            if i in used or h["label"] != g["label"]:
                continue
            iou = _iou(g["bbox"], h["bbox"])
            if iou > best_iou:
                best, best_iou = i, iou
        if best is None or best_iou < iou_threshold:
            problems.append(f"unmatched golden cluster {g}")
        else:
            used.add(best)
    return not problems, problems


def canonical_table_cells(tf_cells: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """(sr, sc, er, ec, spans, headers, bbox@2dp, token) sorted by
    (sr, sc, er, ec) (table_regression_runner.py:53-84)."""
    rows = []
    for c in tf_cells:
        bbox = c.get("bbox") or {}
        rows.append(
            {
                "sr": c["start_row_offset_idx"],
                "sc": c["start_col_offset_idx"],
                "er": c["end_row_offset_idx"],
                "ec": c["end_col_offset_idx"],
                "row_span": c["row_span"],
                "col_span": c["col_span"],
                "col_header": bool(c["column_header"]),
                "row_header": bool(c["row_header"]),
                "row_section": bool(c["row_section"]),
                "bbox": [round(float(bbox.get(k, 0.0)), 2) for k in ("l", "t", "r", "b")],
                "token": " ".join(
                    t["token"] for t in c.get("text_cell_bboxes", []) if t.get("token")
                ),
            }
        )
    rows.sort(key=lambda r: (r["sr"], r["sc"], r["er"], r["ec"]))
    return rows


def table_hash(tf_cells: list[dict[str, Any]]) -> str:
    blob = json.dumps(
        canonical_table_cells(tf_cells), sort_keys=True, separators=(",", ":")
    )
    return hashlib.sha256(blob.encode("utf-8")).hexdigest()


# Corpora whose serial oracle outputs (spans + confidence, pickled) are
# frozen in tests/goldens/kernel_hashes.json: the default corpus, a
# mega-page one, and one with checkpointed_skew's generator settings
# (OCR crops, kept empty clusters). Any kernel edit must leave all three
# hashes unchanged.
KERNEL_GOLDEN_CORPORA: tuple[dict[str, Any], ...] = (
    dict(seed=42, n_docs=300),
    dict(seed=7, n_docs=120, mega_frac=0.04, mega_pages=32),
    dict(seed=1, n_docs=150, mega_frac=0.04, mega_pages=32, ocr_frac=0.2,
         keep_empty_clusters=True),
)


def kernel_golden_hashes() -> dict[str, str]:
    """sha256 of the pickled oracle results per KERNEL_GOLDEN_CORPORA
    entry, keyed by the entry's sorted-key JSON."""
    import pickle

    from ..corpus import GenConfig, generate_corpus
    from ..oracle import extract_doc_result

    out = {}
    for kwargs in KERNEL_GOLDEN_CORPORA:
        cfg = GenConfig(**kwargs)
        res = [
            extract_doc_result(d["doc_id"], d["spans"], cfg,
                               with_confidence=True)
            for d in generate_corpus(cfg)
        ]
        key = json.dumps(kwargs, sort_keys=True)
        out[key] = hashlib.sha256(pickle.dumps(res)).hexdigest()
    return out
