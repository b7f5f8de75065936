"""Bounding-box geometry helpers (NumPy).

Boxes are (l, t, r, b) in TOP-LEFT-origin page coordinates.
``union_find_groups`` groups overlapping layout clusters; the cxcywh ↔
xyxy conversions and the batched merge follow the table model's box
format (tablemodel04_rs.py:277-339). The pairwise overlap tests
(intersection, IoU, IoS, bbox envelope) live beside their callers in
kernels/layout_postprocess.py and kernels/table_match.py.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "union_find_groups",
    "cxcywh_to_xyxy",
    "xyxy_to_cxcywh",
    "merge_bboxes_cxcywh",
]


def union_find_groups(n: int, edges: np.ndarray) -> list[list[int]]:
    """Connected components over n nodes given (E,2) edge pairs.

    Returns groups ordered by the smallest member index, members in index
    order — matching the reference UnionFind's insertion-ordered group
    output (layout_postprocessor.py:22-52) when elements are processed in
    input order.
    """
    parent = list(range(n))

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    # plain-int iteration: numpy row iteration pays an array-scalar box
    # per element; lists of pairs pass through unchanged
    if not isinstance(edges, list):
        edges = np.asarray(edges, dtype=np.int64).reshape(-1, 2).tolist()
    for i, j in edges:
        ri, rj = find(int(i)), find(int(j))
        if ri != rj:
            parent[max(ri, rj)] = min(ri, rj)

    groups: dict[int, list[int]] = {}
    for i in range(n):
        groups.setdefault(find(i), []).append(i)
    return [groups[k] for k in sorted(groups)]


def cxcywh_to_xyxy(b: np.ndarray) -> np.ndarray:
    """Center format → corner format (tablemodel04_rs.py:277-289);
    vectorized over [..., 4]."""
    b = np.asarray(b, dtype=np.float64)
    cx, cy, w, h = b[..., 0], b[..., 1], b[..., 2], b[..., 3]
    return np.stack(
        (cx - 0.5 * w, cy - 0.5 * h, cx + 0.5 * w, cy + 0.5 * h), axis=-1
    )


def xyxy_to_cxcywh(b: np.ndarray) -> np.ndarray:
    """Corner format → center format with the reference's 1e-6 min-extent
    clamp (tablemodel04_rs.py:291-303)."""
    b = np.asarray(b, dtype=np.float64)
    x1, y1, x2, y2 = b[..., 0], b[..., 1], b[..., 2], b[..., 3]
    w = np.maximum(x2 - x1, 1e-6)
    h = np.maximum(y2 - y1, 1e-6)
    return np.stack((x1 + 0.5 * w, y1 + 0.5 * h, w, h), axis=-1)


def merge_bboxes_cxcywh(b1: np.ndarray, b2: np.ndarray) -> np.ndarray:
    """Order-agnostic union of cxcywh box pairs, batched — the bbox merge
    the AR decoder applies to lcel spans (tablemodel04_rs.py:305-339
    mergebboxes / mergebboxes_batch)."""
    a = cxcywh_to_xyxy(b1)
    b = cxcywh_to_xyxy(b2)
    merged = np.stack(
        (
            np.minimum(a[..., 0], b[..., 0]),
            np.minimum(a[..., 1], b[..., 1]),
            np.maximum(a[..., 2], b[..., 2]),
            np.maximum(a[..., 3], b[..., 3]),
        ),
        axis=-1,
    )
    return xyxy_to_cxcywh(merged)
