"""Uniform-grid spatial index for pathological page cardinalities.

The reference accelerates its overlap dedup with an R-tree + interval
trees (fork/layout/layout_postprocessor.py:55-221, rtree/intervaltree
libraries). This engine's default is a pure-Python top-edge sweep
(``layout_postprocess._overlap_edges_py``), measured faster than both a
dense NumPy pairwise mask and this index up to a few thousand boxes. The
sweep's work grows with how many boxes share a vertical band, though, so
beyond ``GRID_CUTOVER`` boxes (scanned books, table-heavy mega-pages)
``layout_postprocess`` switches to this index: a uniform grid of buckets
keyed by box extent, O(n) build, candidates = boxes sharing a bucket.
Any pair passing the overlap criterion geometrically intersects
(IoU/containment thresholds are > 0), and intersecting boxes always
share a bucket, so the pruned edge set is EXACTLY the sweep's edge set
(parity-asserted in tests/test_layout_postprocess.py).
"""

from __future__ import annotations

import numpy as np

# the top-edge sweep runs up to this many boxes; grid pruning above
GRID_CUTOVER = 2048


class GridIndex:
    """Uniform-grid bucket index over an (N,4) xyxy box array."""

    def __init__(self, boxes: np.ndarray, cell: float | None = None):
        boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
        self.boxes = boxes
        if cell is None:
            # median box extent: a box then touches O(1) buckets
            w = np.clip(boxes[:, 2] - boxes[:, 0], 0.0, None)
            h = np.clip(boxes[:, 3] - boxes[:, 1], 0.0, None)
            cell = float(max(np.median(np.concatenate([w, h])), 1e-6))
        self.cell = cell
        inv = 1.0 / cell
        self._g = np.empty((len(boxes), 4), dtype=np.int64)
        self._g[:, 0] = np.floor(boxes[:, 0] * inv)
        self._g[:, 1] = np.floor(boxes[:, 1] * inv)
        self._g[:, 2] = np.floor(boxes[:, 2] * inv)
        self._g[:, 3] = np.floor(boxes[:, 3] * inv)
        self.buckets: dict[tuple[int, int], list[int]] = {}
        for i, (gx0, gy0, gx1, gy1) in enumerate(self._g):
            for gx in range(gx0, gx1 + 1):
                for gy in range(gy0, gy1 + 1):
                    self.buckets.setdefault((gx, gy), []).append(i)

    def query(self, i: int) -> np.ndarray:
        """Candidate ids possibly intersecting box ``i`` (excluding i).
        Complete: two intersecting boxes always share >=1 bucket."""
        gx0, gy0, gx1, gy1 = self._g[i]
        out: list[int] = []
        for gx in range(gx0, gx1 + 1):
            for gy in range(gy0, gy1 + 1):
                out.extend(self.buckets.get((gx, gy), ()))
        cand = np.unique(np.asarray(out, dtype=np.int64))
        return cand[cand != i]


# process-local telemetry: number of times the grid path ran (i.e. pages
# whose cluster count exceeded GRID_CUTOVER). Stages snapshot this around
# a partition's work to emit a "grid_pages" lineage row — the evidence
# that a pathological page actually took the grid cutover in production.
GRID_CALLS = 0


def overlap_edges_grid(
    boxes: np.ndarray,
    overlap_threshold: float,
    containment_threshold: float,
    epsilon: float = 0.0,
) -> np.ndarray:
    """(K,2) i<j edge array, ascending: every pair whose IoU reaches
    ``overlap_threshold - epsilon`` or whose intersection covers at least
    ``containment_threshold - epsilon`` of either box (zero-area boxes
    never overlap), found through grid candidate pruning — O(n + edges)
    memory."""
    global GRID_CALLS
    GRID_CALLS += 1
    boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
    n = len(boxes)
    if n == 0:
        return np.empty((0, 2), dtype=np.int64)
    gi = GridIndex(boxes)
    areas = np.clip(boxes[:, 2] - boxes[:, 0], 0.0, None) * np.clip(
        boxes[:, 3] - boxes[:, 1], 0.0, None
    )
    ov = overlap_threshold - epsilon
    ct = containment_threshold - epsilon
    edges: list[np.ndarray] = []
    for i in range(n):
        if areas[i] <= 0.0:
            continue
        js = gi.query(i)
        js = js[(js > i) & (areas[js] > 0.0)]
        if js.size == 0:
            continue
        b = boxes[js]
        iw = np.minimum(boxes[i, 2], b[:, 2]) - np.maximum(boxes[i, 0], b[:, 0])
        ih = np.minimum(boxes[i, 3], b[:, 3]) - np.maximum(boxes[i, 1], b[:, 1])
        inter = np.clip(iw, 0.0, None) * np.clip(ih, 0.0, None)
        union = areas[i] + areas[js] - inter
        iou = np.where(union > 0.0, inter / np.maximum(union, 1e-300), 0.0)
        c1 = inter / areas[i]
        c2 = inter / areas[js]
        hit = (iou >= ov) | (c1 >= ct) | (c2 >= ct)
        if hit.any():
            sel = js[hit]
            edges.append(np.stack(
                [np.full(sel.shape, i, dtype=np.int64), sel], axis=1))
    if not edges:
        return np.empty((0, 2), dtype=np.int64)
    return np.concatenate(edges, axis=0)
