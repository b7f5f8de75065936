"""Round-7 optimization guards: the kernels that gained pure-Python
small-N fast paths (numpy kept for large N) must produce IDENTICAL
results on both paths — same edges, same assignments, same matches,
including degenerate zero-extent boxes and threshold epsilons.

The large-N path is exercised by padding the input past the cutover
with far-away boxes that can never match/overlap; the shared prefix of
the result must be unchanged. Overlap edges compare the pure-Python
sweep with the grid index that takes over past GRID_CUTOVER directly.
"""

from __future__ import annotations

import copy
import random

import numpy as np

from high_performance_docling_spark.kernels import layout_postprocess as LP
from high_performance_docling_spark.kernels import table_match as TM
from high_performance_docling_spark.kernels.spatial_index import overlap_edges_grid

_MAXIDX = 2**63 - 1


def _rand_box(rng: random.Random, degenerate_ok: bool = True):
    l = rng.uniform(0, 600)
    t = rng.uniform(0, 780)
    if degenerate_ok and rng.random() < 0.1:
        w, h = 0.0, rng.uniform(0, 30)  # zero-area box
    else:
        w, h = rng.uniform(0.1, 200), rng.uniform(0.1, 60)
    return l, t, l + w, t + h


def test_overlap_edges_py_matches_grid_index():
    """The top-edge sweep (pages up to GRID_CUTOVER clusters) and the
    grid index (beyond it) give the same ascending edge list."""
    rng = random.Random(123)
    for _ in range(200):
        n = rng.randint(0, 40)
        clusters = [dict(zip("ltrb", _rand_box(rng))) for _ in range(n)]
        eps = rng.choice([0.0, 1e-4])
        edges_py = LP._overlap_edges_py(clusters, 0.8 - eps, 0.8 - eps)
        boxes = np.array([(c["l"], c["t"], c["r"], c["b"])
                          for c in clusters]).reshape(-1, 4)
        edges_grid = [tuple(e) for e in
                      overlap_edges_grid(boxes, 0.8, 0.8, eps).tolist()]
        assert edges_py == edges_grid


def test_assign_cells_python_path_matches_numpy_path():
    rng = random.Random(456)
    for _ in range(120):
        nc, nv = rng.randint(1, 12), rng.randint(1, 30)
        clusters = [
            {**dict(zip("ltrb", _rand_box(rng))), "cells": [],
             "first_cell_index": _MAXIDX}
            for _ in range(nc)
        ]
        cells = [
            {"index": i, **dict(zip("ltrb", _rand_box(rng)))}
            for i in range(nv)
        ]
        c_small = copy.deepcopy(clusters)
        assigned_small = LP._assign_cells(c_small, cells)
        # push V*C past the pure-Python cutover with clusters that can
        # never claim a cell (zero overlap, so argmax/threshold outcomes
        # for the real prefix are unchanged on either path)
        far = [
            {"l": 10000.0 + k, "t": 10000.0, "r": 10000.5 + k,
             "b": 10010.0, "cells": [], "first_cell_index": _MAXIDX}
            for k in range(2049 // max(nv, 1) + 5)
        ]
        c_big = copy.deepcopy(clusters) + far
        assigned_big = LP._assign_cells(c_big, cells)
        assert assigned_small == assigned_big
        for a, b in zip(c_small, c_big[:nc]):
            assert [x["index"] for x in a["cells"]] == [
                x["index"] for x in b["cells"]]
            assert a["first_cell_index"] == b["first_cell_index"]


def test_iopdf_match_python_path_matches_numpy_path():
    rng = random.Random(789)
    for _ in range(120):
        T, P = rng.randint(1, 15), rng.randint(1, 20)
        tcells = [{"cell_id": i, "bbox": list(_rand_box(rng))}
                  for i in range(T)]
        pcells = [{"id": j, "bbox": list(_rand_box(rng))}
                  for j in range(P)]
        m_small = TM.iopdf_match(tcells, pcells)
        pad = [
            {"cell_id": 1000 + k,
             "bbox": [99999.0 + k, 99999.0, 99999.5 + k, 99999.5]}
            for k in range(2049 // P + 2)
        ]
        m_big = TM.iopdf_match(tcells + pad, pcells)
        assert m_small == m_big
