"""Layout post-processing: clean raw layout detections and attach cells.

A from-scratch reimplementation of the reference's post-processing stage
(/root/reference/fork/layout/layout_postprocessor.py:280-1075) as a pure
page-local kernel. The reference mutates pydantic ``Cluster`` objects and
uses R-tree/grid candidate indexes; per page the cardinalities are tiny
(tens of clusters, hundreds of cells), so this kernel uses plain dicts and
O(N·M) vectorized NumPy — same results, no index bookkeeping. At corpus
scale the parallelism lives OUTSIDE this function (one page per row in a
``mapInArrow`` stage), which is where the 100 TB story comes from.

Semantics ported (with reference file:line):
  - per-label confidence filter            (:410-415, :478-483)
  - TITLE→SECTION_HEADER remap             (:417-420)
  - cell→cluster argmax assignment, IoS>0.2, early-accept >=0.95 (:899-993)
  - empty-cluster filter keeping FORMULA   (:426-434)
  - orphan cells → singleton TEXT clusters (:436-455)
  - iterative refinement ≤3: bbox-envelope adjust (TABLE unions own bbox)
    + overlap merge (IoU/containment ≥ 0.8, UnionFind groups, rule-based
    best pick, cell merge)                 (:457-475, :654-844, :1009-1047)
  - cross-type wrapper-vs-TABLE suppression (:550-583)
  - full-page PICTURE filter (>0.90 page)  (:488-501)
  - special-cluster child assignment (IoS>0.8), FORM/KV bbox from children,
    cells = dedup'd union of child cells   (:503-530)
  - picture / wrapper overlap resolution   (:532-548)
  - contained-regular removal + final (first_cell_index, t, l) sort
                                           (:378-399, :1053-1065)

Deterministic tie-breaks: clusters are always processed in input-list
order (the reference's grid-bucket candidate order is replaced by input
order — results can only differ when two candidates both exceed the 0.95
early-accept for the same cell, an accepted compat-mode-style divergence).
Compat-mode epsilon (1e-4) on overlap thresholds is the default, per the
reference's DOCLING_GPU_COMPAT_MODE (:339-340).
"""

from __future__ import annotations

import sys
from operator import itemgetter as _itemgetter
from typing import Any

import numpy as np

from ..labels import (
    CONFIDENCE_THRESHOLDS,
    FORM,
    FORMULA,
    KEY_VALUE_REGION,
    LABEL_REMAP,
    LIST_ITEM,
    CODE,
    OVERLAP_PARAMS,
    PICTURE,
    SPECIAL_LABELS,
    TABLE,
    TEXT,
    WRAPPER_LABELS,
)
from ..geometry import union_find_groups
from .spatial_index import GRID_CUTOVER as _GRID_CUTOVER

_MAXIDX = sys.maxsize
BASE_THRESHOLD = 0.3  # detector base threshold (layout_predictor_gpu.py)


def _box(c: dict[str, Any]) -> tuple[float, float, float, float]:
    return (c["l"], c["t"], c["r"], c["b"])


def _area(c: dict[str, Any]) -> float:
    w = c["r"] - c["l"]
    h = c["b"] - c["t"]
    return (w if w > 0.0 else 0.0) * (h if h > 0.0 else 0.0)


def _ios(inner: dict[str, Any], outer: dict[str, Any]) -> float:
    """intersection_over_self(inner): inter area / area(inner)."""
    il = inner["l"]
    it = inner["t"]
    ir = inner["r"]
    ib = inner["b"]
    w = ir - il
    h = ib - it
    if w <= 0.0 or h <= 0.0:
        return 0.0
    ol = outer["l"]
    ot = outer["t"]
    orr = outer["r"]
    ob = outer["b"]
    iw = (orr if orr < ir else ir) - (ol if ol > il else il)
    if iw <= 0.0:
        return 0.0
    ih = (ob if ob < ib else ib) - (ot if ot > it else it)
    if ih <= 0.0:
        return 0.0
    return (iw * ih) / (w * h)


def _dedup_cells(cells: list[dict]) -> list[dict]:
    """Unique by cell index, first occurrence wins (:876-897)."""
    if len(cells) < 2:
        return cells
    seen: set[int] = set()
    out = []
    for cell in cells:
        if cell["index"] not in seen:
            seen.add(cell["index"])
            out.append(cell)
    return out


_CELL_INDEX_KEY = _itemgetter("index")
_CLUSTER_ID_KEY = _itemgetter("first_cell_index", "t", "l")


def _sort_cells(cells: list[dict]) -> list[dict]:
    return sorted(cells, key=_CELL_INDEX_KEY)


def _sort_clusters_id(clusters: list[dict]) -> list[dict]:
    return sorted(clusters, key=_CLUSTER_ID_KEY)


def sort_clusters(clusters: list[dict], mode: str = "id") -> list[dict]:
    """Cluster reading-prep sort, all three reference modes
    (layout_postprocessor.py:1053-1075):
      - "id":   (first_cell_index, t, l) — PDF print order (the default
                the pipeline runs with);
      - "tblr": (t, l) — top-to-bottom then left-to-right (row first);
      - "lrtb": (l, t) — left-to-right then top-to-bottom (column first).
    Unknown modes return the input unchanged, like the reference."""
    if mode == "id":
        return _sort_clusters_id(clusters)
    if mode == "tblr":
        return sorted(clusters, key=_itemgetter("t", "l"))
    if mode == "lrtb":
        return sorted(clusters, key=_itemgetter("l", "t"))
    return clusters


def postfilter_detections(
    dets: list[dict],
    page_w: float,
    page_h: float,
    base_threshold: float = BASE_THRESHOLD,
    blacklist: frozenset[str] = frozenset(),
) -> list[dict]:
    """Raw-detector output filter (layout_predictor_gpu.py:303-312, the
    predict_batch tail): drop blacklisted classes (e.g. {"Form",
    "Key-Value Region"} — layout_predictor.py:53), drop scores below the
    base threshold (:base_threshold=0.3 default), clamp every bbox to the
    page (l,t >= 0; r <= w; b <= h). Runs BEFORE the per-label confidence
    thresholds of the post-processor. Idempotent."""
    out: list[dict] = []
    for d in dets:
        if d["label"] in blacklist or d["confidence"] < base_threshold:
            continue
        l = d["l"]
        t = d["t"]
        r = d["r"]
        b = d["b"]
        out.append(
            {
                **d,
                "l": 0.0 if l < 0.0 else (page_w if l > page_w else l),
                "t": 0.0 if t < 0.0 else (page_h if t > page_h else t),
                "r": 0.0 if r < 0.0 else (page_w if r > page_w else r),
                "b": 0.0 if b < 0.0 else (page_h if b > page_h else b),
            }
        )
    return out


def stable_sort_detections(dets: list[dict]) -> list[dict]:
    """Compat-mode stable multi-key detection sort
    (layout_predictor_gpu.py:160-172 _stable_sort_result): order by
    (label, -confidence, l, t, r, b) via chained stable sorts, exactly the
    reference's last-key-first argsort loop. Makes raw detector output
    order deterministic across batch layouts before post-processing."""
    out = list(dets)
    for key in ("b", "r", "t", "l"):  # reversed key order, stable
        out.sort(key=_itemgetter(key))
    out.sort(key=_itemgetter("confidence"), reverse=True)
    out.sort(key=_itemgetter("label"))
    return out


def _should_prefer(candidate: dict, other: dict, params: dict) -> bool:
    """Preference rules between two overlapping clusters (:585-619)."""
    if candidate["label"] == LIST_ITEM and other["label"] == TEXT:
        other_area = _area(other)
        if other_area > 0.0 and abs(1.0 - _area(candidate) / other_area) < 0.2:
            return True
    if candidate["label"] == CODE and _ios(other, candidate) > 0.8:
        return True
    other_area = _area(other)
    area_ratio = _area(candidate) / other_area if other_area > 0.0 else float("inf")
    conf_diff = other["confidence"] - candidate["confidence"]
    if area_ratio <= params["area_threshold"] and conf_diff > params["conf_threshold"]:
        return False
    return True


_BIG_GROUP = 64


def _overlap_edges_py(
    clusters: list[dict], ovlp_thr: float, cont_thr: float
) -> list[tuple[int, int]]:
    """i<j overlap edges, in ascending (i, j) order, by a top-edge sweep:
    positive-area boxes sorted by (t, index), each paired only with the
    boxes whose top lies above its bottom — any later box has zero
    vertical overlap, so the scan stops there. The predicate is the
    reference's: the same float divisions (denominators only used when
    > 0) and >= comparisons, all symmetric in the pair; zero-area boxes
    never overlap. Same edge set as the grid index of spatial_index.py
    (pinned by the parity tests)."""
    geom = []
    for i, c in enumerate(clusters):
        l = c["l"]
        t = c["t"]
        r = c["r"]
        b = c["b"]
        w = r - l
        h = b - t
        a = (w if w > 0.0 else 0.0) * (h if h > 0.0 else 0.0)
        if a > 0.0:
            geom.append((t, i, l, r, b, a))
    geom.sort()
    m = len(geom)
    edges: list[tuple[int, int]] = []
    for k in range(m - 1):
        _ti, i, li, ri, bi, ai = geom[k]
        for kj in range(k + 1, m):
            tj, j, lj, rj, bj, aj = geom[kj]
            if tj >= bi:
                break
            iw = (ri if ri < rj else rj) - (li if li > lj else lj)
            if iw <= 0.0:
                continue
            # tj >= ti (sorted), so the top of the intersection is tj
            ih = (bi if bi < bj else bj) - tj
            if ih <= 0.0:
                continue
            inter = iw * ih
            if (
                inter / ai >= cont_thr
                or inter / aj >= cont_thr
                or inter / (ai + aj - inter) >= ovlp_thr
            ):
                edges.append((i, j) if i < j else (j, i))
    edges.sort()
    return edges


def _select_best(group: list[dict], params: dict) -> dict:
    """Pick the surviving cluster of an overlap group (:621-652).

    Groups beyond _BIG_GROUP members (pathological merge piles on
    mega-pages) vectorize the exclusion scan: for candidates whose label
    is neither LIST_ITEM nor CODE, _should_prefer reduces exactly to its
    area-ratio/confidence rule, evaluated here with the SAME float
    expressions per pair — identical outcome, O(g) numpy per candidate
    instead of O(g) Python calls (O(g²) total made the 20k-cluster page
    quadratic in pure Python)."""
    best = None
    big = len(group) > _BIG_GROUP
    if big:
        areas = np.array([_area(c) for c in group], dtype=np.float64)
        confs = np.array([c["confidence"] for c in group], dtype=np.float64)
        at, ct = params["area_threshold"], params["conf_threshold"]
    for i, candidate in enumerate(group):
        if big and candidate["label"] not in (LIST_ITEM, CODE):
            # masked divide: lanes with area 0 are never computed (inf
            # sentinel), so neither divide-by-zero nor 0/0-invalid
            # RuntimeWarnings fire — log-grepping audits stay clean
            ratio = np.full_like(areas, np.inf)
            np.divide(areas[i], areas, out=ratio, where=areas > 0.0)
            excluded = bool(np.any((ratio <= at) & (confs - confs[i] > ct)))
        else:
            excluded = any(
                other is not candidate
                and not _should_prefer(candidate, other, params)
                for other in group
            )
        if excluded:
            continue
        if best is None:
            best = candidate
        elif (
            _area(candidate) > _area(best)
            and best["confidence"] - candidate["confidence"] <= params["conf_threshold"]
        ):
            best = candidate
    return best if best is not None else group[0]


def _remove_overlaps(
    clusters: list[dict], family: str, epsilon: float
) -> tuple[list[dict], bool]:
    """Merge sufficiently-overlapping clusters, keep the rule-based best
    (:654-844). Group membership is order-independent (connected
    components); group and member ordering follow input order."""
    if len(clusters) < 2:  # nothing to merge
        return list(clusters), False
    params = OVERLAP_PARAMS[family]
    n = len(clusters)
    if n > _GRID_CUTOVER:
        # pathological pages (scanned books, 10^4+ clusters): grid
        # candidate pruning bounds the work whatever the boxes' vertical
        # spread — same edge set (spatial_index.py parity contract), the
        # role of the reference's R-tree/interval-tree index
        # (layout_postprocessor.py:55-221)
        from .spatial_index import overlap_edges_grid

        boxes = np.array([_box(c) for c in clusters], dtype=np.float64)
        edges = overlap_edges_grid(boxes, 0.8, 0.8, epsilon)
    else:
        edges = _overlap_edges_py(clusters, 0.8 - epsilon, 0.8 - epsilon)
        if not edges:  # nothing overlaps: all-singleton groups, unchanged
            return list(clusters), False
    groups = union_find_groups(n, edges)
    result: list[dict] = []
    merged = False
    for group_ix in groups:
        if len(group_ix) == 1:
            result.append(clusters[group_ix[0]])
            continue
        merged = True
        group = [clusters[i] for i in group_ix]
        best = _select_best(group, params)
        merged_cells = list(best["cells"])
        for c in group:
            if c is not best:
                merged_cells.extend(c["cells"])
        best["cells"] = _sort_cells(_dedup_cells(merged_cells))
        result.append(best)
    return result, merged


def _assign_cells(
    clusters: list[dict], valid_cells: list[dict], min_overlap: float = 0.2
) -> set[int]:
    """Argmax spatial join: each cell → cluster maximizing IoS(cell), with
    a floor of ``min_overlap`` and early accept at >= 0.95 (:899-993).
    Mutates clusters (cells, first_cell_index); returns assigned indices."""
    for c in clusters:
        c["cells"] = []
        c["first_cell_index"] = _MAXIDX
    assigned: set[int] = set()
    if not clusters or not valid_cells:
        return assigned

    if len(clusters) * len(valid_cells) <= 2048:
        # typical pages: direct argmax loop (identical semantics — first
        # cluster with IoS >= 0.95 wins, else first strict argmax above
        # the floor) without the numpy call overhead. Same IEEE ops.
        # (index, t, b, l, r): the vertical test runs first — on a page
        # of stacked blocks it rejects most clusters on its own
        cgeom = [(ci, c["t"], c["b"], c["l"], c["r"])
                 for ci, c in enumerate(clusters)]
        n_placed = 0
        for cell in valid_cells:
            vl = cell["l"]
            vt = cell["t"]
            vr = cell["r"]
            vb = cell["b"]
            w = vr - vl
            h = vb - vt
            area = (w if w > 0.0 else 0.0) * (h if h > 0.0 else 0.0)
            if area <= 0.0:
                continue
            best_val = 0.0
            best_ix = 0
            hit95 = False
            for ci, ct, cb, cl, cr in cgeom:
                if ct >= vb or cb <= vt:  # ih <= 0 without computing it
                    continue
                ih = (vb if vb < cb else cb) - (vt if vt > ct else ct)
                if ih <= 0.0:
                    continue
                iw = (vr if vr < cr else cr) - (vl if vl > cl else cl)
                if iw <= 0.0:
                    continue
                ios_v = (iw * ih) / area
                if ios_v >= 0.95:
                    best_ix = ci
                    hit95 = True
                    break
                if ios_v > best_val:
                    best_val = ios_v
                    best_ix = ci
            if hit95 or best_val > min_overlap:
                best_cluster = clusters[best_ix]
                best_cluster["cells"].append(cell)
                if cell["index"] < best_cluster["first_cell_index"]:
                    best_cluster["first_cell_index"] = cell["index"]
                assigned.add(cell["index"])
                n_placed += 1
        if n_placed != len(assigned):  # some index came twice
            for c in clusters:
                c["cells"] = _dedup_cells(c["cells"])
        return assigned

    cboxes = np.array([_box(c) for c in clusters], dtype=np.float64)
    vboxes = np.array(
        [(c["l"], c["t"], c["r"], c["b"]) for c in valid_cells], dtype=np.float64
    )
    areas = np.maximum(vboxes[:, 2] - vboxes[:, 0], 0.0) * np.maximum(
        vboxes[:, 3] - vboxes[:, 1], 0.0
    )
    iw = np.minimum(vboxes[:, None, 2], cboxes[None, :, 2]) - np.maximum(
        vboxes[:, None, 0], cboxes[None, :, 0]
    )
    ih = np.minimum(vboxes[:, None, 3], cboxes[None, :, 3]) - np.maximum(
        vboxes[:, None, 1], cboxes[None, :, 1]
    )
    inter = np.maximum(iw, 0.0) * np.maximum(ih, 0.0)
    # Clamped denominator: exact where area > 0; zero-area cells (inter
    # is 0 there) are skipped in the loop below, so the guarded np.where
    # form is unnecessary — identical assignments, no errstate overhead.
    ios = inter / np.maximum(areas[:, None], 1e-300)
    # Exact loop semantics vectorized: accept the FIRST cluster (input
    # order) with IoS >= 0.95, else the first argmax when it clears the
    # floor (strictly greater comparison → first max wins).
    ge95 = ios >= 0.95
    has95 = ge95.any(axis=1)
    first95 = np.argmax(ge95, axis=1)
    best = np.argmax(ios, axis=1)
    best_val = ios[np.arange(len(valid_cells)), best]
    chosen = np.where(has95, first95, best).tolist()
    ok = (has95 | (best_val > min_overlap)).tolist()
    areas_l = areas.tolist()
    for i, cell in enumerate(valid_cells):
        if areas_l[i] <= 0.0 or not ok[i]:
            continue
        best_cluster = clusters[chosen[i]]
        best_cluster["cells"].append(cell)
        if cell["index"] < best_cluster["first_cell_index"]:
            best_cluster["first_cell_index"] = cell["index"]
        assigned.add(cell["index"])
    for c in clusters:
        c["cells"] = _dedup_cells(c["cells"])
    return assigned


def _adjust_bboxes(clusters: list[dict]) -> bool:
    """Shrink/grow each cluster bbox to the envelope of its cells; TABLE
    unions its own detected bbox (:1009-1047). Returns True if any moved."""
    changed = False
    for c in clusters:
        cells = c["cells"]
        if not cells:
            continue
        first = cells[0]
        nl = first["l"]
        nt = first["t"]
        nr = first["r"]
        nb = first["b"]
        for cell in cells:
            v = cell["l"]
            if v < nl:
                nl = v
            v = cell["t"]
            if v < nt:
                nt = v
            v = cell["r"]
            if v > nr:
                nr = v
            v = cell["b"]
            if v > nb:
                nb = v
        if c["label"] == TABLE:
            nl, nt = min(nl, c["l"]), min(nt, c["t"])
            nr, nb = max(nr, c["r"]), max(nb, c["b"])
        if (nl, nt, nr, nb) != (c["l"], c["t"], c["r"], c["b"]):
            c["l"], c["t"], c["r"], c["b"] = nl, nt, nr, nb
            changed = True
    return changed


def postprocess_page(
    page_width: float,
    page_height: float,
    cells: list[dict],
    raw_clusters: list[dict],
    *,
    epsilon: float = 1e-4,
    keep_empty_clusters: bool = False,
    create_orphan_clusters: bool = True,
    sort_mode: str = "id",
) -> list[dict]:
    """Run the full layout post-process for one page.

    ``cells``: dicts with index:int, text:str, l,t,r,b:float,
    confidence:float (and any passthrough keys). ``raw_clusters``: dicts
    with id:int, label:str, l,t,r,b:float, confidence:float.

    Returns the final cluster list in reading-prep order; each cluster has
    id, label, l, t, r, b, confidence, cells (sorted by index) and
    children (list of child clusters, same shape, empty below one level).
    """
    # predictor-side postfilter (layout_predictor_gpu.py:303-312) fused
    # into the cluster build — one dict per surviving detection instead of
    # postfilter's intermediate copy. Same filter as postfilter_detections
    # at its defaults (BASE_THRESHOLD, empty blacklist), identical clamp
    # arithmetic; only tests call postfilter_detections, pinning the two.
    regular: list[dict] = []
    special: list[dict] = []
    max_input_id = 0
    base_threshold = BASE_THRESHOLD
    for c in raw_clusters:
        if c["confidence"] < base_threshold:
            continue
        l = float(c["l"])
        t = float(c["t"])
        r = float(c["r"])
        b = float(c["b"])
        cid = int(c["id"])
        label = str(c["label"])
        cluster = {
            "id": cid,
            "label": label,
            "l": 0.0 if l < 0.0 else (page_width if l > page_width else l),
            "t": 0.0 if t < 0.0 else (page_height if t > page_height else t),
            "r": 0.0 if r < 0.0 else (page_width if r > page_width else r),
            "b": 0.0 if b < 0.0 else (page_height if b > page_height else b),
            "confidence": float(c["confidence"]),
            "cells": [],
            "children": [],
            "first_cell_index": _MAXIDX,
        }
        if cid > max_input_id:
            max_input_id = cid
        (special if label in SPECIAL_LABELS else regular).append(cluster)

    # Valid cells: non-blank text, positive area (:349-357).
    # (t and not t.isspace()) ⟺ bool(t.strip()) without the allocation.
    valid_cells = [
        c
        for c in cells
        if (t := c.get("text")) and not t.isspace()
        and (c["r"] - c["l"]) * (c["b"] - c["t"]) > 0
    ]

    # --- regular clusters (:408-475) ---------------------------------------
    reg = [c for c in regular if c["confidence"] >= CONFIDENCE_THRESHOLDS[c["label"]]]
    for c in reg:
        c["label"] = LABEL_REMAP.get(c["label"], c["label"])

    assigned = _assign_cells(reg, valid_cells)

    if not keep_empty_clusters:
        reg = [c for c in reg if c["cells"] or c["label"] == FORMULA]

    if create_orphan_clusters:
        unassigned = [c for c in valid_cells if c["index"] not in assigned]
        for i, cell in enumerate(unassigned):
            reg.append(
                {
                    "id": max_input_id + 1 + i,
                    "label": TEXT,
                    "l": float(cell["l"]),
                    "t": float(cell["t"]),
                    "r": float(cell["r"]),
                    "b": float(cell["b"]),
                    "confidence": float(cell.get("confidence", 1.0)),
                    "cells": [cell],
                    # NOTE: the reference leaves orphan first_cell_index at
                    # sys.maxsize (PrivateAttr default, base_models.py:153),
                    # so orphans sort after assigned clusters by (t, l).
                    "first_cell_index": _MAXIDX,
                    "children": [],
                }
            )

    prev_count = len(reg) + 1
    for _ in range(3):
        if prev_count == len(reg):
            break
        prev_count = len(reg)
        moved = _adjust_bboxes(reg)
        reg, merged = _remove_overlaps(reg, "regular", epsilon)
        if not moved and not merged:
            break

    # --- special clusters (:477-548) ----------------------------------------
    spec = [c for c in special if c["confidence"] >= CONFIDENCE_THRESHOLDS[c["label"]]]

    # Cross-type suppression (:550-583): wrappers nearly identical to a
    # *regular* TABLE are dropped. In this fork TABLE itself is special, so
    # the condition can only fire if a remap ever produces a regular TABLE —
    # kept for faithfulness.
    drop: set[int] = set()
    for w in spec:
        if w["label"] not in WRAPPER_LABELS:
            continue
        for r in reg:
            if r["label"] == TABLE and _ios(w, r) > 0.9 and (
                w["confidence"] - r["confidence"] < 0.1
            ):
                drop.add(w["id"])
                break
    spec = [c for c in spec if c["id"] not in drop]

    page_area = page_width * page_height
    if page_area > 0:
        spec = [
            c
            for c in spec
            if not (c["label"] == PICTURE and _area(c) / page_area > 0.90)
        ]

    # _ios(r, sp) > 0.8 per (special, regular) pair, with each regular
    # cluster's extent and area computed once
    rgeom = []
    for r in reg if spec else ():  # (no special cluster: nothing contains)
        il = r["l"]
        it = r["t"]
        ir = r["r"]
        ib = r["b"]
        w = ir - il
        h = ib - it
        if w > 0.0 and h > 0.0:
            rgeom.append((r, il, it, ir, ib, w * h))
    for sp in spec:
        ol = sp["l"]
        ot = sp["t"]
        orr = sp["r"]
        ob = sp["b"]
        contained = []
        for r, il, it, ir, ib, ra in rgeom:
            iw = (orr if orr < ir else ir) - (ol if ol > il else il)
            if iw <= 0.0:
                continue
            ih = (ob if ob < ib else ib) - (ot if ot > it else it)
            if ih > 0.0 and (iw * ih) / ra > 0.8:
                contained.append(r)
        if contained:
            sp["children"] = _sort_clusters_id(contained)
            if sp["label"] in (FORM, KEY_VALUE_REGION):
                sp["l"] = min(c["l"] for c in contained)
                sp["t"] = min(c["t"] for c in contained)
                sp["r"] = max(c["r"] for c in contained)
                sp["b"] = max(c["b"] for c in contained)
            all_cells: list[dict] = []
            for child in sp["children"]:
                all_cells.extend(child["cells"])
            sp["cells"] = _sort_cells(_dedup_cells(all_cells))

    pictures = [c for c in spec if c["label"] == PICTURE]
    pictures, _ = _remove_overlaps(pictures, "picture", epsilon)
    wrappers = [c for c in spec if c["label"] in WRAPPER_LABELS]
    wrappers, _ = _remove_overlaps(wrappers, "wrapper", epsilon)
    spec = pictures + wrappers

    # --- combine (:378-399) --------------------------------------------------
    contained_ids = {child["id"] for sp in spec for child in sp["children"]}
    reg = [c for c in reg if c["id"] not in contained_ids]

    final = sort_clusters(reg + spec, sort_mode)
    for c in final:
        c["cells"] = _sort_cells(c["cells"])
        for child in c["children"]:
            child["cells"] = _sort_cells(child["cells"])
    return final
