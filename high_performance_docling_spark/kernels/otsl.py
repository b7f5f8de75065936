"""OTSL (Open Table Structure Language) sequence kernels.

Ports of the reference's OTSL handling:
  - squareness check              (fork/table/tf_predictor.py:50-84)
  - table-cell construction from an OTSL walk
                                  (fork/table/tf_cell_matcher.py:367-416)
  - span derivation (the reference calls docling-ibm-models
    ``otsl.html_to_otsl`` at tf_cell_matcher.py:263-268; reimplemented
    here from OTSL grammar: lcel = left-merge, ucel = up-merge,
    xcel = 2D-span interior)
  - normalized-table-coords → page TOP-LEFT coords affine
                                  (fork/table/tf_cell_matcher.py:419-442)

Tag vocabulary: fcel (full cell), ecel (empty cell), ched (column
header), rhed (row header), srow (section row), lcel / ucel / xcel
(merges), nl (row break). Emitting tags (consume a bbox + get a cell_id):
fcel ecel xcel ched rhed srow — note the reference treats xcel as
emitting (tf_cell_matcher.py:381).
"""

from __future__ import annotations

from itertools import groupby

EMITTING_TAGS = ("fcel", "ecel", "xcel", "ched", "rhed", "srow")
_EMITTING = frozenset(EMITTING_TAGS)


class OtslCorrector:
    """Per-step OTSL grammar corrections, as the reference's batched AR
    decoder applies them on-GPU before bbox-emission decisions
    (fork/table/batched_decoder.py:158-166, state updates :259-264):

      1. first line (before any nl): xcel → lcel — an xcel on row 0 has no
         up-row to continue, so it must be a left-merge;
      2. lcel immediately after a ucel → fcel — a left-merge into an
         up-merge continuation is ambiguous, so it becomes a fresh cell.

    A real TableFormer emits such illegal tags constantly; the synthetic
    geometric decoder never does (corrections are identity on its legal
    streams), but the hook sits at the same point in the decode loop so a
    neural decoder slots in with corrections already wired. ``prev_ucel``
    and ``line_num`` track the CORRECTED tag stream (:259, :264)."""

    def __init__(self) -> None:
        self.line_num = 0
        self.prev_ucel = False

    def step(self, tag: str) -> str:
        if self.line_num == 0 and tag == "xcel":  # :159-161
            tag = "lcel"
        if self.prev_ucel and tag == "lcel":  # :164-166
            tag = "fcel"
        self.prev_ucel = tag == "ucel"  # :259
        if tag == "nl":  # :264
            self.line_num += 1
        return tag


def correct_otsl_sequence(tags: list[str]) -> list[str]:
    """Apply the per-step grammar corrections to a whole tag sequence."""
    corr = OtslCorrector()
    return [corr.step(t) for t in tags]


def otsl_square(rs_list: list[str]) -> bool:
    """All OTSL rows equal length (tf_predictor.py:50-84)."""
    rows = [list(g) for k, g in groupby(rs_list, lambda x: x == "nl") if not k]
    if not rows:
        return True
    init_len = len(rows[0]) + 1
    return all(len(r) + 1 == init_len for r in rows)


def otsl_spans(otsl_seq: list[str]) -> dict[int, tuple[int, int]]:
    """cell_id → (colspan, rowspan) for origin cells with span > 1.

    Grid walk: each grid position records its origin cell_id; lcel joins
    the cell to the left, ucel the cell above, xcel the up-left span
    interior. Span = extent of the owned region.
    """
    # First pass: assign cell ids to emitting tags and owners per position.
    grid: list[list[int]] = []  # grid[r][c] = origin cell_id (-1 unknown)
    row: list[int] = []
    cell_id = 0
    for tag in otsl_seq:
        if tag == "nl":
            grid.append(row)
            row = []
            continue
        r, c = len(grid), len(row)
        if tag == "lcel":
            owner = row[c - 1] if c > 0 else -1
        elif tag == "ucel":
            owner = grid[r - 1][c] if r > 0 and c < len(grid[r - 1]) else -1
        elif tag == "xcel":
            # interior of a 2D span: same origin as the cell above (== left);
            # xcel still consumes a cell_id of its own (it's an emitting tag)
            if r > 0 and c < len(grid[r - 1]):
                owner = grid[r - 1][c]
            elif c > 0:
                owner = row[c - 1]
            else:
                owner = -1
            cell_id += 1
        else:  # emitting origin tags
            owner = cell_id
            cell_id += 1
        row.append(owner)
    if row:
        grid.append(row)

    # Extent of each origin's owned region.
    # rows are walked in ascending order, so an origin's min row is its
    # first row and its max row the current one
    extent: dict[int, list[int]] = {}  # origin -> [min_r, max_r, min_c, max_c]
    for r, grow in enumerate(grid):
        for c, owner in enumerate(grow):
            if owner < 0:
                continue
            e = extent.get(owner)
            if e is None:
                extent[owner] = [r, r, c, c]
                continue
            e[1] = r
            if c < e[2]:
                e[2] = c
            elif c > e[3]:
                e[3] = c

    spans: dict[int, tuple[int, int]] = {}
    for owner, (r0, r1, c0, c1) in extent.items():
        colspan, rowspan = c1 - c0 + 1, r1 - r0 + 1
        if colspan > 1 or rowspan > 1:
            spans[owner] = (colspan, rowspan)
    return spans


def build_table_cells(
    otsl_seq: list[str],
    bboxes_page: list[list[float]],
    classes: list[int],
) -> list[dict]:
    """OTSL walk → table cell dicts (tf_cell_matcher.py:367-416).

    Emitting tags consume sequential cell_ids and bboxes; every non-nl tag
    advances column_id; nl advances row_id. Spans attach from otsl_spans.
    """
    spans = otsl_spans(otsl_seq)
    table_cells: list[dict] = []
    cell_id = 0
    row_id = 0
    column_id = 0
    for tag in otsl_seq:
        if tag == "nl":
            row_id += 1
            column_id = 0
            continue
        if tag in _EMITTING:
            bbox = list(bboxes_page[cell_id]) if cell_id < len(bboxes_page) else [0.0] * 4
            cell_class = classes[cell_id] if cell_id < len(classes) else 2
            cell = {
                "cell_id": cell_id,
                "row_id": row_id,
                "column_id": column_id,
                "bbox": bbox,
                "cell_class": int(cell_class),
                "label": tag,
            }
            if cell_id in spans:
                colspan, rowspan = spans[cell_id]
                if colspan > 1:
                    cell["colspan_val"] = colspan
                if rowspan > 1:
                    cell["rowspan_val"] = rowspan
            table_cells.append(cell)
            cell_id += 1
        column_id += 1
    return table_cells


def check_bbox_sync(
    otsl_seq: list[str], bboxes: list[list[float]]
) -> tuple[bool, list[list[float]]]:
    """bbox/tag sync guard (tf_predictor.py:237-279): the decoder must
    emit exactly one bbox per emitting tag. On over-emission (the
    reference's span-tag desync, where an extra bbox follows each spanned
    cell) drop one bbox after each span-origin cell until counts agree;
    residual excess truncates from the tail. Under-emission pads zeros
    (downstream cells beyond the list already default to a zero bbox in
    build_table_cells)."""
    expected = sum(1 for t in otsl_seq if t in _EMITTING)
    if len(bboxes) == expected:
        return True, list(bboxes)
    out = list(bboxes)
    if len(out) > expected:
        spans = otsl_spans(otsl_seq)
        # delete the bbox following each span origin (mirrors
        # _remove_bbox_span_desync's delete-after-span semantics)
        for origin in sorted(spans, reverse=True):
            if len(out) <= expected:
                break
            if origin + 1 < len(out):
                del out[origin + 1]
        del out[expected:]
    else:
        out.extend([[0.0, 0.0, 0.0, 0.0]] * (expected - len(out)))
    return False, out


def translate_bboxes(
    table_bbox: list[float], norm_bboxes: list[list[float]]
) -> list[list[float]]:
    """Normalized table-coords [x1,y1,x2,y2] → page TOP-LEFT coords.

    Equivalent of tf_cell_matcher.py:419-442: the reference maps through a
    bottom-left intermediate and flips back; net effect with TOP-LEFT page
    coords is the plain affine below with y1/y2 swapped by the flip pair.
    """
    tl, tt, tr, tb = table_bbox
    w, h = tr - tl, tb - tt
    out = []
    for x1, y1, x2, y2 in norm_bboxes:
        # reference: page_bl = [tl + w*x1, tb - h*y1, tl + w*x2, tb - h*y2]
        # then y_top = tt + (tb - page_bl_y)
        out.append([
            tl + w * x1,
            tt + h * y1,
            tl + w * x2,
            tt + h * y2,
        ])
    return out


def normalize_bboxes(
    table_bbox: list[float], page_bboxes: list[list[float]]
) -> list[list[float]]:
    """Inverse of :func:`translate_bboxes`: page TOP-LEFT coords →
    normalized table coords (the page→model-input direction a real
    TableFormer feeds its bbox head with, tf_predictor.py crop space).
    Round-trip exact up to float division."""
    tl, tt, tr, tb = table_bbox
    w = max(tr - tl, 1e-9)
    h = max(tb - tt, 1e-9)
    return [
        [(x1 - tl) / w, (y1 - tt) / h, (x2 - tl) / w, (y2 - tt) / h]
        for x1, y1, x2, y2 in page_bboxes
    ]


# --------------------------------------------------------------------------
# html_seq variant of the bbox/tag sync (tf_predictor.py:237-279)
# --------------------------------------------------------------------------

def otsl_to_html_seq(otsl_seq: list[str]) -> list[str]:
    """OTSL tag sequence → HTML token sequence in the docling token
    convention the reference's sync code consumes (tf_predictor.py
    :242-273): a plain cell is the single token '<td>'; a SPANNED cell
    opens with '<td', its span attribute tokens, then a bare '>' (the
    token _check_bbox_sync counts and _remove_bbox_span_desync keys on);
    rows wrap in '<tr>'/'</tr>'. Non-origin continuation tags (lcel /
    ucel / xcel interiors) emit nothing — they are covered grid area."""
    spans = otsl_spans(otsl_seq)
    out: list[str] = ["<tr>"]
    cell_id = 0
    covered = _covered_positions(otsl_seq)
    pos = 0
    for tag in otsl_seq:
        if tag == "nl":
            out.append("</tr>")
            out.append("<tr>")
            continue
        if tag in EMITTING_TAGS:
            if pos in covered:
                pass  # continuation area of a span: no html cell
            elif cell_id in spans:
                colspan, rowspan = spans[cell_id]
                out.append("<td")
                if rowspan > 1:
                    out.append(f' rowspan="{rowspan}"')
                if colspan > 1:
                    out.append(f' colspan="{colspan}"')
                out.append(">")
            else:
                out.append("<td>")
            cell_id += 1
        pos += 1
    if out and out[-1] == "<tr>":
        out.pop()
    elif out:
        out.append("</tr>")
    return out


def _covered_positions(otsl_seq: list[str]) -> set[int]:
    """Emitting-tag ordinals that are span CONTINUATIONS (xcel interiors)
    rather than origins — they consume a cell_id but render no <td>."""
    covered: set[int] = set()
    cell_id = -1
    idx = -1
    for tag in otsl_seq:
        if tag == "nl":
            continue
        idx += 1
        if tag in EMITTING_TAGS:
            cell_id += 1
            if tag == "xcel":
                covered.add(idx)
    return covered


def check_bbox_sync_html(
    html_seq: list[str], bboxes: list[list[float]]
) -> tuple[bool, list[list[float]]]:
    """The reference's html_seq-based sync (tf_predictor.py:255-279):
    count '<td>' and bare '>' tokens as cells; on mismatch run the
    span-desync repair (:237-253) — walk the sequence keeping a running
    cell counter, and for every '>' (a spanned cell's close token) mark
    the FOLLOWING bbox index for deletion, exactly reproducing
    _remove_bbox_span_desync's delete-after-span indexes."""
    count_td = sum(1 for e in html_seq if e in ("<td>", ">"))
    if len(bboxes) == count_td:
        return True, list(bboxes)
    idx = 0
    to_delete: set[int] = set()
    for e in html_seq:
        if e == "<td>":
            idx += 1
        if e == ">":
            idx += 1
            to_delete.add(idx)
    return False, [b for i, b in enumerate(bboxes) if i not in to_delete]
