"""Pipeline stages as vectorized Arrow UDF DataFrame transforms.

Two execution modes (pipeline.extract_spans) over one page-batch core
(kernels/convert.process_page_batch):

  fused (default)  docs → ordered spans         doc_fused_stage, ONE
                                                mapInPandas, zero shuffles
  checkpointed     each boundary materialized to parquet, resumable:
    S1 parse       docs → pages (cells + typeset elements)   mapInPandas, 1→N rows
    S2 detect      pages → pages + raw detections            mapInArrow (model harness)
    S3+S5+S6       pages → page elements                     mapInPandas, 1→1 rows
    S7 assemble    elements → (doc_id, spans_out[])          repartition(doc_id) + mapInPandas

Scale design:
  - Fused: a document is self-contained, so every kernel runs doc-locally
    and the stage scales with cores; a mega-document is one task.
  - Checkpointed: S1 explodes documents to page grain, so a 400-page
    mega-doc becomes 400 independent rows for the model and layout
    stages (reference analogue: batch splitter,
    lambda_preprocessor.py:47-58). Each stage is its own job over the
    previous stage's parquet, so no two Python stages chain in one task.
  - The only shuffle is S7's repartition(doc_id); elements are
    text-sized (images/cells already dropped), so the shuffled payload
    is small.
  - Inside each stage the work is batched NumPy/Python over Arrow record
    batches — no per-row Python UDFs (input_hint requirement).
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Iterator
from operator import itemgetter
from typing import Any

import pandas as pd

from ..corpus import (
    GenConfig,
    TypesetPage,
    element_from_dict,
    element_to_dict,
    typeset,
)
from ..kernels import spatial_index
from ..kernels.assemble import assemble_page_elements
from ..kernels.convert import layout_detector, process_page_batch
from ..oracle import assemble_doc_spans, extract_doc_result
from ..schemas import (
    ELEMENTS_CONF_SCHEMA,
    ELEMENTS_SCHEMA,
    PAGES_SCHEMA,
    PARSED_PAGES_SCHEMA,
    SPANS_CONF_SCHEMA,
    SPANS_OUT_SCHEMA,
)
from .model_harness import arrow_model_stage

_OFFSET_KEY = itemgetter("offset")
_ELEMENT_KEYS = ("label", "l", "t", "r", "b", "text", "media_ref", "children")


def _write_lineage_ms(
    lineage_dir: str | None, stage: str, n_in: int, n_out: int, wall_ms: float
) -> None:
    """Append a per-partition lineage row (SURVEY.md §2.9). Executor-local
    file append; on a real cluster this directory is shared storage."""
    if not lineage_dir:
        return
    try:
        from pyspark import TaskContext

        tc = TaskContext.get()
        pid = tc.partitionId() if tc is not None else -1
    except Exception:
        pid = -1
    os.makedirs(lineage_dir, exist_ok=True)
    row = {"stage": stage, "partition_id": pid, "input_rows": n_in,
           "output_rows": n_out, "wall_ms": wall_ms}
    fname = f"{stage.replace('/', '.')}-{pid}-{os.getpid()}.jsonl"
    with open(os.path.join(lineage_dir, fname), "a") as f:
        f.write(json.dumps(row) + "\n")


class _TaskLineage:
    """One Python task's lineage epilogue, created when the task starts:
    ``finish`` writes the stage row, one row per timed phase (the
    reference's stage-timer dump, gpu_processor.py:333-363) and, when a
    page went past GRID_CUTOVER, a ``<stage>/grid_pages`` evidence row.
    ``timers`` is None without a lineage dir, so untimed runs pay
    nothing."""

    def __init__(self, lineage_dir: str | None, stage: str):
        self.lineage_dir = lineage_dir
        self.stage = stage
        self.t0 = time.monotonic()
        self.grid0 = spatial_index.GRID_CALLS
        self.timers: dict[str, float] | None = {} if lineage_dir else None

    def finish(self, n_in: int, n_out: int) -> None:
        if not self.lineage_dir:
            return
        wall_ms = (time.monotonic() - self.t0) * 1000.0
        _write_lineage_ms(self.lineage_dir, self.stage, n_in, n_out, wall_ms)
        for phase, ms in sorted(self.timers.items()):
            _write_lineage_ms(self.lineage_dir, f"{self.stage}/{phase}",
                              n_in, n_out, ms)
        grid = spatial_index.GRID_CALLS - self.grid0
        if grid:
            _write_lineage_ms(self.lineage_dir, f"{self.stage}/grid_pages",
                              grid, grid, 0.0)


# --------------------------------------------------------------------------
# fused: docs → ordered spans in one doc-grain stage, zero shuffles
# --------------------------------------------------------------------------

def doc_fused_stage(docs_df, cfg: GenConfig, lineage_dir: str | None = None,
                    with_confidence: bool = False):
    """The zero-shuffle default path: a document is self-contained, so
    parse → layout → OCR → tables → assembly → reading order all run
    doc-locally in ONE mapInPandas stage (the serial oracle per doc,
    parallelized by partition). Model batches form per document:
    ``extract_doc_result`` sends one document's pages through
    process_page_batch.

    Why one Python stage: chaining two mapInPandas transforms runs TWO
    Python workers per task slot (the JVM pipes batches through both),
    which at local[C] oversubscribes the machine and inverts scaling.

    Trade-off vs the checkpointed page-grain path: no shuffle and
    near-perfect core scaling, but a mega-document is one task (fine
    while per-page cost is CPU-milliseconds; use the checkpointed path
    when page-level model stages — GPU layout/OCR/TableFormer — need
    cross-doc batching at page grain, or when stage checkpoints are
    required)."""
    cols = ["doc_id", "spans"] + (["confidence"] if with_confidence else [])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lineage = _TaskLineage(lineage_dir, "doc_fused")
        n = 0
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                n += 1
                # spans arrive from Arrow as fresh plain dicts and are
                # read-only downstream — no defensive copy needed
                res = extract_doc_result(doc_id, sorted(spans, key=_OFFSET_KEY),
                                         cfg, with_confidence=with_confidence,
                                         timers=lineage.timers)
                row = {"doc_id": doc_id, "spans": res["spans"]}
                if with_confidence:
                    row["confidence"] = res["confidence"]
                rows.append(row)
            yield pd.DataFrame(rows, columns=cols)
        lineage.finish(n, n)

    return docs_df.mapInPandas(
        fn, SPANS_CONF_SCHEMA if with_confidence else SPANS_OUT_SCHEMA
    )


# --------------------------------------------------------------------------
# S1: parse — docs → pages (the synthetic "PDF backend" scan)
# --------------------------------------------------------------------------

def parse_stage(docs_df, cfg: GenConfig, lineage_dir: str | None = None):
    """(doc_id, spans[]) → one row per page: cells + typeset `elements`
    (this corpus's stand-in for the rendered page image); detection runs
    in the separate :func:`detect_stage` model stage.

    Reference analogue: per-page load/parse (lambda_preprocessor.py:15-44);
    the detect stage mirrors layout_predictor_gpu.py:253-315.
    """
    cols = ["doc_id", "page_no", "width", "height", "cells", "elements"]

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lineage = _TaskLineage(lineage_dir, "parse")
        n_in = n_out = 0
        for pdf in batches:
            rows: list[dict[str, Any]] = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                n_in += 1
                # read-only like the fused stage's spans (no copy)
                for page in typeset(doc_id, sorted(spans, key=_OFFSET_KEY), cfg):
                    rows.append({
                        "doc_id": doc_id,
                        "page_no": page.page_no,
                        "width": page.width,
                        "height": page.height,
                        "cells": page.cells,
                        "elements": [element_to_dict(e) for e in page.elements],
                    })
            n_out += len(rows)
            yield pd.DataFrame(rows, columns=cols)
        lineage.finish(n_in, n_out)

    return docs_df.mapInPandas(fn, PARSED_PAGES_SCHEMA)


# --------------------------------------------------------------------------
# S2: layout detection — a batched model stage through the generic harness
# --------------------------------------------------------------------------

def detect_stage(parsed_df, cfg: GenConfig, lineage_dir: str | None = None):
    """Parsed pages (with typeset `elements`) → pages with detections.

    Runs the layout-detector seam (kernels/convert.layout_detector, which
    picks the model from ``cfg.detector``) through the generic model
    harness: executor-local lazy singleton detector, pages accumulated
    across Arrow record batches into fixed-size model calls, tail padded
    by repeating the last page's model input
    (layout_predictor_gpu.py:267-275 semantics)."""
    spec, input_fn, forward = layout_detector(cfg, pad_by_repeat=True)

    def item_fn(row: dict):
        page_no = int(row["page_no"])
        page = TypesetPage(
            page_no=page_no,
            width=float(row["width"]),
            height=float(row["height"]),
            # the detector reads cell geometry for the marker-only
            # split noise case — must match the fused path exactly
            cells=[dict(c) for c in row["cells"]],
            # the page image stand-in is not carried past detection
            elements=[element_from_dict(d, page_no) for d in row.pop("elements")],
        )
        return input_fn(row["doc_id"], page)

    def result_fn(row: dict, dets: list[dict]) -> dict:
        row["detections"] = dets
        return row

    def on_complete(n_rows: int, n_forwards: int, wall_ms: float) -> None:
        _write_lineage_ms(lineage_dir, "detect", n_rows, n_rows, wall_ms)

    return arrow_model_stage(parsed_df, spec, item_fn, forward, result_fn,
                             PAGES_SCHEMA, on_complete=on_complete)


# --------------------------------------------------------------------------
# S3+S5+S6: layout postprocess + OCR + tables + page assembly
# --------------------------------------------------------------------------

def layout_stage(pages_df, cfg: GenConfig, lineage_dir: str | None = None,
                 with_confidence: bool = False):
    """One row per page in, one row per page out: the page-batch core
    (layout post-processing, OCR fill, table-structure decoding) over
    each Arrow batch's pages with their materialized detections — OCR
    and table batches form ACROSS the pages of the batch (mirrors the
    reference's ≤128 cross-page table batches, tablemodel04_rs.py:
    186-202) — then page assembly (page_assemble_model.py port).
    Narrow — no shuffle.

    ``with_confidence`` computes PageConfidenceScores HERE — the page
    grain, where the post-processed clusters still exist — and ships one
    struct per page row (a partial aggregation) through the elements
    checkpoint; doc_assemble_stage folds them into the ConfidenceReport."""
    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if with_confidence:
            from ..kernels.confidence import page_confidence

        lineage = _TaskLineage(lineage_dir, "layout")
        n = 0
        for pdf in batches:
            items = [
                (doc_id, TypesetPage(page_no=int(page_no), width=float(width),
                                     height=float(height),
                                     cells=[dict(c) for c in cells]))
                for doc_id, page_no, width, height, cells in zip(
                    pdf["doc_id"], pdf["page_no"], pdf["width"],
                    pdf["height"], pdf["cells"])
            ]
            n += len(items)
            page_clusters = process_page_batch(
                items, cfg,
                detections=[[dict(d) for d in dets] for dets in pdf["detections"]],
            )
            data = {
                "doc_id": pdf["doc_id"],
                "page_no": pdf["page_no"],
                "elements": [
                    [{k: e[k] for k in _ELEMENT_KEYS}
                     for e in assemble_page_elements(doc_id, page.page_no, clusters)]
                    for (doc_id, page), clusters in zip(items, page_clusters)
                ],
            }
            if with_confidence:
                data["page_confidence"] = [
                    page_confidence(page.page_no, clusters)
                    for (_, page), clusters in zip(items, page_clusters)
                ]
            yield pd.DataFrame(data)
        lineage.finish(n, n)

    return pages_df.mapInPandas(
        fn, ELEMENTS_CONF_SCHEMA if with_confidence else ELEMENTS_SCHEMA
    )


# --------------------------------------------------------------------------
# S7: document assembly — elements → ordered spans per doc
# --------------------------------------------------------------------------

def doc_assemble_stage(elements_df, cfg: GenConfig,
                       lineage_dir: str | None = None,
                       with_confidence: bool = False):
    """Per-document assembly: co-locate each doc's pages via
    repartition(doc_id), then group INSIDE the partition and run reading
    order + caption/footnote attachment, emitting the ordered span array.

    Deliberately ``repartition + mapInPandas`` instead of
    ``groupBy().applyInPandas``: applyInPandas pays a per-GROUP Arrow
    round-trip (~1ms), which for millions of small documents dwarfs the
    real work; one Arrow stream per PARTITION with an in-Python groupby
    is ~100× cheaper per doc and scales with cores. The in-group page
    sort makes the result independent of shuffle order (SURVEY.md §7).
    This is the pipeline's single shuffle.
    """
    out_cols = ["doc_id", "spans"] + (["confidence"] if with_confidence else [])

    def assemble_doc(
        doc_id: str, pages: list[tuple[int, Any, Any]]
    ) -> dict[str, Any]:
        pages.sort(key=lambda x: x[0])
        elements: list[dict[str, Any]] = []
        for page_no, els, _pc in pages:
            for e in els:
                el = dict(e)
                el["page_no"] = page_no
                children = el.get("children")
                el["children"] = [] if children is None else [dict(c) for c in children]
                elements.append(el)
        out = {"doc_id": doc_id, "spans": assemble_doc_spans(elements, cfg)}
        if with_confidence:
            from ..kernels.confidence import doc_confidence

            out["confidence"] = doc_confidence(
                [dict(pc) for _, _, pc in pages if pc is not None]
            )
        return out

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        lineage = _TaskLineage(lineage_dir, "assemble")
        by_doc: dict[str, list[tuple[int, Any, Any]]] = {}
        for pdf in batches:
            confs = (
                pdf["page_confidence"]
                if with_confidence and "page_confidence" in pdf.columns
                else [None] * len(pdf)
            )
            for doc_id, page_no, els, pc in zip(
                pdf["doc_id"], pdf["page_no"], pdf["elements"], confs
            ):
                by_doc.setdefault(doc_id, []).append((int(page_no), els, pc))
        # grouping requires buffering the partition's input, but the OUTPUT
        # streams in bounded chunks (popping inputs as we go) so peak
        # memory doesn't double with partition size
        n_docs = len(by_doc)
        chunk: list[dict[str, Any]] = []
        for doc_id in list(by_doc):
            chunk.append(assemble_doc(doc_id, by_doc.pop(doc_id)))
            if len(chunk) >= 256:
                yield pd.DataFrame(chunk, columns=out_cols)
                chunk = []
        lineage.finish(n_docs, n_docs)
        yield pd.DataFrame(chunk, columns=out_cols)

    n = elements_df.sparkSession.sparkContext.defaultParallelism * 2
    return elements_df.repartition(n, "doc_id").mapInPandas(
        fn, SPANS_CONF_SCHEMA if with_confidence else SPANS_OUT_SCHEMA
    )
