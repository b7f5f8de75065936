"""Serial reference-faithful pipeline (the "golden oracle").

Runs the exact same kernels as the Spark stages, eagerly and in-process,
one document at a time — mirroring the reference's single-process flow
(/root/reference/main.py:53-93: preprocess → layout → postprocess →
assemble → reading order). pytest asserts Spark output == this oracle
exactly (FIXTURES.md §5), so the Spark plumbing (Arrow schemas,
partitioning, shuffles, checkpoints) is what the equality tests exercise.
"""

from __future__ import annotations

import time
from typing import Any

from .corpus import GenConfig, typeset
from .kernels.assemble import assemble_page_elements
from .kernels.convert import phase_marker, process_page_batch
from .kernels.reading_order import assemble_spans


def assemble_doc_spans(
    elements: list[dict[str, Any]], cfg: GenConfig
) -> list[dict[str, Any]]:
    """A document's page elements, in page order → its ordered spans.
    Numbers the elements with doc-global cids (readingorder_model.py:61),
    then runs reading order with the cfg's flags. Shared by the oracle
    and the checkpointed path's doc_assemble_stage."""
    for cid, el in enumerate(elements):
        el["cid"] = cid
    return assemble_spans(
        elements,
        enable_merges=cfg.enable_merges,
        process_list_markers=cfg.process_list_markers,
        reading_order_mode=cfg.reading_order_mode,
        enrich_formulas=cfg.enrich_formulas,
    )


def extract_doc_spans(
    doc_id: str, spans: list[dict[str, Any]], cfg: GenConfig
) -> list[dict[str, Any]]:
    """docs-row → ordered output spans [(kind, text, media_ref, order)]."""
    return extract_doc_result(doc_id, spans, cfg)["spans"]


def extract_doc_result(
    doc_id: str, spans: list[dict[str, Any]], cfg: GenConfig,
    with_confidence: bool = False,
    timers: dict[str, float] | None = None,
) -> dict[str, Any]:
    """docs-row → {"spans": [...], "confidence": ConfidenceReport dict}.

    The confidence struct is the reference's per-page + per-document
    quality report (base_models.py:379-459), computed from the same
    post-processed clusters the spans come from (layout_model.py:243-249
    hook point). ``timers`` accumulates per-phase wall ms (parse /
    layout_predict / layout_postprocess / ocr / table_structure /
    doc_assemble) — the reference's stage-timer analogue."""
    _mark = phase_marker(timers)
    t = time.monotonic()
    pages = typeset(doc_id, spans, cfg)
    t = _mark("parse", t)
    page_clusters = process_page_batch(
        [(doc_id, p) for p in pages], cfg, timers=timers
    )
    t = time.monotonic()
    elements: list[dict[str, Any]] = []
    for page, clusters in zip(pages, page_clusters):
        elements.extend(assemble_page_elements(doc_id, page.page_no, clusters))
    out: dict[str, Any] = {"spans": assemble_doc_spans(elements, cfg)}
    _mark("doc_assemble", t)
    if with_confidence:
        from .kernels.confidence import doc_confidence, page_confidence

        out["confidence"] = doc_confidence(
            [
                page_confidence(page.page_no, clusters)
                for page, clusters in zip(pages, page_clusters)
            ]
        )
    return out
