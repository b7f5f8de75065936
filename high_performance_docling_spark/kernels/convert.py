"""Shared page-batch conversion core: postprocess → OCR → tables.

Used by both the Spark stages (operators/stages.py) and the serial
oracle so the two can't drift. The layout-detector and OCR model seams
live here too, so every path builds its models the same way.

OCR stage (reference: gpu_processor.py:204-288):
  - identify: text-labeled clusters with zero cells (:204-234) — requires
    the layout post-processor to keep empty clusters
    (cfg.keep_empty_clusters, mirroring LayoutOptions.keep_empty_clusters)
  - batch "inference" in chunks of 32 (:236-258) — the TrOCR model is
    replaced by :func:`synth_ocr_text`, a deterministic function of the
    crop identity (doc, page, bbox), with the batching seam preserved
  - re-join: OCR text appended to its cluster as a from_ocr cell with the
    cluster bbox, confidence 0.9 (:260-288)
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import Any

from ..corpus import GenConfig, TypesetPage, synth_detections
from ..labels import CAPTION, FOOTNOTE, LIST_ITEM, SECTION_HEADER, TEXT
from ..operators.model_harness import FixedBatcher, ModelSpec
from .layout_postprocess import postprocess_page
from .table_decode import attach_table_structures

OCR_TEXT_LABELS = {TEXT, SECTION_HEADER, CAPTION, FOOTNOTE, LIST_ITEM}
OCR_BATCH_SIZE = 32  # gpu_processor.py:236
_OCR_CELL_INDEX_BASE = 10**9  # synthetic index keeps OCR cells after native ones


def synth_ocr_text(doc_id: str, page_no: int, l: float, t: float, r: float, b: float) -> str:
    """Deterministic stand-in for TrOCR: the 'recognized' text is a pure
    function of the crop identity, so the corpus generator and the OCR
    stage agree exactly."""
    # terminal '.' keeps OCR'd text merge-proof: predict_merges must
    # never chain a scanned region into the following paragraph
    return (
        f"scanned region {int(round(l))} {int(round(t))} "
        f"{int(round(r))} {int(round(b))} of {doc_id} p{page_no}."
    )


class SynthOcrModel:
    """Executor-local singleton 'recognizer'. A real TrOCR load replaces
    __init__ (gpu_processor.py model init); recognize_batch stays one
    batched generate() per <=OCR_BATCH_SIZE crops."""

    def __init__(self) -> None:
        self.n_forward_calls = 0

    def recognize_batch(self, crops: list[tuple[str, int, float, float, float, float]]) -> list[str]:
        self.n_forward_calls += 1
        return [synth_ocr_text(*crop) for crop in crops]


_OCR_MODEL_SPEC = ModelSpec(
    name="synth-ocr",
    loader=SynthOcrModel,
    batch_size=OCR_BATCH_SIZE,
    pad_by_repeat=False,  # CPU stand-in; a static-shape GPU model pads
)


def apply_ocr(
    meta: list[tuple[str, int]], page_clusters: list[list[dict]]
) -> None:
    """Identify OCR regions across a batch of pages (meta = (doc_id,
    page_no) per entry), run the batched recognizer through the model
    harness (executor-local singleton, fixed 32-crop batches —
    gpu_processor.py:236-258), join results back onto their clusters
    (mutates page_clusters). OCR batches form across documents, like the
    reference's cross-page batching."""
    tasks: list[tuple[int, dict]] = []
    for pi, clusters in enumerate(page_clusters):
        for cluster in clusters:
            if cluster["label"] in OCR_TEXT_LABELS and len(cluster["cells"]) == 0:
                tasks.append((pi, cluster))
    if not tasks:
        return
    batcher = FixedBatcher(_OCR_MODEL_SPEC, SynthOcrModel.recognize_batch)
    crops = [
        (meta[pi][0], meta[pi][1], cl["l"], cl["t"], cl["r"], cl["b"])
        for pi, cl in tasks
    ]
    for (pi, cl), text in zip(tasks, batcher.run(crops)):
        cl["cells"].append(
            {
                "index": _OCR_CELL_INDEX_BASE + int(cl["id"]),
                "text": text,
                "l": cl["l"], "t": cl["t"], "r": cl["r"], "b": cl["b"],
                "from_ocr": True,
                "confidence": 0.9,
            }
        )


class SynthLayoutDetector:
    """Executor-local singleton 'model'. A real deployment replaces this
    class with the RT-DETR load (weights, processor, warm-up —
    layout_predictor_gpu.py:92-137) and predict_batch with one batched
    forward; the Spark stage around it does not change."""

    def __init__(self, cfg: GenConfig):
        self.cfg = cfg
        self.n_forward_calls = 0

    def predict_batch(self, items: list[tuple[str, TypesetPage]]) -> list[list[dict]]:
        # ONE batched forward pass per call (the GPU-inference slot)
        self.n_forward_calls += 1
        return [synth_detections(doc_id, page, self.cfg) for doc_id, page in items]


def layout_detector(
    cfg: GenConfig, pad_by_repeat: bool
) -> tuple[ModelSpec, Callable[[str, TypesetPage], Any], Callable]:
    """The layout-detection model seam for ``cfg.detector``: (spec,
    input_fn, forward), shared by the fused/oracle path (unpadded) and
    the checkpointed detect_stage (padded to a static batch shape), both
    in the spec's default fixed 32-page batches.
    "synth" replays ground-truth boxes + recoverable noise from the
    (doc_id, page) pair; "conv" renders each page to a float32 CHW
    raster in input_fn, so pad-by-repeat repeats real image tensors and
    each call is one NCHW convolution forward
    (kernels/toy_models.ConvLayoutDetector)."""
    if cfg.detector == "conv":
        from .toy_models import ConvLayoutDetector, render_detect_input

        def conv_input(doc_id: str, page: TypesetPage):
            return render_detect_input(page.width, page.height, [
                {"label": e.label, "l": e.l, "t": e.t, "r": e.r, "b": e.b}
                for e in page.elements
            ])

        spec = ModelSpec(name="conv-layout-detector", loader=ConvLayoutDetector,
                         pad_by_repeat=pad_by_repeat)
        return spec, conv_input, ConvLayoutDetector.predict_batch
    spec = ModelSpec(
        name=f"synth-layout-detector:{cfg!r}",  # full cfg: any field changes detector behavior
        loader=lambda: SynthLayoutDetector(cfg),
        pad_by_repeat=pad_by_repeat,
    )
    return spec, lambda doc_id, page: (doc_id, page), SynthLayoutDetector.predict_batch


def _detect_batch(
    items: list[tuple[str, TypesetPage]], cfg: GenConfig
) -> list[list[dict]]:
    """Unpadded layout detection through the same seam and harness as
    the checkpointed detect_stage."""
    spec, input_fn, forward = layout_detector(cfg, pad_by_repeat=False)
    return FixedBatcher(spec, forward).run([input_fn(*item) for item in items])


def phase_marker(timers: dict[str, float] | None) -> Callable[[str, float], float]:
    """``mark(key, t0)`` adds the wall ms since ``t0`` to ``timers[key]``
    (when timers is not None) and returns the new monotonic time."""
    def mark(key: str, t0: float) -> float:
        t1 = time.monotonic()
        if timers is not None:
            timers[key] = timers.get(key, 0.0) + (t1 - t0) * 1000.0
        return t1

    return mark


def process_page_batch(
    items: list[tuple[str, TypesetPage]], cfg: GenConfig,
    timers: dict[str, float] | None = None,
    detections: list[list[dict]] | None = None,
) -> list[list[dict]]:
    """Detect (unless ``detections`` are given), layout postprocess each
    page, then OCR fill, then table structure — layout, OCR and table
    model batches all form across the whole batch (one document in the
    fused path and the oracle; a mix of documents in the checkpointed
    layout stage), each through the executor-local harness singleton.

    ``detections`` (one raw proposal list per page) comes from the
    checkpointed path, where the detect stage already materialized them.

    ``timers`` (optional) accumulates per-phase wall ms under the
    reference's timer field names (gpu_processor.py:102-129 layout
    predict/postprocess, :204-234 OCR; tf_predictor.py:556-562 tables) —
    the lineage sink turns them into the per-run timer dump."""
    _mark = phase_marker(timers)
    t = time.monotonic()
    if detections is None:
        detections = _detect_batch(items, cfg)
        t = _mark("layout_predict", t)
    page_clusters = [
        postprocess_page(
            p.width, p.height, p.cells, dets,
            keep_empty_clusters=cfg.keep_empty_clusters,
        )
        for (doc_id, p), dets in zip(items, detections)
    ]
    t = _mark("layout_postprocess", t)
    if cfg.keep_empty_clusters:
        apply_ocr([(doc_id, p.page_no) for doc_id, p in items], page_clusters)
        t = _mark("ocr", t)
    attach_table_structures(page_clusters, [p.cells for _, p in items])
    _mark("table_structure", t)
    return page_clusters
