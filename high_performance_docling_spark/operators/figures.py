"""Figure-image sink: page render → picture crops as binary rows.

The reference's _extract_figure_images (document_assembler.py:62-90)
crops each PictureItem's bbox out of the rendered page image and stores
it as an ImageRef. Here pages render through the deterministic bitmap
stand-in (kernels/image_ops.py) and each picture element becomes one
output row carrying the crop as REAL PNG BYTES (kernels/png_codec.py —
the reference stores PIL images; ours round-trip through an actual
image format) plus the same content-addressed
media_ref the span pipeline emits — so `extract_figures(...)` joins
1:1 with the `media_ref`s in `extract_spans(...)` output (asserted in
tests/test_training_ops.py).

Scale shape: one mapInPandas over docs (doc-grain, zero shuffle), crops
are page-local; the output is the write-side of a media table keyed by
media_ref (content-addressed, so exact-dedup of identical crops is a
groupBy(media_ref) away).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, types as T

from ..corpus import GenConfig, media_ref_for_crop, typeset
from ..kernels.image_ops import RENDER_SCALE, crop_bitmap, render_page_bitmap
from ..kernels.png_codec import encode_png
from ..labels import PICTURE

FIGURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("l", T.DoubleType(), False),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("r", T.DoubleType(), False),
        T.StructField("b", T.DoubleType(), False),
        T.StructField("crop", T.BinaryType(), False),
        T.StructField("crop_h", T.IntegerType(), False),
        T.StructField("crop_w", T.IntegerType(), False),
        T.StructField("crop_sha", T.StringType(), False),
    ]
)


def extract_figures(docs_df: DataFrame, cfg: GenConfig) -> DataFrame:
    """(doc_id, spans[]) → one row per picture element with crop bytes."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
                span_list = [dict(s) for s in spans]
                span_list.sort(key=lambda s: s["offset"])
                for page in typeset(doc_id, span_list, cfg):
                    pics = [e for e in page.elements if e.label == PICTURE]
                    if not pics:
                        continue
                    img = render_page_bitmap(
                        page.width, page.height,
                        [[c["l"], c["t"], c["r"], c["b"]] for c in page.cells],
                        pictures=[[e.l, e.t, e.r, e.b] for e in pics],
                    )
                    for e in pics:
                        crop = crop_bitmap(img, [e.l, e.t, e.r, e.b], RENDER_SCALE)
                        data = encode_png(crop)
                        rows.append(
                            {
                                "doc_id": doc_id,
                                "page_no": page.page_no,
                                "media_ref": media_ref_for_crop(
                                    doc_id, page.page_no, e.l, e.t, e.r, e.b
                                ),
                                "l": e.l, "t": e.t, "r": e.r, "b": e.b,
                                "crop": data,
                                "crop_h": int(crop.shape[0]),
                                "crop_w": int(crop.shape[1]),
                                "crop_sha": hashlib.sha256(data).hexdigest(),
                            }
                        )
            yield pd.DataFrame(rows, columns=[f.name for f in FIGURES_SCHEMA.fields])

    return docs_df.mapInPandas(fn, FIGURES_SCHEMA)
