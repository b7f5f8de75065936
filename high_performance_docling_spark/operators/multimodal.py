"""Multimodal (image/audio/video) column plumbing.

Media travel as opaque ``binary`` columns with a typed metadata struct —
the Spark-side schema/partitioning/UDF plumbing is real and tested
(the ``media_features`` registry entry). The IMAGE codec path is real:
``real_codecs=True`` decodes actual PNG and GIF bytes via the
pure-Python codecs (kernels/png_codec.py, kernels/gif_codec.py) and
computes features over decoded PIXELS. Audio and video under
``real_codecs`` raise ``NotImplementedError``: their codecs are a
production seam.

Reference analogue: figure crops as content-addressed refs
(document_assembler.py:62-90) and image batches through model stages
(fork/layout/gpu_preprocess.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("n_frames", T.IntegerType(), True),
                    T.StructField("sample_rate", T.IntegerType(), True),
                ]
            ),
            False,
        ),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),
        T.StructField("n_bytes", T.IntegerType(), False),
        T.StructField("byte_mean", T.DoubleType(), False),
        T.StructField("byte_entropy", T.DoubleType(), False),
        # comma-joined string, not array<int>: the driver's canonical
        # sort/hash needs hashable scalars, and a string column keeps the
        # whole row SQL-oracle-able
        T.StructField("frame_indexes", T.StringType(), False),
    ]
)


def synth_media(docs_df: DataFrame) -> DataFrame:
    """Derive a deterministic media table from the documents table: the
    payload is sha256-stream bytes of the text (a stand-in for real
    image/audio bytes), typed round-robin by doc_id."""
    mt = (
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
    )
    payload = F.sha2(F.col("text").cast("binary"), 256).cast("binary")
    meta = F.struct(
        F.when(mt == "image", (F.col("doc_id") % 640 + 16).cast("int")).alias("width"),
        F.when(mt == "image", (F.col("doc_id") % 480 + 16).cast("int")).alias("height"),
        F.when(mt == "video", (F.col("doc_id") % 90 + 10).cast("int")).alias("n_frames"),
        F.when(mt == "audio", F.lit(16000).cast("int")).alias("sample_rate"),
    )
    return docs_df.select(
        F.col("doc_id").alias("media_id"),
        mt.alias("media_type"),
        payload.alias("payload"),
        meta.alias("meta"),
    )


def _entropy(data: bytes) -> float:
    import math

    if not data:
        return 0.0
    counts: dict[int, int] = {}
    for b in data:
        counts[b] = counts.get(b, 0) + 1
    n = len(data)
    # canonical (ascending byte value) summation order so the DuckDB
    # oracle (list_sort(list_distinct(...))) folds in the same order
    return round(-sum(c / n * math.log2(c / n) for _, c in sorted(counts.items())), 6)


def decode_media_batch(df: DataFrame, real_codecs: bool = False) -> DataFrame:
    """Vectorized 'decode / feature-extract / frame-sample' stage: one
    Arrow batch of payloads in, one batch of features out.

    ``real_codecs=False`` (the synthetic path) computes byte-level
    features over the opaque payload. ``real_codecs=True`` DECODES image
    payloads as real PNGs or GIFs (kernels/{png,gif}_codec.py, sniffed
    by container magic) and computes the same features over the decoded
    pixel array instead — n_bytes is the decoded byte count,
    byte_mean/byte_entropy are decoded-content statistics. Any other
    media type under real_codecs raises NotImplementedError (no audio or
    video codec in this package)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, mtype, payload, meta in zip(
                pdf["media_id"], pdf["media_type"], pdf["payload"], pdf["meta"]
            ):
                data = bytes(payload)
                n_frames = (meta or {}).get("n_frames") or 0
                if real_codecs:
                    if mtype != "image":
                        raise NotImplementedError(
                            f"no {mtype!r} codec under real_codecs"
                        )
                    # container sniff: GIF, else PNG
                    if data[:6] in (b"GIF87a", b"GIF89a"):
                        from ..kernels.gif_codec import decode_gif

                        data = decode_gif(data)[0][0].tobytes()
                    else:
                        from ..kernels.png_codec import decode_png

                        data = decode_png(data).tobytes()
                # frame sampling: every 10th frame, deterministic
                frames = (
                    ",".join(str(i) for i in range(0, int(n_frames), 10))
                    if mtype == "video"
                    else ""
                )
                rows.append(
                    {
                        "media_id": int(mid),
                        "media_type": mtype,
                        "n_bytes": len(data),
                        "byte_mean": round(sum(data) / len(data), 6) if data else 0.0,
                        "byte_entropy": _entropy(data),
                        "frame_indexes": frames,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "n_bytes", "byte_mean",
                    "byte_entropy", "frame_indexes",
                ],
            )

    return df.mapInPandas(fn, FEATURES_SCHEMA)


def content_address(df: DataFrame) -> DataFrame:
    """Content-addressed media refs (the figure-crop media_ref pattern)."""
    return df.select(
        "media_id",
        F.concat(F.lit("img:"), F.substring(F.sha2(F.col("payload"), 256), 1, 16)).alias(
            "media_ref"
        ),
    )
