"""Spark schemas for every stage boundary (SURVEY.md §1).

Fixed, declared schemas throughout — the reference declares its shapes via
pydantic (base_models.py); we declare them as StructTypes. No inference.
Geometry is float64 (Arrow default), ids are int64/int32, labels are
strings (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import types as T

# S0 — input corpus row (BASELINE.json input_hint).
SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ]
)
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

# S1 — page grain (reference Page/TextCell: base_models.py:256-335).
CELL_STRUCT = T.StructType(
    [
        T.StructField("index", T.LongType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("l", T.DoubleType(), False),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("r", T.DoubleType(), False),
        T.StructField("b", T.DoubleType(), False),
        T.StructField("from_ocr", T.BooleanType(), False),
        T.StructField("confidence", T.DoubleType(), False),
    ]
)
DETECTION_STRUCT = T.StructType(
    [
        T.StructField("id", T.IntegerType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("l", T.DoubleType(), False),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("r", T.DoubleType(), False),
        T.StructField("b", T.DoubleType(), False),
        T.StructField("confidence", T.DoubleType(), False),
    ]
)
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("width", T.DoubleType(), False),
        T.StructField("height", T.DoubleType(), False),
        T.StructField("cells", T.ArrayType(CELL_STRUCT), False),
        T.StructField("detections", T.ArrayType(DETECTION_STRUCT), False),
    ]
)

# S1a — parsed pages BEFORE layout detection: `elements` is the typeset
# ground truth the synthetic detector consumes, i.e. this corpus's stand-in
# for the rendered page image a real RT-DETR stage would read. The checkpointed
# pipeline materializes this boundary so the detect stage is a separate,
# checkpointable, GPU-batchable model stage (layout_predictor_gpu.py role).
TYPESET_ELEMENT_STRUCT = T.StructType(
    [
        T.StructField("span_ix", T.IntegerType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("l", T.DoubleType(), False),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("r", T.DoubleType(), False),
        T.StructField("b", T.DoubleType(), False),
        T.StructField("cell_ixs", T.ArrayType(T.IntegerType()), False),
        T.StructField("scanned", T.BooleanType(), False),
    ]
)
PARSED_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("width", T.DoubleType(), False),
        T.StructField("height", T.DoubleType(), False),
        T.StructField("cells", T.ArrayType(CELL_STRUCT), False),
        T.StructField("elements", T.ArrayType(TYPESET_ELEMENT_STRUCT), False),
    ]
)

# S3+S6 — assembled page elements (reference AssembledUnit per page,
# base_models.py:243-246; children flattened one level, SURVEY.md §1.1).
CHILD_STRUCT = T.StructType(
    [
        T.StructField("label", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
    ]
)
ELEMENT_STRUCT = T.StructType(
    [
        T.StructField("label", T.StringType(), False),
        T.StructField("l", T.DoubleType(), False),
        T.StructField("t", T.DoubleType(), False),
        T.StructField("r", T.DoubleType(), False),
        T.StructField("b", T.DoubleType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("children", T.ArrayType(CHILD_STRUCT), False),
    ]
)
ELEMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("elements", T.ArrayType(ELEMENT_STRUCT), False),
    ]
)

# S7 — output spans per document (the north-rule contract).
OUT_SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("order", T.IntegerType(), False),
    ]
)
SPANS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(OUT_SPAN_STRUCT), False),
    ]
)

# ConfidenceReport on extraction output (base_models.py:379-459): per-page
# 4-score struct + grades, doc-level mean/low roll-up. Scores the pipeline
# never set (the reference's np.nan) serialize as SQL NULL — Arrow's
# pandas conversion maps NaN to null, so null IS the NaN wire format here;
# the NaN math (nanmean/nanquantile/grades) lives in kernels/confidence.py.
PAGE_CONFIDENCE_STRUCT = T.StructType(
    [
        T.StructField("page_no", T.IntegerType(), False),
        T.StructField("parse_score", T.DoubleType(), True),
        T.StructField("layout_score", T.DoubleType(), True),
        T.StructField("table_score", T.DoubleType(), True),
        T.StructField("ocr_score", T.DoubleType(), True),
        T.StructField("mean_score", T.DoubleType(), True),
        T.StructField("low_score", T.DoubleType(), True),
        T.StructField("mean_grade", T.StringType(), False),
        T.StructField("low_grade", T.StringType(), False),
    ]
)
# Staged-path carrier: the elements stage computes PageConfidenceScores
# where the post-processed clusters still exist (the page grain — a
# PARTIAL aggregation in the Spark sense) and ships one nullable struct
# per page row; doc assembly folds them into the ConfidenceReport.
ELEMENTS_CONF_SCHEMA = T.StructType(
    list(ELEMENTS_SCHEMA.fields)
    + [T.StructField("page_confidence", PAGE_CONFIDENCE_STRUCT, True)]
)
DOC_CONFIDENCE_STRUCT = T.StructType(
    [
        T.StructField("mean_score", T.DoubleType(), True),
        T.StructField("low_score", T.DoubleType(), True),
        T.StructField("mean_grade", T.StringType(), False),
        T.StructField("low_grade", T.StringType(), False),
        T.StructField("pages", T.ArrayType(PAGE_CONFIDENCE_STRUCT), False),
    ]
)
SPANS_CONF_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(OUT_SPAN_STRUCT), False),
        T.StructField("confidence", DOC_CONFIDENCE_STRUCT, False),
    ]
)
