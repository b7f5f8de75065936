"""Document-item label vocabulary and label-set constants.

Mirrors the label taxonomy the reference pipeline operates on (DocItemLabel
values used throughout /root/reference/base_models.py and
fork/layout/layout_postprocessor.py) without importing docling. Labels are
plain lowercase strings so they round-trip cleanly through Spark columns.
"""

from __future__ import annotations

# --- label constants -------------------------------------------------------
CAPTION = "caption"
FOOTNOTE = "footnote"
FORMULA = "formula"
LIST_ITEM = "list_item"
PAGE_FOOTER = "page_footer"
PAGE_HEADER = "page_header"
PICTURE = "picture"
SECTION_HEADER = "section_header"
TABLE = "table"
TEXT = "text"
TITLE = "title"
DOCUMENT_INDEX = "document_index"
CODE = "code"
CHECKBOX_SELECTED = "checkbox_selected"
CHECKBOX_UNSELECTED = "checkbox_unselected"
FORM = "form"
KEY_VALUE_REGION = "key_value_region"

ALL_LABELS = [
    CAPTION, FOOTNOTE, FORMULA, LIST_ITEM, PAGE_FOOTER, PAGE_HEADER,
    PICTURE, SECTION_HEADER, TABLE, TEXT, TITLE, DOCUMENT_INDEX, CODE,
    CHECKBOX_SELECTED, CHECKBOX_UNSELECTED, FORM, KEY_VALUE_REGION,
]

# --- label sets used by page assembly (reference: docling LayoutModel label
# sets, consumed at page_assemble_model.py:88-152) --------------------------
TEXT_ELEM_LABELS = {
    CAPTION, FOOTNOTE, FORMULA, LIST_ITEM, PAGE_FOOTER, PAGE_HEADER,
    SECTION_HEADER, TEXT, CODE, CHECKBOX_SELECTED, CHECKBOX_UNSELECTED,
    TITLE,
}
TABLE_LABELS = {TABLE, DOCUMENT_INDEX}
FIGURE_LABEL = PICTURE
CONTAINER_LABELS = {FORM, KEY_VALUE_REGION}

# --- layout post-processing constants (reference:
# fork/layout/layout_postprocessor.py:284-321) ------------------------------

# Per-label confidence thresholds; clusters scoring below their label's
# threshold are dropped in the filter step (:410-415, :478-483).
CONFIDENCE_THRESHOLDS = {
    CAPTION: 0.5,
    FOOTNOTE: 0.5,
    FORMULA: 0.5,
    LIST_ITEM: 0.5,
    PAGE_FOOTER: 0.5,
    PAGE_HEADER: 0.5,
    PICTURE: 0.5,
    SECTION_HEADER: 0.45,
    TABLE: 0.5,
    TEXT: 0.5,
    TITLE: 0.45,
    CODE: 0.45,
    CHECKBOX_SELECTED: 0.45,
    CHECKBOX_UNSELECTED: 0.45,
    FORM: 0.45,
    KEY_VALUE_REGION: 0.45,
    DOCUMENT_INDEX: 0.45,
}

# Label remap applied after the confidence filter (:318-321, :417-420).
LABEL_REMAP = {TITLE: SECTION_HEADER}

# Cluster families (:290-296). NOTE: this fork counts TABLE and
# DOCUMENT_INDEX among the wrapper types, so tables take the "special"
# path (child assignment + wrapper overlap resolution).
WRAPPER_LABELS = {FORM, KEY_VALUE_REGION, TABLE, DOCUMENT_INDEX}
SPECIAL_LABELS = WRAPPER_LABELS | {PICTURE}

# Overlap-resolution parameters per cluster family (:284-288).
OVERLAP_PARAMS = {
    "regular": {"area_threshold": 1.3, "conf_threshold": 0.05},
    "picture": {"area_threshold": 2.0, "conf_threshold": 0.3},
    "wrapper": {"area_threshold": 2.0, "conf_threshold": 0.2},
}
