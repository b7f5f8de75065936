"""Driver-facing query registry: Spark implementations + DuckDB oracles.

Each entry demonstrates an extraction-engine operator from SURVEY.md §2
on the `documents` table, with an ANSI-SQL oracle that
scripts/verify_queries.py cross-checks in DuckDB. Non-SQL-expressible
entries (the docling extraction pipeline itself) have no oracle and get
a rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .util import read_table

    return read_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# the extraction engine itself (rows-only check; the real correctness gate
# is tests/test_pipeline_e2e.py's span equality vs the serial oracle)
# --------------------------------------------------------------------------

def q_extract_spans_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: synthesize the interleaved corpus and run S0→S7, returning
    exploded (doc_id, kind, text, media_ref, order) rows."""
    from .corpus import GenConfig
    from .pipeline import docs_dataframe, extract_spans

    n_docs = 60 if "0.001" in sf_dir else (120 if "0.01" in sf_dir else 240)
    cfg = GenConfig(seed=42, n_docs=n_docs)
    docs = docs_dataframe(spark, cfg, num_partitions=16)
    out = extract_spans(spark, docs, cfg)
    return out.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.order").alias("ord"),
    )


def q_extract_spans_ocr_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2E extraction with the OCR stage active: ~25% of blocks are
    scanned (no extractable text); empty clusters survive to the OCR fill
    (rows-only; correctness gate is tests/test_ocr.py)."""
    from .corpus import GenConfig
    from .pipeline import docs_dataframe, extract_spans

    cfg = GenConfig(seed=13, n_docs=40, ocr_frac=0.25, keep_empty_clusters=True)
    docs = docs_dataframe(spark, cfg, num_partitions=8)
    out = extract_spans(spark, docs, cfg)
    return out.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.order").alias("ord"),
    )


# --------------------------------------------------------------------------
# export sink, format registry, HTML extraction and formula enrichment
# --------------------------------------------------------------------------

def q_export_markdown(spark, sf_dir):
    """Markdown rendering through the real to_markdown operator (the
    pipeline's export sink), fed driver-table-derived spans so DuckDB
    can oracle the byte-exact output: each document becomes 7 spans
    (title/section/list/code/formula/text/page_header) of 5 tokens each,
    with REVERSED order values so the renderer's array_sort is exercised
    (page_header must also be dropped as furniture). Pipeline-output
    rendering itself is covered by tests/test_export_enrichment.py."""
    from . import labels as L
    from .operators.export import to_markdown

    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    kinds = [L.TITLE, L.SECTION_HEADER, L.LIST_ITEM, L.CODE, L.FORMULA,
             L.TEXT, L.PAGE_HEADER]
    spans = F.array(
        *[
            F.struct(
                F.lit(k).alias("kind"),
                F.concat_ws(" ", F.slice(toks, i * 5 + 1, 5)).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(len(kinds) - 1 - i).cast("int").alias("order"),
            )
            for i, k in enumerate(kinds)
        ]
    )
    # short docs leave trailing spans empty — drop them (both sides)
    spans = F.filter(spans, lambda s: s["text"] != "")
    return to_markdown(docs.select("doc_id", spans.alias("spans"))).orderBy("doc_id")


ORACLE_EXPORT_MARKDOWN = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks FROM documents
),
s AS (
  SELECT doc_id,
    array_to_string(toks[1:5],   ' ') AS s0,
    array_to_string(toks[6:10],  ' ') AS s1,
    array_to_string(toks[11:15], ' ') AS s2,
    array_to_string(toks[16:20], ' ') AS s3,
    array_to_string(toks[21:25], ' ') AS s4,
    array_to_string(toks[26:30], ' ') AS s5
  FROM t
)
SELECT doc_id,
  concat_ws(chr(10) || chr(10),
    nullif(coalesce(s5, ''), ''),
    '$$' || nullif(coalesce(s4, ''), '') || '$$',
    '```' || chr(10) || nullif(coalesce(s3, ''), '') || chr(10) || '```',
    '- ' || nullif(coalesce(s2, ''), ''),
    '## ' || nullif(coalesce(s1, ''), ''),
    '# ' || nullif(coalesce(s0, ''), '')) AS markdown
FROM s ORDER BY doc_id
"""


def q_detect_format(spark, sf_dir):
    """Format registry (base_models.py:72-124 InputFormat maps) as an
    oracled query: deterministic filenames over `documents`, extension →
    format via the real when()-chain operator, format → MIME."""
    from .operators.export import FORMAT_TO_MIME, detect_format

    docs = _t(spark, sf_dir, "documents")
    exts = ["pdf", "docx", "pptx", "htm", "jpeg", "adoc", "md", "csv",
            "xlsx", "weird"]
    ext = F.element_at(F.array(*[F.lit(e) for e in exts]),
                       (F.col("doc_id") % 10 + 1).cast("int"))
    named = docs.select(
        "doc_id",
        F.concat(F.lit("doc_"), F.col("doc_id").cast("string"), F.lit("."), ext)
        .alias("filename"),
    )
    out = detect_format(named)
    mime = None
    for fmt, m in FORMAT_TO_MIME.items():
        mime = (F.when(F.col("format") == fmt, m) if mime is None
                else mime.when(F.col("format") == fmt, m))
    mime = mime.otherwise(F.lit("application/octet-stream"))
    return out.select("doc_id", "filename", "format", mime.alias("mime")).orderBy(
        "doc_id"
    )


ORACLE_DETECT_FORMAT = """
WITH named AS (
  SELECT doc_id,
         'doc_' || doc_id || '.' ||
         ['pdf','docx','pptx','htm','jpeg','adoc','md','csv','xlsx','weird']
           [(doc_id % 10 + 1)::INT] AS filename
  FROM documents
),
f AS (
  SELECT doc_id, filename,
         CASE regexp_extract(lower(filename), '\\.([a-z0-9]+)$', 1)
              WHEN 'pdf' THEN 'pdf' WHEN 'docx' THEN 'docx'
              WHEN 'pptx' THEN 'pptx' WHEN 'htm' THEN 'html'
              WHEN 'jpeg' THEN 'image' WHEN 'adoc' THEN 'asciidoc'
              WHEN 'md' THEN 'md' WHEN 'csv' THEN 'csv'
              WHEN 'xlsx' THEN 'xlsx' ELSE 'unknown' END AS format
  FROM named
)
SELECT doc_id, filename, format,
       CASE format
            WHEN 'pdf' THEN 'application/pdf'
            WHEN 'docx' THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
            WHEN 'pptx' THEN 'application/vnd.openxmlformats-officedocument.presentationml.presentation'
            WHEN 'html' THEN 'text/html'
            WHEN 'image' THEN 'image/png'
            WHEN 'asciidoc' THEN 'text/asciidoc'
            WHEN 'md' THEN 'text/markdown'
            WHEN 'csv' THEN 'text/csv'
            WHEN 'xlsx' THEN 'application/vnd.openxmlformats-officedocument.spreadsheetml.sheet'
            ELSE 'application/octet-stream' END AS mime
FROM f ORDER BY doc_id
"""


def q_extract_html_spans(spark, sf_dir):
    """HTML main-content extraction (the north rule's 'HTML boilerplate
    strip / DOM heuristics' mode): each document's text is typeset
    JVM-side into a boilerplate-laden page (nav, cookie banner, related
    aside, footer — all link-heavy) with an <h1> title and 25-word <p>
    paragraphs; kernels/html_extract.html_to_spans must strip every
    boilerplate block and return exactly title + paragraphs in order.
    The DuckDB oracle computes the same expected rows INDEPENDENTLY from
    the raw text (title + 25-word chunks) — the brute-force-style oracle
    pattern: a different route to the same answer."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n = F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0)).otherwise(
        F.size(toks)
    )
    n_paras = F.ceil(n / 25).cast("int")
    paras = F.transform(
        F.sequence(F.lit(0), n_paras - 1),
        lambda i: F.concat(
            F.lit("<p>"),
            F.concat_ws(" ", F.slice(toks, i * 25 + 1, 25)),
            F.lit("</p>"),
        ),
    )
    html = F.concat(
        F.lit(
            "<html><head><title>Site</title><style>p{margin:0}</style></head>"
            "<body><nav><a href='/'>Home</a> <a href='/a'>About</a></nav>"
            "<div class='cookie'>We use cookies <a href='#'>OK</a></div>"
            "<header><div class='menu'><a>One</a> <a>Two</a></div></header>"
            "<article><h1>Document "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1>"),
        F.concat_ws("", paras),
        F.lit(
            "</article><aside class='related'>More <a href='#'>x</a></aside>"
            "<footer>(c) 2024 <a href='#'>terms</a></footer></body></html>"
        ),
    )
    src = docs.filter(n > 0).select(F.col("doc_id"), html.alias("html"))

    def fn(batches):
        import pandas as pd

        from .kernels.html_extract import html_to_spans

        for pdf in batches:
            rows = []
            for doc_id, page in zip(pdf["doc_id"], pdf["html"]):
                for s in html_to_spans(page):
                    rows.append(
                        {"doc_id": doc_id, "ord": s["order"],
                         "kind": s["kind"], "text": s["text"]}
                    )
            yield pd.DataFrame(rows, columns=["doc_id", "ord", "kind", "text"])

    out = src.mapInPandas(fn, "doc_id long, ord int, kind string, text string")
    return out.orderBy("doc_id", "ord")


ORACLE_EXTRACT_HTML_SPANS = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS toks,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
  FROM documents
),
d AS (SELECT * FROM t WHERE n > 0)
SELECT doc_id, 0 AS ord, 'section_header' AS kind,
       'Document ' || doc_id AS text
FROM d
UNION ALL
SELECT doc_id, cid + 1 AS ord, 'text' AS kind,
       array_to_string(toks[cid*25+1 : cid*25+25], ' ') AS text
FROM (
  SELECT doc_id, toks,
         unnest(generate_series(0, ceil(n / 25.0)::INT - 1)) AS cid
  FROM d
)
ORDER BY doc_id, ord
"""


def q_latexize_formulas(spark, sf_dir):
    """Formula enrichment through the REAL batched enrichment stage
    (kernels/enrichment.py): per document, a math-ish formula string is
    composed from its first four tokens (exercising every rewrite-rule
    family: sqrt, superscript, subscript, fraction, greek, comparators),
    then rewritten to LaTeX by enrich_elements — the executor-local
    batch-5 VLM-stand-in loop matching code_formula_model.py:282-326.
    The oracle replays the shared Python-re ∩ RE2 rule chain
    (LATEX_RULES) as a DuckDB regexp_replace chain. Scale shape: pure
    Arrow-batched projection, zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    formula = F.concat(
        F.element_at(toks, 1), F.lit("^2 + x_n - "),
        F.element_at(toks, 2), F.lit("/"), F.element_at(toks, 3),
        F.lit(" <= alpha, sqrt("), F.element_at(toks, 4), F.lit(") -> inf"),
    )
    base = docs.filter(F.size(toks) >= 4).select(
        "doc_id", formula.alias("formula")
    )

    def fn(batches):
        import pandas as pd

        from .kernels.enrichment import enrich_elements

        for pdf in batches:
            els = [{"label": "formula", "text": t} for t in pdf["formula"]]
            enrich_elements(els)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "formula": pdf["formula"],
                    "latex": [e["text"] for e in els],
                }
            )

    return base.mapInPandas(
        fn, "doc_id bigint, formula string, latex string"
    ).orderBy("doc_id")


def _latex_chain_sql(expr: str) -> str:
    """Unroll LATEX_RULES into a nested DuckDB regexp_replace chain.
    The rule table's `\\1` backrefs and `\\\\` literal-backslash escapes
    are the shared Python-re ∩ RE2 replacement syntax, so the strings
    embed verbatim (DuckDB single-quoted strings keep backslashes)."""
    from .kernels.enrichment import LATEX_RULES

    for pat, repl in LATEX_RULES:
        expr = f"regexp_replace({expr}, '{pat}', '{repl}', 'g')"
    return expr


ORACLE_LATEXIZE_FORMULAS = f"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
),
f AS (
  SELECT doc_id,
         toks[1] || '^2 + x_n - ' || toks[2] || '/' || toks[3] ||
         ' <= alpha, sqrt(' || toks[4] || ') -> inf' AS formula
  FROM t WHERE len(toks) >= 4
)
SELECT doc_id, formula, {_latex_chain_sql('formula')} AS latex
FROM f ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

# Dict order is the iteration order of queries().
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "latexize_formulas": q_latexize_formulas,
    "extract_spans_e2e": q_extract_spans_e2e,
    "extract_spans_ocr_e2e": q_extract_spans_ocr_e2e,
    "export_markdown": q_export_markdown,
    "detect_format": q_detect_format,
    "extract_html_spans": q_extract_html_spans,
}

ORACLES: dict[str, str] = {
    "export_markdown": ORACLE_EXPORT_MARKDOWN,
    "detect_format": ORACLE_DETECT_FORMAT,
    "extract_html_spans": ORACLE_EXTRACT_HTML_SPANS,
    "latexize_formulas": ORACLE_LATEXIZE_FORMULAS,
}
