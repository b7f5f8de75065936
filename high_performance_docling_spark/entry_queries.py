"""Driver-facing query registry: Spark implementations + DuckDB oracles.

Each entry demonstrates an operator family from SURVEY.md §2 (or a
training-data-pipeline operator) on the `documents` table, with an
ANSI-SQL oracle that scripts/verify_queries.py cross-checks in
DuckDB. Non-SQL-expressible entries (the docling extraction pipeline
itself) have no oracle and get a rows-only check.

Float discipline: every aggregated/derived float column is ROUNDed
identically on both sides so double-summation order can't flip the
driver's value hash.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import Window as W

from .operators import text_analysis as TA


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
# training-data pipeline: text analysis (task brief) on `documents`
# --------------------------------------------------------------------------

# NOTE: q_token_count keeps raw-case tokens deliberately (the raw-text
# profile); operators/text_analysis.token_counts (q_token_profile)
# lowercases — two different metrics, each with its own oracle.


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace tokenization + counts, JVM-side only (no UDF)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return docs.select(
        "doc_id",
        F.when(F.length(F.trim(F.col("text"))) == 0, F.lit(0))
        .otherwise(F.size(toks))
        .alias("n_tokens"),
        F.length("text").alias("n_chars"),
    ).orderBy("doc_id")


ORACLE_TOKEN_COUNT = """
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE length(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       length(text) AS n_chars
FROM documents
ORDER BY doc_id
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: length, mean word length, stopword ratio
    (all JVM-side column expressions)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_tok = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin("the", "and", "of", "to", "a", "in"))
    )
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round((F.length("text") + 0.0) / n_tok, 4).alias("mean_tok_len"),
        F.round((stop_hits + 0.0) / n_tok, 4).alias("stopword_ratio"),
    ).orderBy("doc_id")


ORACLE_QUALITY_SCORE = """
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(trim(text), '\\s+') AS toks
  FROM documents
)
SELECT doc_id,
       length(toks)                                    AS n_tokens,
       round(length(text) / length(toks), 4)           AS mean_tok_len,
       round(length(list_filter(toks,
             x -> x IN ('the','and','of','to','a','in'))) / length(toks), 4)
                                                        AS stopword_ratio
FROM t
ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# text analysis (documents)
# --------------------------------------------------------------------------

def q_language_id(spark, sf_dir):
    return TA.language_id(_t(spark, sf_dir, "documents")).orderBy("doc_id")


ORACLE_LANGUAGE_ID = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents
),
s AS (
  SELECT doc_id,
    len(list_filter(toks, x -> x IN ('the','and','of','to','in','is')))    AS hits_en,
    len(list_filter(toks, x -> x IN ('el','la','de','que','y','en')))      AS hits_es,
    len(list_filter(toks, x -> x IN ('der','die','und','das','ist','nicht'))) AS hits_de,
    len(list_filter(toks, x -> x IN ('le','la','et','les','des','est')))   AS hits_fr
  FROM t
)
SELECT doc_id,
  CASE WHEN greatest(hits_en, hits_es, hits_de, hits_fr) <= 0 THEN 'und'
       WHEN hits_en = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'en'
       WHEN hits_es = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'es'
       WHEN hits_de = greatest(hits_en, hits_es, hits_de, hits_fr) THEN 'de'
       ELSE 'fr' END AS lang_pred,
  hits_en, hits_es, hits_de, hits_fr
FROM s ORDER BY doc_id
"""


def q_bpe_token_profile(spark, sf_dir):
    return TA.bpe_token_profile(_t(spark, sf_dir, "documents")).orderBy("doc_id")


# Java regex (Spark) and RE2 (DuckDB) agree on the ASCII BPE pattern;
# the SQL literal doubles the apostrophe.
ORACLE_BPE_TOKEN_PROFILE = """
WITH t AS (
  SELECT doc_id, text,
         len(regexp_extract_all(text, ' ?''?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+'))
           AS n_bpe_tokens
  FROM documents
)
SELECT doc_id, n_bpe_tokens,
       round(CASE WHEN n_bpe_tokens > 0
                  THEN length(text) / n_bpe_tokens ELSE 0.0 END, 4)
         AS chars_per_token
FROM t ORDER BY doc_id
"""


def q_gopher_quality(spark, sf_dir):
    return TA.gopher_quality(_t(spark, sf_dir, "documents")).orderBy("doc_id")


ORACLE_GOPHER_QUALITY = r"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents
),
m AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_words,
         list_sum(list_transform(toks, x -> length(x)))::BIGINT AS sum_len,
         len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
         (length(text) - length(replace(text, '#', '')))
         + (length(text) - length(replace(text, '…', ''))) AS n_sym,
         len(list_filter(toks, x -> x IN
             ('the','be','to','of','and','that','have','with'))) AS stopword_hits
  FROM t
),
s AS (
  SELECT doc_id, n_words,
         round(CASE WHEN n_words > 0 THEN sum_len / n_words ELSE 0.0 END, 4)
           AS mean_word_len,
         round(CASE WHEN n_words > 0 THEN n_alpha / n_words ELSE 0.0 END, 4)
           AS frac_alpha_words,
         round(CASE WHEN n_words > 0 THEN n_sym / n_words ELSE 0.0 END, 4)
           AS symbol_word_ratio,
         stopword_hits
  FROM m
)
SELECT doc_id, n_words, mean_word_len, frac_alpha_words, symbol_word_ratio,
       stopword_hits,
       (n_words BETWEEN 50 AND 100000)
       AND (mean_word_len BETWEEN 3.0 AND 10.0)
       AND (symbol_word_ratio < 0.1)
       AND (frac_alpha_words > 0.8)
       AND (stopword_hits >= 2) AS gopher_pass
FROM s ORDER BY doc_id
"""


def q_repetition_scores(spark, sf_dir):
    return TA.repetition_scores(_t(spark, sf_dir, "documents")).orderBy("doc_id")


ORACLE_REPETITION_SCORES = r"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents
),
g AS (
  SELECT doc_id, text, toks,
         CASE WHEN len(toks) >= 2
              THEN list_transform(toks[1:len(toks)-1],
                     (x, i) -> concat_ws(' ', toks[i], toks[i+1]))
              ELSE [] END AS grams
  FROM t
),
e AS (
  SELECT doc_id, unnest(grams) AS gram FROM g
),
cnt AS (
  SELECT doc_id, gram, count(*) AS c FROM e GROUP BY doc_id, gram
),
top AS (
  SELECT doc_id, gram, c FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY c DESC, gram ASC) AS rn
    FROM cnt
  ) WHERE rn = 1
)
SELECT g.doc_id,
       round(coalesce(top.c * length(top.gram) * 1.0 / length(g.text), 0.0), 4)
         AS top_bigram_char_frac,
       CASE WHEN len(g.toks) > 0
            THEN round(1.0 - len(list_distinct(g.toks)) * 1.0 / len(g.toks), 4)
            ELSE 0.0 END AS dup_token_frac
FROM g LEFT JOIN top USING (doc_id)
ORDER BY g.doc_id
"""


def q_token_profile(spark, sf_dir):
    return TA.token_counts(_t(spark, sf_dir, "documents")).orderBy("doc_id")


ORACLE_TOKEN_PROFILE = r"""
WITH t AS (
  SELECT doc_id, text,
         regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents
)
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
       length(text) AS n_chars,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(list_distinct(toks)) END AS n_unique_tokens
FROM t ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# markdown export (the pipeline's export sink)
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


def q_tfidf_keywords(spark, sf_dir):
    """Per-document TF-IDF keyword extraction (top-5): tf from one
    explode+groupBy, df from a second groupBy on the token, idf =
    ln(N/df), top-k via a per-doc window. Scale shape: both aggregations
    shuffle on near-uniform token keys; the corpus count N is a tiny
    broadcast scalar; the only per-doc state is the top-k window."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    tf = (
        docs.select(F.col("doc_id"), F.explode(toks).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "tok")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6),
        )
    )
    w = W.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("tok")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "rk", "tok", "tf", "df", "score")
        .orderBy("doc_id", "rk")
    )


ORACLE_TFIDF_KEYWORDS = r"""
WITH t AS (
  SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tok, tf, df,
         round(tf * ln(n_docs * 1.0 / df), 6) AS score
  FROM tf JOIN dfreq USING (tok) CROSS JOIN n
)
SELECT doc_id, rk, tok, tf, df, score FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, tok ASC) AS rk
  FROM scored
) WHERE rk <= 5 ORDER BY doc_id, rk
"""


def q_perplexity_score(spark, sf_dir):
    """CCNet-style LM quality scoring (Wenzek et al., LREC 2020): train
    an add-one-smoothed bigram LM on the corpus (two hash aggregations),
    score every document's mean bigram log-probability by joining its
    exploded bigrams against the broadcast model, derive perplexity.
    Self-perplexity here (train = score corpus) = the in-corpus outlier
    detector; the operator accepts a foreign trusted-partition model.
    Scale shape: model size = distinct bigrams (prunable via min_count),
    broadcast join, one per-doc agg — corpus shuffles only on doc_id."""
    from .operators import lm_score as LM

    return LM.score_documents(_t(spark, sf_dir, "documents")).orderBy("doc_id")


ORACLE_PERPLEXITY_SCORE = r"""
WITH t AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents
),
tokens AS (SELECT doc_id, unnest(toks) AS tok FROM t),
v AS (SELECT count(DISTINCT tok) AS vsz FROM tokens),
w AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
  FROM t WHERE len(toks) >= 2
),
bg AS (SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2 FROM w),
c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
scored AS (
  SELECT b.doc_id, ln((c12 + 1.0) / (c1 + vsz)) AS lp
  FROM bg b JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
),
agg AS (
  SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logp
  FROM scored GROUP BY doc_id
)
SELECT d.doc_id,
       coalesce(n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(avg_logp, 0.0) AS avg_logp,
       round(exp(-coalesce(avg_logp, 0.0)), 4) AS ppl
FROM documents d LEFT JOIN agg USING (doc_id)
ORDER BY d.doc_id
"""


_URL_HOSTS = [
    "example.com", "docs.example.com", "news.sample.org",
    "cdn.sample.org", "files.archive.net", "blog.example.co.uk",
    "shop.example.co.uk", "data.test.io",
]


def q_url_domain_stats(spark, sf_dir):
    """Crawl-curation domain rollup: synthesize a deterministic URL per
    document (host from an 8-entry pool keyed by doc_id — incl.
    second-level-TLD cases — path from source/doc_id, query string on
    every third doc), parse host / registrable domain / path depth /
    query flag with the shared Java∩RE2 regexes, and aggregate per
    registrable domain. The oracle synthesizes and parses the identical
    strings. Scale shape: pure projection + one hash agg on the domain
    key, planned as two shuffles because of the distinct host count:
    the first on (domain, host), the second on the domain alone."""
    from .operators import url_ops as UO

    docs = _t(spark, sf_dir, "documents")
    host = F.element_at(
        F.array(*[F.lit(h) for h in _URL_HOSTS]),
        (F.col("doc_id") % 8 + 1).cast("int"),
    )
    url = F.concat(
        F.lit("https://"), host, F.lit("/"), F.col("source"),
        F.lit("/doc-"), F.col("doc_id").cast("string"),
        F.when(
            F.col("doc_id") % 3 == 0, F.concat(F.lit("?ref="), F.col("lang"))
        ).otherwise(F.lit("")),
    )
    return UO.domain_stats(
        docs.withColumn("url", url), weight_col="n_chars"
    ).orderBy("domain")


ORACLE_URL_DOMAIN_STATS = r"""
WITH u AS (
  SELECT doc_id, n_chars,
         'https://' ||
         (['example.com','docs.example.com','news.sample.org',
           'cdn.sample.org','files.archive.net','blog.example.co.uk',
           'shop.example.co.uk','data.test.io'])[(doc_id % 8 + 1)::INT] ||
         '/' || source || '/doc-' || CAST(doc_id AS VARCHAR) ||
         CASE WHEN doc_id % 3 = 0 THEN '?ref=' || lang ELSE '' END AS url
  FROM documents
),
p AS (
  SELECT doc_id, n_chars,
         regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://([^/?#:]+)', 1) AS host,
         regexp_extract(lower(url), '^[a-z][a-z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS path,
         CASE WHEN length(regexp_extract(url, '\?([^#]*)', 1)) > 0
              THEN 1 ELSE 0 END AS has_query
  FROM u
),
d AS (
  SELECT *, string_split(host, '.') AS parts,
         len(string_split(host, '.')) AS np
  FROM p
),
dom AS (
  SELECT doc_id, n_chars, host, has_query,
         len(list_filter(string_split(path, '/'), x -> x <> '')) AS path_depth,
         CASE WHEN np <= 1 THEN host
              WHEN np >= 3 AND parts[np - 1] IN
                   ('co','com','org','net','ac','gov','edu')
                THEN parts[np - 2] || '.' || parts[np - 1] || '.' || parts[np]
              ELSE parts[np - 1] || '.' || parts[np] END AS domain
  FROM d
)
SELECT domain,
       count(*)::BIGINT AS n_docs,
       count(DISTINCT host)::BIGINT AS n_hosts,
       sum(has_query)::BIGINT AS n_query_urls,
       round(avg(path_depth), 4) AS avg_path_depth,
       round(avg(n_chars), 4) AS avg_n_chars
FROM dom GROUP BY domain ORDER BY domain
"""


_PSL_HOSTS = [
    "example.com", "www.example.com", "news.bbc.co.uk", "a.blogspot.com",
    "b.blogspot.com", "foo.bar.ck", "www.ck", "x.www.ck", "ck",
    "localhost", "data.ac.jp", "deep.sub.shop.com.au",
]


def q_url_domain_psl(spark, sf_dir):
    """Exact publicsuffix.org registrable-domain resolution (plain,
    '*.'-wildcard AND '!'-exception rules) over a synthesized host per
    document — the PSL upgrade path of url_domain_stats' two-label
    heuristic. The host pool exercises every rule type: private-section
    suffix (blogspot.com), wildcard (*.ck), exception (!www.ck),
    suffix-only hosts ('ck', 'localhost' → no registrable domain, per
    spec). Scale shape: zero corpus shuffle — one broadcast left join
    per rule length against driver-side CONFIG relations, argmax as a
    scalar projection; the only exchange is this query's final rollup.
    The oracle replays the PSL algorithm itself (suffix explode + rule
    join + prevailing-rule fold), not a lookup of expected outputs."""
    from .operators import url_ops as UO

    docs = _t(spark, sf_dir, "documents")
    host = F.element_at(
        F.array(*[F.lit(h) for h in _PSL_HOSTS]),
        (F.col("doc_id") % 12 + 1).cast("int"),
    )
    out = UO.registrable_domain_psl(
        docs.withColumn("url_host", host), spark
    )
    return (
        out.groupBy(
            F.col("url_host").alias("host"),
            F.col("psl_public_suffix").alias("public_suffix"),
            F.col("psl_domain").alias("domain"),
        )
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("host")
    )


ORACLE_URL_DOMAIN_PSL = r"""
WITH u AS (
  SELECT doc_id,
         (['example.com','www.example.com','news.bbc.co.uk',
           'a.blogspot.com','b.blogspot.com','foo.bar.ck','www.ck',
           'x.www.ck','ck','localhost','data.ac.jp',
           'deep.sub.shop.com.au'])[(doc_id % 12 + 1)::INT] AS host
  FROM documents
),
rules(rule) AS (VALUES
  ('com'),('org'),('net'),('edu'),('gov'),('io'),('de'),('fr'),('nl'),
  ('jp'),('ac.jp'),('uk'),('co.uk'),('org.uk'),('ac.uk'),('au'),
  ('com.au'),('cn'),('com.cn'),('br'),('com.br'),('in'),('co.in'),
  ('us'),('ck'),('*.ck'),('!www.ck'),('blogspot.com')
),
pr AS (
  SELECT CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
              WHEN rule LIKE '*.%' THEN substr(rule, 3)
              ELSE rule END AS key,
         (rule LIKE '*.%')::INT AS wild,
         (rule LIKE '!%')::INT AS exc
  FROM rules
),
prk AS (
  SELECT key, max(1 - wild - exc) AS p, max(wild) AS w, max(exc) AS e
  FROM pr GROUP BY key
),
h AS (
  SELECT DISTINCT host, len(string_split(host, '.')) AS hn FROM u
),
sfx AS (
  SELECT host, hn, k,
         array_to_string(string_split(host, '.')[hn - k + 1 : hn],
                         '.') AS sfx
  FROM (SELECT host, hn, unnest(range(1, hn + 1)) AS k FROM h)
),
m AS (
  SELECT s.host, s.hn,
         max(CASE WHEN e = 1 THEN s.k - 1 END) AS excpl,
         max(CASE WHEN p = 1 THEN s.k END) AS ppl,
         max(CASE WHEN w = 1 AND s.hn > s.k THEN s.k + 1 END) AS wpl
  FROM sfx s JOIN prk ON s.sfx = prk.key
  GROUP BY s.host, s.hn
),
res AS (
  SELECT h.host, h.hn,
         coalesce(m.excpl,
                  greatest(coalesce(m.ppl, 1), coalesce(m.wpl, 1), 1))
           AS pl
  FROM h LEFT JOIN m USING (host)
),
dom AS (
  SELECT host,
         array_to_string(string_split(host, '.')[hn - pl + 1 : hn],
                         '.') AS public_suffix,
         CASE WHEN hn >= pl + 1
              THEN array_to_string(string_split(host, '.')[hn - pl : hn],
                                   '.')
              ELSE '' END AS domain
  FROM res
)
SELECT u.host, d.public_suffix, d.domain, count(*)::BIGINT AS n_docs
FROM u JOIN dom d USING (host)
GROUP BY u.host, d.public_suffix, d.domain
ORDER BY u.host
"""


def q_bpe_train_merges(spark, sf_dir):
    """Distributed BPE tokenizer TRAINING (Sennrich et al., ACL 2016) —
    3 merge rounds over the documents word-frequency table; output is
    the learned merge list (iteration, left_sym, right_sym, pair_count),
    i.e. the tokenizer model itself. Complements `bpe_token_profile`
    (which APPLIES a fixed merge table). Construction legitimately runs
    Spark jobs (one pair agg + 1-row argmax per round — documented in
    tests/test_registry.CONSTRUCTION_RUNS_JOBS); the word table itself
    never leaves the cluster, and the greedy in-word merge is a pure
    JVM-side F.aggregate fold. The DuckDB oracle replays all 3 rounds
    unrolled (pair count → argmax → gaps-and-islands parity merge,
    which equals the sequential greedy fold: overlapping matches exist
    only for left==right runs, where even-offset occurrences merge)."""
    from .operators import text_analysis as TA2

    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
                "word"
            )
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .select(F.split("word", "").alias("syms"), "freq")
        # materialize once: the word-frequency table is vocab-sized
        # (corpus-scan-free from here), so every training round reads
        # it instead of re-scanning the corpus
        .localCheckpoint(eager=True)
    )
    recs = TA2.bpe_train(words, n_merges=3)
    return spark.createDataFrame(
        recs, "it int, left_sym string, right_sym string, pair_count bigint"
    ).orderBy("it")


def _bpe_oracle_iteration(src: str, k: int) -> str:
    """One unrolled BPE round: pair count → deterministic argmax →
    parity-based greedy merge (equivalent to the sequential fold)."""
    return f"""
p{k} AS (
  SELECT syms[i] AS l, syms[i+1] AS r, sum(freq)::BIGINT AS n
  FROM {src}, unnest(range(1, len(syms))) AS u(i)
  GROUP BY 1, 2
),
b{k} AS (SELECT l, r, n FROM p{k} ORDER BY n DESC, l, r LIMIT 1),
pos{k} AS (
  SELECT wid, freq, i, syms[i] AS s,
         (i < len(syms) AND syms[i] = (SELECT l FROM b{k})
          AND syms[i+1] = (SELECT r FROM b{k}))::INT AS m
  FROM {src}, unnest(range(1, len(syms)+1)) AS u(i)
),
runs{k} AS (
  SELECT *, i - row_number() OVER (PARTITION BY wid, m ORDER BY i) AS grp
  FROM pos{k}
),
starts{k} AS (
  SELECT *, CASE WHEN m = 1 AND (row_number() OVER
                 (PARTITION BY wid, m, grp ORDER BY i) - 1) % 2 = 0
                 THEN 1 ELSE 0 END AS mstart
  FROM runs{k}
),
keep{k} AS (
  SELECT * FROM (
    SELECT *, lead(s) OVER (PARTITION BY wid ORDER BY i) AS nxt,
           coalesce(lag(mstart) OVER (PARTITION BY wid ORDER BY i), 0)
             AS consumed
    FROM starts{k}
  ) WHERE consumed = 0
),
s{k} AS (
  SELECT wid, freq,
         list(CASE WHEN mstart = 1 THEN s || nxt ELSE s END ORDER BY i)
           AS syms
  FROM keep{k} GROUP BY wid, freq
)"""


ORACLE_BPE_TRAIN_MERGES = (
    """
WITH w0 AS (
  SELECT word, count(*)::BIGINT AS freq FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS word
    FROM documents
  ) WHERE word <> '' GROUP BY word
),
s0 AS (
  SELECT row_number() OVER (ORDER BY word) AS wid,
         string_split(word, '') AS syms, freq
  FROM w0
),"""
    + _bpe_oracle_iteration("s0", 1)
    + ","
    + _bpe_oracle_iteration("s1", 2)
    + ","
    + _bpe_oracle_iteration("s2", 3)
    + """
SELECT 1 AS it, l AS left_sym, r AS right_sym, n AS pair_count FROM b1
UNION ALL SELECT 2, l, r, n FROM b2
UNION ALL SELECT 3, l, r, n FROM b3
ORDER BY it
"""
)


def q_domain_balanced_sample(spark, sf_dir):
    """Domain-balanced corpus sampling — the curation move that caps
    mega-domain dominance in a crawl (CCNet/Gopher-style rebalancing):
    weight each document by 1/|its registrable domain| and draw an
    Efraimidis–Spirakis sample, so every domain gets roughly equal
    representation regardless of how many pages it contributed. A
    composition of two round-6 operators: exact-PSL domain resolution
    (registrable_domain_psl — broadcast rule joins, zero corpus
    shuffle) feeding the deterministic E-S top-k (key = ln(u)/w =
    n_dom * ln(u) for w = 1/n_dom, u from a 52-bit md5 — exact in
    double, append-stable).

    Scale shape: PSL projections + ONE keyed shuffle (the domain
    frequency agg; map-side combine folds each power-law domain key to
    one row per input partition before the shuffle),
    a frequency join (broadcast at test scale; the frequency table is
    |domains| rows, far smaller than the corpus), then
    TakeOrderedAndProject."""
    from .operators import url_ops as UO

    k = 64
    docs = _t(spark, sf_dir, "documents")
    host = F.element_at(
        F.array(*[F.lit(h) for h in _PSL_HOSTS]),
        (F.col("doc_id") % 12 + 1).cast("int"),
    )
    dom = UO.registrable_domain_psl(
        docs.withColumn("url_host", host), spark
    ).select("doc_id", F.col("psl_domain").alias("domain"))
    freq = dom.groupBy("domain").agg(F.count(F.lit(1)).alias("n_dom"))
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("dbs:"), F.col("doc_id").cast("string"))),
                1, 13,
            ),
            16, 10,
        ).cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 52))
    keyed = dom.join(F.broadcast(freq), "domain").select(
        "doc_id", "domain", "n_dom",
        (F.col("n_dom") * F.log(u)).alias("k_raw"),
    )
    return (
        keyed.orderBy(F.col("k_raw").desc(), "doc_id").limit(k)
        .select(
            "doc_id", "domain", "n_dom",
            (F.round("k_raw", 6) + F.lit(0.0)).alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "doc_id")
    )


ORACLE_DOMAIN_BALANCED_SAMPLE = r"""
WITH u AS (
  SELECT doc_id,
         (['example.com','www.example.com','news.bbc.co.uk',
           'a.blogspot.com','b.blogspot.com','foo.bar.ck','www.ck',
           'x.www.ck','ck','localhost','data.ac.jp',
           'deep.sub.shop.com.au'])[(doc_id % 12 + 1)::INT] AS host
  FROM documents
),
rules(rule) AS (VALUES
  ('com'),('org'),('net'),('edu'),('gov'),('io'),('de'),('fr'),('nl'),
  ('jp'),('ac.jp'),('uk'),('co.uk'),('org.uk'),('ac.uk'),('au'),
  ('com.au'),('cn'),('com.cn'),('br'),('com.br'),('in'),('co.in'),
  ('us'),('ck'),('*.ck'),('!www.ck'),('blogspot.com')
),
pr AS (
  SELECT CASE WHEN rule LIKE '!%' THEN substr(rule, 2)
              WHEN rule LIKE '*.%' THEN substr(rule, 3)
              ELSE rule END AS key,
         (rule LIKE '*.%')::INT AS wild,
         (rule LIKE '!%')::INT AS exc
  FROM rules
),
prk AS (
  SELECT key, max(1 - wild - exc) AS p, max(wild) AS w, max(exc) AS e
  FROM pr GROUP BY key
),
h AS (
  SELECT DISTINCT host, len(string_split(host, '.')) AS hn FROM u
),
sfx AS (
  SELECT host, hn, k,
         array_to_string(string_split(host, '.')[hn - k + 1 : hn],
                         '.') AS sfx
  FROM (SELECT host, hn, unnest(range(1, hn + 1)) AS k FROM h)
),
m AS (
  SELECT s.host, s.hn,
         max(CASE WHEN e = 1 THEN s.k - 1 END) AS excpl,
         max(CASE WHEN p = 1 THEN s.k END) AS ppl,
         max(CASE WHEN w = 1 AND s.hn > s.k THEN s.k + 1 END) AS wpl
  FROM sfx s JOIN prk ON s.sfx = prk.key
  GROUP BY s.host, s.hn
),
res AS (
  SELECT h.host, h.hn,
         coalesce(m.excpl,
                  greatest(coalesce(m.ppl, 1), coalesce(m.wpl, 1), 1))
           AS pl
  FROM h LEFT JOIN m USING (host)
),
dmap AS (
  SELECT host,
         CASE WHEN hn >= pl + 1
              THEN array_to_string(string_split(host, '.')[hn - pl : hn],
                                   '.')
              ELSE '' END AS domain
  FROM res
),
perdoc AS (
  SELECT u.doc_id, d.domain FROM u JOIN dmap d USING (host)
),
freq AS (SELECT domain, count(*) AS n_dom FROM perdoc GROUP BY domain),
keyed AS (
  SELECT doc_id, domain, n_dom,
         n_dom * ln((('0x' || substr(md5('dbs:' || doc_id), 1, 13))::BIGINT
                     + 1) / 4503599627370496.0) AS k_raw
  FROM perdoc JOIN freq USING (domain)
)
SELECT doc_id, domain, n_dom, round(k_raw, 6) + 0.0 AS es_key
FROM keyed ORDER BY k_raw DESC, doc_id LIMIT 64
"""


_PROFILE_COLS = ["doc_id", "text", "lang", "source", "n_chars"]


def q_profile_documents(spark, sf_dir):
    """One-scan data-quality profile of the documents table: null /
    distinct / min / max per column out of a SINGLE aggregation (the
    pre-training sanity report). min/max are computed in native type
    and cast to string for the report; the oracle recomputes each
    column's row via UNION ALL (DuckDB plans 5 scans where Spark plans
    1 + Expand — same values, different engines' tradeoff)."""
    from .operators import profiling as PF

    docs = _t(spark, sf_dir, "documents")
    return PF.profile_columns(docs, _PROFILE_COLS).orderBy("col_name")


ORACLE_PROFILE_DOCUMENTS = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS col_name, count(*) AS n_rows,
  (sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END))::BIGINT AS n_nulls,
  count(DISTINCT {c}) AS n_distinct,
  min({c})::VARCHAR AS min_val, max({c})::VARCHAR AS max_val
FROM documents"""
    for c in _PROFILE_COLS
) + "\nORDER BY col_name"


def q_quality_tiers(spark, sf_dir):
    """Decile tiering of the corpus by quality (the 'tier extraction'
    cut a pretraining pipeline makes before sampling): 9 exact decile
    cuts of mean-token-length from ONE percentile aggregation
    (broadcast back as a 9-float array), tier assignment as a pure
    projection (score > cut count) — NO global-sort ntile window, so
    a 100 TB corpus tiers in one scan + one tiny agg. Cuts and scores
    round to 4/6 identically on both engines; ties at a cut go to the
    lower tier on both."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    scored = docs.select(
        "doc_id",
        F.round((F.length("text") + 0.0) / F.size(toks), 4).alias("score"),
    )
    pcts = ", ".join(str(i / 10.0) for i in range(1, 10))
    cuts = scored.agg(
        F.expr(
            f"transform(percentile(score, array({pcts})), c -> round(c, 6))"
        ).alias("cuts")
    )
    tiered = scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        "score",
        (
            F.lit(1)
            + F.aggregate(
                F.col("cuts"),
                F.lit(0),
                lambda acc, c: acc
                + F.when(F.col("score") > c, 1).otherwise(0),
            )
        ).alias("tier"),
    )
    return (
        tiered.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.round(F.min("score"), 4) + F.lit(0.0)).alias("min_score"),
            (F.round(F.max("score"), 4) + F.lit(0.0)).alias("max_score"),
        )
        .orderBy("tier")
    )


ORACLE_QUALITY_TIERS = """
WITH scored AS (
  SELECT doc_id,
         round(length(text) /
               length(regexp_split_to_array(trim(text), '\\s+')), 4)
           AS score
  FROM documents
),
cuts AS (
  SELECT list_transform(
           quantile_cont(score, [0.1, 0.2, 0.3, 0.4, 0.5,
                                 0.6, 0.7, 0.8, 0.9]),
           c -> round(c, 6)) AS cuts
  FROM scored
),
tiered AS (
  SELECT doc_id, score,
         1 + len(list_filter(cuts, c -> score > c)) AS tier
  FROM scored CROSS JOIN cuts
)
SELECT tier, count(*) AS n_docs,
       round(min(score), 4) + 0.0 AS min_score,
       round(max(score), 4) + 0.0 AS max_score
FROM tiered GROUP BY tier ORDER BY tier
"""


def q_pmi_collocations(spark, sf_dir):
    """Collocation extraction via pointwise mutual information over
    adjacent-token bigrams (the phrase-mining pass of a tokenizer/
    vocab pipeline): bigram and unigram counts are two hash
    aggregations (map-side combined), the corpus totals are a
    broadcast scalar pair, PMI is pure arithmetic on counts (exact
    integers — no float summation anywhere), top-25 at support >= 10
    via TakeOrderedAndProject + the sort_array rank idiom."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    t = docs.select(toks.alias("toks"))
    bigrams = t.select(
        F.explode(
            F.filter(
                F.zip_with(
                    F.col("toks"),
                    F.slice(
                        F.col("toks"), 2,
                        F.greatest(F.size("toks") - 1, F.lit(1)),
                    ),
                    lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
                ),
                lambda p: p.getField("w2").isNotNull(),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    uni = t.select(F.explode("toks").alias("tok"))
    bc = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    uc = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = uni.agg(F.count(F.lit(1)).alias("n_uni")).crossJoin(
        bigrams.agg(F.count(F.lit(1)).alias("n_bg"))
    )
    a = uc.select(F.col("tok").alias("w1"), F.col("c").alias("c_a"))
    b = uc.select(F.col("tok").alias("w2"), F.col("c").alias("c_b"))
    scored = (
        bc.filter(F.col("c_ab") >= 10)
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1", "w2", "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab") * 1.0 / F.col("n_bg"))
                    / (
                        (F.col("c_a") * 1.0 / F.col("n_uni"))
                        * (F.col("c_b") * 1.0 / F.col("n_uni"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    top = scored.orderBy(
        F.desc("pmi"), F.asc("w1"), F.asc("w2")
    ).limit(25)
    return (
        top.groupBy()
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.col("pmi")).alias("neg"), "w1", "w2", "c_ab"
                    )
                )
            ).alias("arr")
        )
        .select(F.posexplode("arr").alias("pos", "r"))
        .select(
            (F.col("pos") + 1).alias("rk"),
            F.col("r.w1").alias("w1"),
            F.col("r.w2").alias("w2"),
            F.col("r.c_ab").alias("c_ab"),
            (-F.col("r.neg") + F.lit(0.0)).alias("pmi"),
        )
        .orderBy("rk")
    )


ORACLE_PMI_COLLOCATIONS = r"""
WITH t AS (
  SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS toks
  FROM documents
),
bg AS (
  SELECT unnest(list_filter(
           list_zip(toks, list_slice(toks, 2, len(toks))),
           p -> p[2] IS NOT NULL)) AS p
  FROM t
),
bc AS (
  SELECT p[1] AS w1, p[2] AS w2, count(*) AS c_ab
  FROM bg GROUP BY w1, w2
),
uni AS (SELECT unnest(toks) AS tok FROM t),
uc AS (SELECT tok, count(*) AS c FROM uni GROUP BY tok),
tot AS (SELECT (SELECT count(*) FROM uni) AS n_uni,
               (SELECT count(*) FROM bg) AS n_bg),
scored AS (
  SELECT w1, w2, c_ab,
         round(ln((c_ab * 1.0 / n_bg) /
                  ((a.c * 1.0 / n_uni) * (b.c * 1.0 / n_uni))), 6) AS pmi
  FROM bc JOIN uc a ON a.tok = w1 JOIN uc b ON b.tok = w2 CROSS JOIN tot
  WHERE c_ab >= 10
)
SELECT rk, w1, w2, c_ab, pmi FROM (
  SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rk
  FROM scored
) WHERE rk <= 25 ORDER BY rk
"""


def q_char_entropy(spark, sf_dir):
    """Character-entropy quality signal (low entropy = repetitive
    boilerplate/junk — the compression-ratio filter's exact cousin
    that stays SQL-expressible): H = -sum p*ln(p) over each doc's
    character distribution. One explode + two doc-keyed aggregations;
    per-symbol terms round to 9 before the <= |alphabet|-addend sum,
    entropy to 6 with the -0.0 guard (a single-symbol doc yields
    -1*ln(1) = -0.0)."""
    docs = _t(spark, sf_dir, "documents")
    cc = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .groupBy("doc_id", "ch")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cc.groupBy("doc_id").agg(
        F.sum("n").alias("nt"), F.count(F.lit(1)).alias("n_symbols")
    )
    p = F.col("n") * 1.0 / F.col("nt")
    # per-symbol terms become integer nano-nats: integer summation is
    # order-proof, where a float sum of ~60 rounded terms can land on
    # a 6th-decimal rounding boundary and flip between engines
    term_ns = F.round((-p * F.log(p)) * F.lit(1000000000.0)).cast("bigint")
    return (
        cc.join(tot, "doc_id")
        .withColumn("term_ns", term_ns)
        .groupBy("doc_id")
        .agg(
            F.first("nt").alias("n_chars"),
            F.first("n_symbols").alias("n_symbols"),
            (
                F.round(F.sum("term_ns") / F.lit(1000000000.0), 6)
                + F.lit(0.0)
            ).alias("entropy"),
        )
        .orderBy("doc_id")
    )


ORACLE_CHAR_ENTROPY = """
WITH ch AS (
  SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS c
  FROM documents
),
cc AS (SELECT doc_id, c, count(*) AS n FROM ch GROUP BY doc_id, c),
tot AS (
  SELECT doc_id, sum(n)::BIGINT AS nt, count(*) AS n_symbols
  FROM cc GROUP BY doc_id
)
SELECT doc_id, min(nt) AS n_chars, min(n_symbols) AS n_symbols,
       round(sum(round((-(n * 1.0 / nt) * ln(n * 1.0 / nt))
                       * 1000000000.0)::BIGINT) / 1000000000.0, 6) + 0.0
         AS entropy
FROM cc JOIN tot USING (doc_id)
GROUP BY doc_id ORDER BY doc_id
"""


# --------------------------------------------------------------------------
# registry
# --------------------------------------------------------------------------

# Dict order is the iteration order of queries(): a correctness harness
# that checks only the first 50 entries still sees the two e2e entries.
QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "latexize_formulas": q_latexize_formulas,
    "perplexity_score": q_perplexity_score,
    "url_domain_stats": q_url_domain_stats,
    "url_domain_psl": q_url_domain_psl,
    "extract_spans_e2e": q_extract_spans_e2e,
    "extract_spans_ocr_e2e": q_extract_spans_ocr_e2e,
    "token_count": q_token_count,
    "quality_score": q_quality_score,
    "language_id": q_language_id,
    "token_profile": q_token_profile,
    "bpe_token_profile": q_bpe_token_profile,
    "gopher_quality": q_gopher_quality,
    "repetition_scores": q_repetition_scores,
    "export_markdown": q_export_markdown,
    "detect_format": q_detect_format,
    "extract_html_spans": q_extract_html_spans,
    "tfidf_keywords": q_tfidf_keywords,
    "domain_balanced_sample": q_domain_balanced_sample,
    "bpe_train_merges": q_bpe_train_merges,
    "profile_documents": q_profile_documents,
    "quality_tiers": q_quality_tiers,
    "pmi_collocations": q_pmi_collocations,
    "char_entropy": q_char_entropy,
}

ORACLES: dict[str, str] = {
    "export_markdown": ORACLE_EXPORT_MARKDOWN,
    "token_count": ORACLE_TOKEN_COUNT,
    "quality_score": ORACLE_QUALITY_SCORE,
    "language_id": ORACLE_LANGUAGE_ID,
    "token_profile": ORACLE_TOKEN_PROFILE,
    "bpe_token_profile": ORACLE_BPE_TOKEN_PROFILE,
    "gopher_quality": ORACLE_GOPHER_QUALITY,
    "repetition_scores": ORACLE_REPETITION_SCORES,
    "detect_format": ORACLE_DETECT_FORMAT,
    "extract_html_spans": ORACLE_EXTRACT_HTML_SPANS,
    "tfidf_keywords": ORACLE_TFIDF_KEYWORDS,
    "latexize_formulas": ORACLE_LATEXIZE_FORMULAS,
    "perplexity_score": ORACLE_PERPLEXITY_SCORE,
    "url_domain_psl": ORACLE_URL_DOMAIN_PSL,
    "domain_balanced_sample": ORACLE_DOMAIN_BALANCED_SAMPLE,
    "bpe_train_merges": ORACLE_BPE_TRAIN_MERGES,
    "url_domain_stats": ORACLE_URL_DOMAIN_STATS,
    "profile_documents": ORACLE_PROFILE_DOCUMENTS,
    "quality_tiers": ORACLE_QUALITY_TIERS,
    "pmi_collocations": ORACLE_PMI_COLLOCATIONS,
    "char_entropy": ORACLE_CHAR_ENTROPY,
}

