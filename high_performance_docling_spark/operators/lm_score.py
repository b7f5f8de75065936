"""Statistical language-model quality scoring (CCNet-style perplexity
filter) as pure relational algebra.

CCNet (Wenzek et al., "CCNet: Extracting High Quality Monolingual
Datasets from Web Crawl Data", LREC 2020) ranks crawl documents by the
perplexity of a KenLM n-gram model trained on a trusted corpus and keeps
the low-perplexity head. This module re-expresses that recipe as Spark
DataFrame operators with no Python in the hot path:

  * ``train_bigram_lm`` — token/bigram counts via two hash aggregations;
    the "model" is a DataFrame of conditional-probability statistics,
    never driver-side state.
  * ``score_documents`` — per-document mean bigram log-probability under
    add-one (Laplace) smoothing, computed by exploding each document's
    bigrams and joining them against the model.

Scale shape (100 TB): training is two shuffles on near-uniform token /
token-pair keys with map-side partial aggregation; the model's row count
is the number of DISTINCT bigrams (pruned by ``min_count``), so the
score join broadcasts for any realistically pruned vocabulary and falls
back to a sort-merge join on (w1, w2) otherwise. Per-document state is
one avg aggregation. Nothing is collected to the driver.

Reference role: the reference pipeline has no LM filter (it is an
extraction engine); this operator extends the engine toward the
training-data-curation surface, alongside the Gopher rules in
operators/text_analysis.py.

Float discipline: log-probabilities are summed as doubles and ROUNDed
(6 dp) before leaving the operator, and the perplexity is derived from
the rounded mean, so the DuckDB oracle reproduces the values bit-for-bit
regardless of summation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _toks(text_col: str):
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def doc_bigrams(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Explode each document into its ordered bigram occurrences
    ``(doc_id, w1, w2)``. Documents with fewer than two tokens produce no
    rows. One narrow projection + explode — no shuffle."""
    toks = _toks(text_col)
    pairs = F.arrays_zip(
        F.expr("slice(__toks, 1, size(__toks) - 1)").alias("w1"),
        F.expr("slice(__toks, 2, size(__toks) - 1)").alias("w2"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .filter(F.size("__toks") >= 2)
        .select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )


def train_bigram_lm(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 1,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Count statistics for an add-one-smoothed bigram LM over ``df``.

    Returns ``(bigram_counts, context_counts, vocab_size)``:
      * ``bigram_counts``  — (w1, w2, c12): occurrences of each bigram
        with ``c12 >= min_count`` (pruning bounds the model size; pruned
        bigrams simply miss the join and take the unseen-event
        probability ``1 / (c1 + V)``, exactly Laplace's estimate).
      * ``context_counts`` — (w1, c1): bigrams starting with w1 (the
        smoothing denominator, kept UNpruned so probabilities still sum
        to <= 1 over the vocabulary).
      * ``vocab_size``     — 1-row (vsz): distinct tokens in the corpus.
    """
    bg = doc_bigrams(df, id_col, text_col)
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    if min_count > 1:
        c12 = c12.filter(F.col("c12") >= min_count)
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        df.select(F.explode(_toks(text_col)).alias("tok"))
        .agg(F.countDistinct("tok").alias("vsz"))
    )
    return c12, c1, vocab


def score_documents(
    df: DataFrame,
    lm: tuple[DataFrame, DataFrame, DataFrame] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_model: bool = True,
) -> DataFrame:
    """Mean bigram log-probability + perplexity per document.

    ``lm`` is the triple from :func:`train_bigram_lm`; ``None`` trains on
    ``df`` itself (self-perplexity — the in-corpus outlier detector; a
    real CCNet deployment passes a model trained on the trusted
    partition). Every bigram occurrence scores
    ``ln((c12 + 1) / (c1 + V))``; bigrams whose w1 never opened a
    training bigram (possible only with a foreign model) take the
    uniform floor ``ln(1 / V)``.

    Output: (doc_id, n_bigrams, avg_logp, ppl) for EVERY input document;
    sub-2-token documents get n_bigrams=0, avg_logp=0.0, ppl=1.0.
    ``ppl = exp(-avg_logp)`` is derived from the 6-dp-rounded mean so
    the oracle reproduces it exactly.
    """
    if lm is None:
        lm = train_bigram_lm(df, id_col, text_col)
    c12, c1, vocab = lm
    if broadcast_model:
        c12, c1 = F.broadcast(c12), F.broadcast(c1)
    bg = doc_bigrams(df, id_col, text_col)
    scored = (
        bg.join(c12, ["w1", "w2"], "left")
        .join(c1, ["w1"], "left")
        .crossJoin(F.broadcast(vocab))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1.0))
                / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("vsz"))
            ).alias("lp"),
        )
    )
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.avg("lp"), 6).alias("avg_logp"),
    )
    docs = df.select(F.col(id_col).alias("doc_id"))
    return (
        docs.join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("avg_logp", F.lit(0.0)).alias("avg_logp"),
        )
        .withColumn("ppl", F.round(F.exp(-F.col("avg_logp")), 4))
    )

