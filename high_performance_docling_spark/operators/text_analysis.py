"""Text-analysis operators: language-ID, quality scoring, token counting.
All JVM-side column expressions (no UDFs) with exact DuckDB-expressible
semantics so the driver can oracle them."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en"],
    "de": ["der", "die", "und", "das", "ist", "nicht"],
    "fr": ["le", "la", "et", "les", "des", "est"],
}


def _toks(text_col: str):
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def language_id(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """n-gram/stopword-heuristic language guess: the language whose marker
    words hit most tokens wins; ties break in (en, es, de, fr) order;
    zero hits → 'und'."""
    toks = _toks(text_col)
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*words)))
        for lang, words in LANG_MARKERS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.when(best <= 0, F.lit("und"))
    for lang in LANG_MARKERS:  # insertion order = tie-break order
        pred = pred.when(scores[lang] == best, F.lit(lang))
    return df.select(
        F.col(id_col).alias("doc_id"),
        pred.alias("lang_pred"),
        *[scores[lang].alias(f"hits_{lang}") for lang in LANG_MARKERS],
    )


def token_counts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    toks = _toks(text_col)
    empty = F.length(F.trim(F.col(text_col))) == 0
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.when(empty, F.lit(0)).otherwise(F.size(toks)).alias("n_tokens"),
        F.length(text_col).alias("n_chars"),
        # the empty-string guard must apply to BOTH counts, or an empty doc
        # reports 0 tokens but 1 unique token
        F.when(empty, F.lit(0))
        .otherwise(F.size(F.array_distinct(toks)))
        .alias("n_unique_tokens"),
    )


# GPT-2-style pre-tokenizer shape: word / number / punctuation runs with
# optional leading space + leading apostrophe contractions (ASCII subset —
# RE2 and Java regex agree on it, so DuckDB can oracle the exact counts)
BPE_PATTERN = " ?'?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"


def bpe_token_profile(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """BPE-ish tokenization profile: regex token count + chars/token (a
    cheap compression-rate proxy for data-quality filtering)."""
    n = F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN))
    return df.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_bpe_tokens"),
        F.round(
            F.when(n > 0, F.length(text_col) / n).otherwise(F.lit(0.0)), 4
        ).alias("chars_per_token"),
    )


GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Gopher-rules quality filter (Rae et al. 2021, §A1.1): word-count
    bounds, mean-word-length bounds, symbol-to-word ratio, alphabetic-word
    fraction, stop-word floor — each metric emitted plus the combined
    pass flag. All JVM-side column expressions."""
    toks = _toks(text_col)
    n = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(F.size(toks))
    sum_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, x: a + x
    )
    mean_len = F.round(F.when(n > 0, sum_len / n).otherwise(F.lit(0.0)), 4)
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    frac_alpha = F.round(F.when(n > 0, alpha / n).otherwise(F.lit(0.0)), 4)
    n_sym = (
        F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit("#"), F.lit("")))
    ) + (
        F.length(text_col) - F.length(F.replace(F.col(text_col), F.lit("…"), F.lit("")))
    )
    sym_ratio = F.round(F.when(n > 0, n_sym / n).otherwise(F.lit(0.0)), 4)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*GOPHER_STOPWORDS)))
    passed = (
        n.between(50, 100000)
        & mean_len.between(3.0, 10.0)
        & (sym_ratio < 0.1)
        & (frac_alpha > 0.8)
        & (stop_hits >= 2)
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        sym_ratio.alias("symbol_word_ratio"),
        stop_hits.alias("stopword_hits"),
        passed.alias("gopher_pass"),
    )


def repetition_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Repetition quality metrics (Gopher A1.1 'repetition removal'):
    fraction of characters inside the most frequent word 2-gram, and the
    duplicate-token fraction (1 - unique/total). Ties on the top 2-gram
    break to the lexicographically smallest gram so the metric is
    engine-deterministic. JVM-side only."""
    toks = _toks(text_col)
    n = F.size(toks)
    grams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    # per distinct gram: (-count, gram); array_min = (max count, min gram)
    best = F.array_min(
        F.transform(
            F.array_distinct(grams),
            lambda g: F.struct(
                (-F.size(F.filter(grams, lambda x: x == g))).alias("neg_cnt"),
                g.alias("gram"),
            ),
        )
    )
    top_frac = F.when(
        F.size(grams) > 0,
        F.round(
            (-best["neg_cnt"]) * F.length(best["gram"]) / F.length(text_col), 4
        ),
    ).otherwise(F.lit(0.0))
    dup_frac = F.when(
        n > 0, F.round(1.0 - F.size(F.array_distinct(toks)) / n, 4)
    ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(top_frac, F.lit(0.0)).alias("top_bigram_char_frac"),
        dup_frac.alias("dup_token_frac"),
    )


def bpe_merge_pair(syms, left: str, right: str):
    """Greedy left-to-right single-pass merge of one BPE pair inside a
    symbol array, as a pure JVM-side F.aggregate fold (no Python in the
    hot path): the accumulator carries (emitted_symbols, pending); a
    (pending=left, current=right) hit emits the merged token and clears
    the pending slot, so a freshly-merged token never re-merges within
    the same iteration — exactly the classic BPE merge-step semantics
    (Sennrich et al., ACL 2016). Overlapping matches (only possible for
    left == right runs) resolve leftmost-first: 'aaa' + (a,a) -> [aa, a]."""
    merged = F.lit(left + right)
    acc0 = F.struct(
        F.array().cast("array<string>").alias("out"), F.lit("").alias("prev")
    )

    def step(acc, s):
        hit = (acc["prev"] == F.lit(left)) & (s == F.lit(right))
        return F.when(
            hit,
            F.struct(
                F.concat(acc["out"], F.array(merged)).alias("out"),
                F.lit("").alias("prev"),
            ),
        ).otherwise(
            F.struct(
                F.when(acc["prev"] == "", acc["out"])
                .otherwise(F.concat(acc["out"], F.array(acc["prev"])))
                .alias("out"),
                s.alias("prev"),
            )
        )

    def fin(acc):
        return F.when(acc["prev"] == "", acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )

    return F.aggregate(syms, acc0, step, fin)


def bpe_train(words: DataFrame, n_merges: int) -> list[tuple[int, str, str, int]]:
    """Distributed BPE tokenizer training (Sennrich et al., ACL 2016)
    over a word-frequency table ``(syms: array<string>, freq: bigint)``:
    each round counts adjacent symbol pairs weighted by word frequency
    (one hash agg with map-side combine — pair keys are Zipf-bounded by
    the alphabet, never by corpus size), picks the argmax (count desc,
    then lexicographic — fully deterministic), and folds the merge into
    every word JVM-side via bpe_merge_pair. The ONLY driver-side data is
    the 1-row argmax per round (k-row model state, like the k-means
    centroids); the word table never leaves the cluster. Returns the
    learned merge list [(iteration, left, right, pair_count)] — the
    tokenizer model."""
    recs: list[tuple[int, str, str, int]] = []
    cur = words
    for it in range(1, n_merges + 1):
        pairs = (
            cur.filter(F.size("syms") >= 2)
            .select(
                "freq",
                # slice-based pair builder: valid for any length >= 1
                # (sequence(0, size-2) would run DESCENDING for 1-symbol
                # words and index out of bounds under ANSI mode)
                F.expr(
                    "transform(slice(syms, 1, size(syms)-1),"
                    " (x, i) -> struct(x AS l, element_at(syms, i+2) AS r))"
                ).alias("ps"),
            )
            .select("freq", F.explode("ps").alias("p"))
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").alias("n"))
        )
        best = pairs.orderBy(F.col("n").desc(), "l", "r").first()
        if best is None:
            break
        recs.append((it, best["l"], best["r"], int(best["n"])))
        # flatten lineage per round (the connected_components pattern):
        # without this, round k's pair count re-evaluates every earlier
        # merge fold — nested F.aggregate lambdas whose re-planning and
        # codegen dominate wall time long before data size matters
        cur = cur.select(
            bpe_merge_pair(F.col("syms"), best["l"], best["r"]).alias("syms"),
            "freq",
        ).localCheckpoint(eager=True)
    return recs
