"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame-API (JVM-side, no Python UDFs) so they
scale to 100 TB: the only shuffles are the hash-key groupBys / joins, and
every hash is computed from md5 (portable across engines so DuckDB can
oracle the exact values).

Operators:
  - shingle / minhash_signatures / lsh_candidate_pairs: MinHash+LSH
    near-dup (shingle → k hash functions → min per function → band →
    bucket join).
  - ngram_jaccard_pairs: exact Jaccard over shingle sets via a
    shingle-equijoin (the verify step behind LSH candidates).
  - simhash: 16-bit SimHash fingerprint from token hashes.

Scale notes: shingle explode multiplies rows by ~tokens-per-doc — at
100 TB the shingle join is the dominant shuffle, so pairs are restricted
to (a, b) with a < b and shingle buckets are salted by the hash itself
(uniform md5 keys → no skew). LSH bands reduce the candidate space from
O(N²) to near-linear before the exact verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

# 56-bit portable hash: Spark conv(substring(md5(x),1,14),16,10)
# == DuckDB ('0x' || substr(md5(x),1,14))::BIGINT


def _h56(col, seed: int):
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), col)), 1, 14), 16, 10
    ).cast("bigint")


def tokens(df: DataFrame, text_col: str = "text"):
    return F.split(F.lower(F.trim(F.col(text_col))), r"\s+")


def shingles(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (JVM-side arrays)."""
    toks = tokens(df, text_col)
    k = F.size(toks) - (n - 1)
    grams = F.when(
        k > 0,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(grams)).alias("shingle"),
    )


def minhash_signatures(sh: DataFrame, n_hashes: int = 16) -> DataFrame:
    """doc_id → [min over shingles of h_i(shingle)] for i in 0..n-1."""
    aggs = [F.min(_h56(F.col("shingle"), i)).alias(f"mh{i}") for i in range(n_hashes)]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    sig: DataFrame, n_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Band the signature, bucket-join on (band_id, band_hash): docs
    sharing any band are near-dup candidates. Returns distinct (a, b)."""
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("_", *parts)).alias("sig"))
        )
    banded = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bh")
    ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.sig").alias("sig"))
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.sig") == F.col("r.sig"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    sh: DataFrame,
    threshold: float = 0.5,
    round_to: int = 4,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over distinct-shingle sets via shingle equi-join:
    |A∩B| from the join, |A∪B| = |A|+|B|-|A∩B|.

    ``max_shingle_df`` is the stop-shingle skew guard: shingles appearing
    in >= that many documents are dropped from the universe (both sizes
    and intersection, so Jaccard stays a true Jaccard over the filtered
    sets). Without it a single hot shingle ("of the and" in a web corpus)
    fans the equi-join out to O(df²) rows on one key — the classic
    shuffle-skew bomb at 100 TB scale."""
    if max_shingle_df is not None:
        df_counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sh_df"))
        sh = (
            sh.join(df_counts, "shingle")
            .filter(F.col("sh_df") < max_shingle_df)
            .select("doc_id", "shingle")
        )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        sh.alias("x")
        .join(sh.alias("y"), "shingle")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(
            F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "a").withColumnRenamed("n_sh", "na"), "a")
        .join(sizes.withColumnRenamed("doc_id", "b").withColumnRenamed("n_sh", "nb"), "b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")),
                round_to,
            ),
        )
    )
    return j.filter(F.col("jaccard") >= threshold).select("a", "b", "jaccard")


def simhash_band_pairs(
    fp: DataFrame, bits: int = 16, bands: int = 4, max_hamming: int = 3
) -> DataFrame:
    """All (x, y) doc pairs with SimHash hamming distance <= max_hamming,
    via pigeonhole banding: split the ``bits``-bit fingerprint into
    ``bands`` contiguous bands; any pair differing in <= max_hamming bits
    leaves at least one band untouched whenever max_hamming < bands, so
    an equi-join on (band_id, band_bits) finds EVERY qualifying pair —
    exact, not approximate — and the verify step re-checks the full
    hamming distance.

    This replaces the O(N²) a<b theta join (a BroadcastNestedLoopJoin):
    the banded join is a hash join on uniform keys, near-linear at scale."""
    assert max_hamming < bands, "pigeonhole needs more bands than allowed bit flips"
    r = bits // bands
    mask = (1 << r) - 1
    band_cols = [
        F.struct(
            F.lit(s).alias("band"),
            F.shiftright(F.col("simhash"), s * r).bitwiseAND(F.lit(mask)).alias("bbits"),
        )
        for s in range(bands)
    ]
    banded = fp.select(
        "doc_id", "simhash", F.explode(F.array(*band_cols)).alias("bh")
    ).select("doc_id", "simhash", F.col("bh.band").alias("band"), F.col("bh.bbits").alias("bbits"))
    a = banded.alias("a")
    b = banded.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bbits") == F.col("b.bbits"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("x"),
            F.col("b.doc_id").alias("y"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair can match in several bands
    )


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 16) -> DataFrame:
    """SimHash fingerprint: per token a 56-bit hash; bit b of the
    fingerprint is 1 when more tokens have bit b set than not."""
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(df, text_col)).alias("tok")
    ).withColumn("h", _h56(F.col("tok"), 99))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    fp = None
    for b in range(bits):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return bit_sums.select("doc_id", fp.cast("bigint").alias("simhash"))


def connected_components_star(
    pairs: DataFrame, a_col: str = "x", b_col: str = "y",
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components via alternating LARGE-STAR / SMALL-STAR
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the long-chain-safe upgrade over min-label propagation:
    rounds needed are O(log n) in the component DIAMETER-independent
    sense (each star round at least halves tree height), so a 10^6-hop
    chain converges in ~20 rounds where label propagation needs 10^6.

      large-star(u): connect every strictly-larger neighbor of u to
        m = min(Γ(u) ∪ {u});
      small-star(u): orient edges toward smaller ids; connect u and all
        its smaller neighbors to their minimum.

    At the fixpoint every node has a single edge to its component's
    minimum id. Returns (node, comp) like connected_components. Each
    round is two hash shuffles (groupBy + join) with localCheckpoint
    keeping the lineage flat."""
    u, v = F.col("u"), F.col("v")
    edges = (
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .filter(u != v)
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(u.alias("node"))
        .unionByName(edges.select(v.alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def large_star(e: DataFrame) -> DataFrame:
        d = e.unionByName(e.select(v.alias("u"), u.alias("v")))
        mins = d.groupBy("u").agg(F.min("v").alias("_mn"))
        m = F.least(u, F.col("_mn"))
        return (
            d.join(mins, "u")
            .filter(v > u)
            .select(v.alias("u"), m.alias("v"))
            .select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
            .filter(u != v)
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        d = e.select(F.greatest(u, v).alias("u"), F.least(u, v).alias("v"))
        mins = d.groupBy("u").agg(F.min("v").alias("_mn"))
        out = (
            d.join(mins, "u")
            .select(v.alias("a"), F.col("_mn").alias("b"))
            .unionByName(mins.select(u.alias("a"), F.col("_mn").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .select(
                F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v")
            )
            .distinct()
        )
        return out

    for _ in range(max_iterations):
        new_edges = small_star(large_star(edges)).localCheckpoint(eager=True)
        changed = (
            new_edges.exceptAll(edges).limit(1).count()
            + edges.exceptAll(new_edges).limit(1).count()
        )
        edges = new_edges
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_iterations} alternations"
        )
    # fixpoint: every non-root points straight at its component min
    comp = edges.groupBy("u").agg(F.min("v").alias("comp")).select(
        u.alias("node"), "comp"
    )
    return (
        nodes.join(comp, "node", "left")
        .select("node", F.coalesce("comp", F.col("node")).alias("comp"))
    )


def connected_components(
    pairs: DataFrame, a_col: str = "x", b_col: str = "y",
    max_iterations: int = 25,
) -> DataFrame:
    """Duplicate-cluster formation: connected components over near-dup
    pair edges, component id = min reachable doc id.

    Iterative min-label propagation — the canonical Spark shape for an
    iterative graph algorithm: a driver loop of (edge join → min agg →
    label update), each round materialized with localCheckpoint so the
    lineage stays flat, stopping at the fixpoint. Rounds needed = max
    over nodes of the hop distance to its component's min node — tiny for
    near-dup clusters (dense, small diameter). For web-scale graphs with
    long chains swap the update rule for large-star/small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — same loop skeleton, O(log n) rounds.

    Returns (node, comp) for every node appearing in ``pairs``.
    """
    edges = (
        pairs.select(F.col(a_col).alias("s"), F.col(b_col).alias("d"))
        .unionByName(pairs.select(F.col(b_col).alias("s"), F.col(a_col).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("s").alias("node")).distinct().withColumn(
        "comp", F.col("node")
    ).localCheckpoint(eager=True)
    for _ in range(max_iterations):
        nmin = (
            edges.join(labels, edges.s == labels.node)
            .groupBy(edges.d.alias("node"))
            .agg(F.min("comp").alias("nmin"))
        )
        new_labels = (
            labels.join(nmin, "node", "left")
            .select(
                "node",
                F.least(F.col("comp"), F.coalesce("nmin", "comp")).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("a")
            .join(labels.alias("b"), "node")
            .filter(F.col("a.comp") != F.col("b.comp"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # A silent non-fixpoint would hand out WRONG component ids
        # (long label-propagation chains); fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge within {max_iterations} "
            f"iterations ({changed} labels still changing); raise "
            "max_iterations or switch to large-star/small-star for "
            "long-chain graphs"
        )
    return labels


def duplicate_substring_stats(
    df: DataFrame,
    min_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact duplicated-substring detection — the dedup unit of Lee et
    al., "Deduplicating Training Data Makes Language Models Better"
    (ACL 2022), re-expressed relationally instead of via suffix arrays:
    a token window of ``min_tokens`` whose md5 appears MORE THAN ONCE in
    the corpus marks a duplicated span; per document, overlapping marked
    windows merge into maximal intervals (gaps-and-islands: a new island
    starts when the next window position is more than ``min_tokens``
    past the previous one).

    Returns one row per input document:
      (doc_id, n_dup_spans, dup_tokens, dup_frac)
    with zeros for documents containing no duplicated span (including
    docs shorter than the window).

    Scale shape: the window hashes are computed INSIDE the array (one
    transform, no token payload through the explode); the only wide ops
    are a groupBy on uniform md5 keys and a per-doc island window."""
    L = min_tokens
    toks = tokens(df, text_col)
    base = df.select(
        F.col(id_col).alias("doc_id"), toks.alias("toks"),
        F.size(toks).alias("n"),
    )
    hashes = F.transform(
        F.sequence(F.lit(1), F.col("n") - (L - 1)),
        lambda p: F.md5(F.concat_ws(" ", F.slice(F.col("toks"), p, L))),
    )
    wins = base.filter(F.col("n") >= L).select(
        "doc_id", "n", F.posexplode(hashes).alias("pos0", "h")
    )
    dup_h = (
        wins.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") > 1)
        .select("h")
    )
    marked = wins.join(dup_h, "h").select("doc_id", "n", "pos0")
    w = W.partitionBy("doc_id").orderBy("pos0")
    gap = F.col("pos0") - F.lag("pos0").over(w)
    boundary = F.when(gap.isNull() | (gap > L), 1).otherwise(0)
    isl = marked.withColumn(
        "island",
        F.sum(boundary).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    spans_ = isl.groupBy("doc_id", "n", "island").agg(
        F.min("pos0").alias("s"), (F.max("pos0") + L).alias("e")
    )
    agg = spans_.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s")).alias("dup_tokens"),
        F.round(
            F.sum(F.col("e") - F.col("s")) / F.first("n"), 4
        ).alias("dup_frac"),
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_tokens", F.lit(0)).alias("dup_tokens"),
            F.coalesce("dup_frac", F.lit(0.0)).alias("dup_frac"),
        )
    )


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_tokens: int = 8,
) -> DataFrame:
    """C4-style line-grain exact dedup WITH corpus reconstruction.

    C4 (Raffel et al., JMLR 2020, §2.2) removes every repeated
    three-sentence span from the corpus, keeping exactly ONE occurrence.
    The engine's corpus has no sentence boundaries, so the "line" unit is
    a fixed run of ``seg_tokens`` consecutive tokens (non-overlapping —
    unlike duplicate_substring_stats' sliding windows, which only REPORT
    duplication; this operator rewrites the text). For each duplicated
    segment the globally-first occurrence (lowest doc_id, then segment
    index) survives; every document is then reassembled from its
    surviving segments in order.

    Output: (doc_id, n_segs, n_kept, text_dedup) for every input row.

    Scale shape: one explode (narrow), one row_number window partitioned
    by the segment hash (single shuffle on a near-uniform md5 key — the
    dedup analogue of a groupBy), one per-document reassembly agg. No
    driver-side state; the reassembled text never exceeds the input row.
    """
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    segs = F.expr(
        f"transform(sequence(0, int(ceil(size(__toks) / {seg_tokens}.0)) - 1),"
        f" g -> array_join(slice(__toks, g * {seg_tokens} + 1, {seg_tokens}), ' '))"
    )
    s = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .select("doc_id", F.posexplode(segs).alias("six", "seg"))
    )
    w = W.partitionBy(F.md5(F.col("seg"))).orderBy("doc_id", "six")
    kept = (
        s.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
    )
    rec = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("six", "seg"))),
                lambda p: p["seg"],
            ),
            " ",
        ).alias("text_dedup"),
    )
    tot = s.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_segs"))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(tot, "doc_id", "left")
        .join(rec, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_segs", F.lit(0)).alias("n_segs"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
        )
    )


def screen_incoming(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Incremental corpus-update screen: dedup an INCOMING batch against
    the EXISTING corpus with no existing↔existing work — exact matches
    via a content-md5 equi-join, near matches via a strictly
    incoming↔existing pigeonhole-banded SimHash join (cost ∝ batch size
    × band collision rate, never corpus²) with a full-hamming verify.

    Returns one row per incoming doc: (doc_id, n_exact, n_near, keep)
    where n_near counts existing docs within ``max_hamming`` (hamming 0
    — identical text — counts as near too; the columns answer different
    questions), and keep = no exact AND no near match. Append-stable:
    both keys are deterministic content functions, so re-screening the
    same batch yields identical verdicts. The registry query
    `dedup_incremental` pins this against a DuckDB oracle."""
    assert max_hamming < bands
    ch = F.md5(F.lower(F.trim(F.col(text_col))))
    inc_h = incoming.select(F.col(id_col).alias("doc_id"), ch.alias("ch"))
    ex_counts = (
        existing.select(ch.alias("ch"))
        .groupBy("ch")
        .agg(F.count(F.lit(1)).alias("n_ex"))
    )
    exact = inc_h.join(ex_counts, "ch", "left").select(
        "doc_id", F.coalesce("n_ex", F.lit(0)).alias("n_exact")
    )

    r = bits // bands
    mask = (1 << r) - 1
    band_cols = [
        F.struct(
            F.lit(s).alias("band"),
            F.shiftright(F.col("simhash"), s * r)
            .bitwiseAND(F.lit(mask))
            .alias("bbits"),
        )
        for s in range(bands)
    ]

    def banded(df):
        fp = simhash(df, id_col=id_col, text_col=text_col, bits=bits)
        return fp.select(
            "doc_id", "simhash", F.explode(F.array(*band_cols)).alias("bh")
        ).select(
            "doc_id", "simhash",
            F.col("bh.band").alias("band"), F.col("bh.bbits").alias("bbits"),
        )

    bi = banded(incoming).alias("i")
    be = banded(existing).alias("e")
    ham = F.bit_count(F.col("i.simhash").bitwiseXOR(F.col("e.simhash")))
    near = (
        bi.join(
            be,
            (F.col("i.band") == F.col("e.band"))
            & (F.col("i.bbits") == F.col("e.bbits")),
        )
        .filter(ham <= max_hamming)
        .select(
            F.col("i.doc_id").alias("doc_id"),
            F.col("e.doc_id").alias("ex_id"),
        )
        .distinct()  # a pair can collide in several bands
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_near"))
    )
    return exact.join(near, "doc_id", "left").select(
        "doc_id",
        F.col("n_exact").cast("bigint").alias("n_exact"),
        F.coalesce("n_near", F.lit(0)).cast("bigint").alias("n_near"),
        ((F.col("n_exact") == 0) & (F.coalesce("n_near", F.lit(0)) == 0))
        .cast("int")
        .alias("keep"),
    )
