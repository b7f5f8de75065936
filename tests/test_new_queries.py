"""Round-6 curation operators: LM perplexity scoring (lm_score) and URL /
domain parsing (url_ops). Each is pinned against an independent
pure-Python reference here; their registry entries are additionally
cross-checked against DuckDB oracles by scripts/verify_queries.py."""

from __future__ import annotations

import math

import pytest

from high_performance_docling_spark.operators import lm_score as LM
from high_performance_docling_spark.operators import url_ops as UO


# ---------------------------------------------------------------- lm_score

LM_DOCS = [
    (0, "the cat sat"),
    (1, "the cat ran"),
    (2, "a dog"),
    (3, "solo"),
    (4, ""),
]


def _py_bigram_reference(rows):
    """Independent add-one bigram LM implementation (plain dicts)."""
    toks = {i: t.lower().strip().split() for i, t in rows}
    vocab = {w for ts in toks.values() for w in ts if ts}
    # empty text tokenizes to [''] under the \s+ split contract
    for i, t in rows:
        if t.strip() == "":
            vocab.add("")
    v = len(vocab)
    bigrams = {
        i: list(zip(ts, ts[1:])) for i, ts in toks.items()
    }
    c12: dict = {}
    c1: dict = {}
    for bs in bigrams.values():
        for b in bs:
            c12[b] = c12.get(b, 0) + 1
            c1[b[0]] = c1.get(b[0], 0) + 1
    out = {}
    for i, bs in bigrams.items():
        if not bs:
            out[i] = (0, 0.0, 1.0)
            continue
        lps = [
            math.log((c12[b] + 1.0) / (c1[b[0]] + v)) for b in bs
        ]
        avg = round(sum(lps) / len(lps), 6)
        out[i] = (len(bs), avg, round(math.exp(-avg), 4))
    return out


def test_score_documents_matches_python_reference(spark):
    df = spark.createDataFrame(LM_DOCS, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_bigrams"], r["avg_logp"], r["ppl"])
        for r in LM.score_documents(df).collect()
    }
    want = _py_bigram_reference(LM_DOCS)
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], i
        assert got[i][1] == pytest.approx(want[i][1], abs=2e-6), i
        assert got[i][2] == pytest.approx(want[i][2], abs=2e-4), i


def test_score_documents_foreign_model_unseen_floor(spark):
    train = spark.createDataFrame([(0, "x y")], ["doc_id", "text"])
    score = spark.createDataFrame([(9, "z w")], ["doc_id", "text"])
    lm = LM.train_bigram_lm(train)
    row = LM.score_documents(score, lm=lm).collect()[0]
    # unseen context and bigram: ln((0+1)/(0+V)) with V=2 -> ppl 2.0
    assert row["n_bigrams"] == 1
    assert row["avg_logp"] == pytest.approx(math.log(0.5), abs=1e-6)
    assert row["ppl"] == pytest.approx(2.0, abs=1e-4)


def test_train_min_count_prunes_to_laplace_floor(spark):
    # with min_count=2 the once-seen bigram (y,z) is pruned from the
    # model and scores as an unseen event: (0+1)/(c1+V), not (1+1)/(c1+V)
    train = spark.createDataFrame(
        [(0, "x y x y y z")], ["doc_id", "text"]
    )
    lm = LM.train_bigram_lm(train, min_count=2)
    score = spark.createDataFrame([(1, "y z")], ["doc_id", "text"])
    row = LM.score_documents(score, lm=lm).collect()[0]
    # c1(y)=3, V=3 -> ln(1/6)
    assert row["avg_logp"] == pytest.approx(math.log(1 / 6), abs=1e-6)


# ----------------------------------------------------------------- url_ops

def test_parse_url_columns_cases(spark):
    urls = [
        (0, "https://News.BBC.co.uk:8080/world/asia/index.html?q=1#frag"),
        (1, "http://example.com"),
        (2, "https://localhost/a"),
        (3, "https://cdn.sample.org/x/"),
        (4, "not a url"),
    ]
    df = UO.parse_url_columns(
        spark.createDataFrame(urls, ["doc_id", "url"])
    )
    rows = {r["doc_id"]: r for r in df.collect()}
    r0 = rows[0]
    assert r0["url_host"] == "news.bbc.co.uk"  # lowercased, port stripped
    assert r0["url_domain"] == "bbc.co.uk"  # second-level TLD -> 3 labels
    assert r0["url_path_depth"] == 3
    assert r0["url_has_query"] == 1
    assert rows[1]["url_host"] == "example.com"
    assert rows[1]["url_domain"] == "example.com"
    assert rows[1]["url_path_depth"] == 0
    assert rows[1]["url_has_query"] == 0
    assert rows[2]["url_domain"] == "localhost"  # single label stays
    assert rows[3]["url_path_depth"] == 1  # trailing slash: one segment
    assert rows[4]["url_host"] == ""  # unparseable -> empty, not error
    assert rows[4]["url_domain"] == ""


def test_domain_stats_rollup(spark):
    urls = [
        (0, "https://a.example.com/p?x=1", 10),
        (1, "https://b.example.com/p/q", 30),
        (2, "https://other.net/", 50),
    ]
    out = {
        r["domain"]: r
        for r in UO.domain_stats(
            spark.createDataFrame(urls, ["doc_id", "url", "n_chars"]),
            weight_col="n_chars",
        ).collect()
    }
    ex = out["example.com"]
    assert ex["n_docs"] == 2 and ex["n_hosts"] == 2
    assert ex["n_query_urls"] == 1
    assert ex["avg_path_depth"] == pytest.approx(1.5)
    assert ex["avg_n_chars"] == pytest.approx(20.0)
    assert out["other.net"]["n_docs"] == 1


# ------------------------------------------------------------ psl domains

PSL_CASES = {
    # host -> (public_suffix, registrable_domain)
    "example.com": ("com", "example.com"),
    "www.example.com": ("com", "example.com"),
    "news.bbc.co.uk": ("co.uk", "bbc.co.uk"),  # longest rule wins
    "a.blogspot.com": ("blogspot.com", "a.blogspot.com"),  # private suffix
    "foo.bar.ck": ("bar.ck", "foo.bar.ck"),  # *.ck wildcard
    "www.ck": ("ck", "www.ck"),  # !www.ck exception
    "x.www.ck": ("ck", "www.ck"),  # exception matched as suffix
    "ck": ("ck", ""),  # host IS a public suffix
    "localhost": ("localhost", ""),  # unlisted single label
    "data.ac.jp": ("ac.jp", "data.ac.jp"),
    "deep.sub.shop.com.au": ("com.au", "shop.com.au"),
    "": ("", ""),  # unparseable host propagates empty
}


def test_registrable_domain_psl_cases(spark):
    df = spark.createDataFrame(
        [(i, h) for i, h in enumerate(PSL_CASES)], ["doc_id", "url_host"]
    )
    out = UO.registrable_domain_psl(df, spark)
    rows = {r["url_host"]: r for r in out.collect()}
    assert len(out.columns) == 4  # helper columns dropped
    for host, (pub, dom) in PSL_CASES.items():
        assert rows[host]["psl_public_suffix"] == pub, host
        assert rows[host]["psl_domain"] == dom, host


def test_registrable_domain_psl_no_row_duplication(spark):
    # 'ck' carries a plain AND a wildcard rule on the same join key —
    # the per-length rule slices must collapse them to one row
    df = spark.createDataFrame(
        [(i, "foo.bar.ck") for i in range(7)], ["doc_id", "url_host"]
    )
    assert UO.registrable_domain_psl(df, spark).count() == 7


# --------------------------------------------------- domain-balanced sampling


def test_domain_balanced_sample_caps_heavy_domains(spark):
    """Inverse-domain-frequency weights must pull per-domain shares
    toward uniform: every domain represented, and the three 2-host
    domains (50% of the corpus) capped well below their raw share.
    Deterministic draw — these are exact facts about the fixed sample,
    not statistics."""
    from collections import Counter

    from high_performance_docling_spark.entry_queries import QUERIES

    rows = QUERIES["domain_balanced_sample"](
        spark, "/root/testdata/sf0.01").collect()
    assert len(rows) == 64
    c = Counter(r["domain"] for r in rows)
    assert len(c) == 9  # every registrable domain present
    heavy = c["example.com"] + c["www.ck"] + c[""]  # 2 hosts each
    assert heavy < 0.45 * 64  # raw corpus share would be ~50%
    assert max(c.values()) <= 22  # ~3x the uniform expectation


# ------------------------------------------------------------- bpe training

def _py_bpe_reference(word_freqs, n_merges):
    """Independent classic BPE trainer (Sennrich et al.): plain dicts,
    sequential greedy merge."""
    words = {tuple(w): f for w, f in word_freqs.items()}
    out = []
    for it in range(1, n_merges + 1):
        counts = {}
        for syms, f in words.items():
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + f
        if not counts:
            break
        (l, r), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        out.append((it, l, r, n))
        new = {}
        for syms, f in words.items():
            res, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    res.append(l + r)
                    i += 2
                else:
                    res.append(syms[i])
                    i += 1
            new[tuple(res)] = new.get(tuple(res), 0) + f
        words = new
    return out


def test_bpe_train_matches_python_reference(spark):
    """Overlap-heavy vocabulary: 'aaaa' forces the left==right greedy
    case, 'abab' the repeated-pair case."""
    from high_performance_docling_spark.operators import text_analysis as TA2

    vocab = {"aaaa": 10, "abab": 6, "banana": 4, "aab": 3}
    words = spark.createDataFrame(
        [(list(w), f) for w, f in vocab.items()], ["syms", "freq"]
    )
    got = TA2.bpe_train(words, n_merges=4)
    want = _py_bpe_reference({tuple(w): f for w, f in vocab.items()}, 4)
    assert got == want


def test_bpe_merge_pair_single_symbol_word(spark):
    from high_performance_docling_spark.operators import text_analysis as TA2

    words = spark.createDataFrame([(["x"], 1), (["a", "b"], 2)], ["syms", "freq"])
    merges = TA2.bpe_train(words, n_merges=1)
    assert merges == [(1, "a", "b", 2)]
