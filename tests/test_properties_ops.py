"""Hypothesis property tests for the BM25 pure-Python reference that
pins the Spark and DuckDB scorers (tests/test_retrieval.py): its
invariants must hold under randomized corpora and queries."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

_words = st.sampled_from(
    ["red", "blue", "ring", "bolt", "gear", "spark", "row", "scan"]
)
_doc = st.lists(_words, min_size=1, max_size=12).map(" ".join)


@settings(max_examples=100, deadline=None)
@given(st.lists(_doc, min_size=2, max_size=10), st.lists(_words, min_size=1, max_size=3, unique=True))
def test_bm25_reference_invariants(docs, terms):
    import tests.test_retrieval as TR

    rows = list(enumerate(docs))
    out = TR._py_bm25(rows, terms)
    for i, (matched, score) in out.items():
        toks = docs[i].split()
        present = {t for t in terms if t in toks}
        assert matched == len(present) >= 1
        assert score > 0  # idf floor keeps every contribution positive
    # docs containing no term are absent
    for i, d in rows:
        if not any(t in d.split() for t in terms):
            assert i not in out
