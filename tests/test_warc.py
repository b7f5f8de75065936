"""WARC (ISO 28500) source: parser round-trip, Common Crawl gzip-member
layout, and the WARC → response fan-out → format-sniffing extraction
pipeline to ordered spans."""

import pytest
from hypothesis import given, settings, strategies as st

from high_performance_docling_spark.kernels.warc import (
    build_warc,
    http_response_block,
    http_response_body,
    parse_warc,
    response_documents,
)

HTML = (b"<html><head><title>t</title></head><body>"
        b"<h1>Crawl Heading</h1><p>First crawled paragraph of text that "
        b"is long enough to keep.</p><nav>menu junk</nav></body></html>")


def _fixture_records(pdf_bytes=b""):
    recs = [
        {"warc_type": "warcinfo", "uri": "",
         "content_type": "application/warc-fields",
         "block": b"software: test\r\n"},
        {"warc_type": "request", "uri": "http://ex.com/a",
         "content_type": "application/http; msgtype=request",
         "block": b"GET /a HTTP/1.1\r\nHost: ex.com\r\n\r\n"},
        {"warc_type": "response", "uri": "http://ex.com/a",
         "content_type": "application/http; msgtype=response",
         "block": http_response_block(HTML, "text/html; charset=utf-8")},
        {"warc_type": "response", "uri": "http://ex.com/weird",
         "content_type": "application/http; msgtype=response",
         "block": b"not an http response at all"},  # skipped
    ]
    if pdf_bytes:
        recs.append(
            {"warc_type": "response", "uri": "http://ex.com/doc.pdf",
             "content_type": "application/http; msgtype=response",
             "block": http_response_block(pdf_bytes, "application/pdf")}
        )
    return recs


@pytest.mark.parametrize("gz", [False, True])
def test_parse_roundtrip(gz):
    data = build_warc(_fixture_records(), gzip_members=gz)
    recs = parse_warc(data)
    assert [r["warc_type"] for r in recs] == [
        "warcinfo", "request", "response", "response"]
    assert recs[2]["uri"] == "http://ex.com/a"
    body, ctype = http_response_body(recs[2]["block"])
    assert body == HTML and ctype.startswith("text/html")


def test_response_documents_skips_non_http_and_non_response():
    docs = response_documents(build_warc(_fixture_records(), gzip_members=True))
    assert len(docs) == 1
    assert docs[0]["url"] == "http://ex.com/a"
    assert docs[0]["payload"] == HTML


def test_malformed_inputs_raise_valueerror():
    with pytest.raises(ValueError):
        parse_warc(b"NOT A WARC\r\n\r\n")
    ok = build_warc(_fixture_records())
    with pytest.raises(ValueError):
        parse_warc(ok[: len(ok) - 40])  # truncated block
    with pytest.raises(ValueError):
        parse_warc(b"\x1f\x8b" + b"garbage")


@settings(max_examples=100, deadline=None)
@given(start=st.integers(0, 500), payload=st.binary(max_size=32),
       truncate=st.integers(1, 600))
def test_parser_fuzz_only_valueerror(start, payload, truncate):
    base = build_warc(_fixture_records(), gzip_members=False)
    mutated = (base[:start] + payload + base[start + len(payload):])[:truncate]
    try:
        parse_warc(mutated)
    except ValueError:
        pass


@pytest.mark.parametrize("gz", [False, True])
def test_cdx_index_random_access(gz):
    """CDX offset index addresses each record (gzip MEMBER for the
    Common Crawl layout); read_record_at fetches one record from just
    its byte range and matches the sequential parse."""
    from high_performance_docling_spark.kernels.warc import (
        cdx_index,
        read_record_at,
    )

    data = build_warc(_fixture_records(), gzip_members=gz)
    idx = cdx_index(data)
    full = parse_warc(data)
    assert len(idx) == len(full) == 4
    assert [r["warc_type"] for r in idx] == [r["warc_type"] for r in full]
    # ranges tile the file without overlap
    assert idx[0]["offset"] == 0
    for a, b in zip(idx, idx[1:]):
        assert b["offset"] == a["offset"] + a["length"]
    assert idx[-1]["offset"] + idx[-1]["length"] == len(data)
    for row, want in zip(idx, full):
        got = read_record_at(data, row["offset"], row["length"],
                             row["record_ix"])
        assert got == want


def test_cdx_whole_file_gzip_record_ix():
    """Whole-file-gzip layout (one member, many records): rows share the
    member range and record_ix disambiguates random access."""
    import zlib

    from high_performance_docling_spark.kernels.warc import (
        cdx_index,
        read_record_at,
    )

    plain = build_warc(_fixture_records(), gzip_members=False)
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    data = co.compress(plain) + co.flush()
    idx = cdx_index(data)
    full = parse_warc(data)
    assert len(idx) == 4 and all(r["offset"] == 0 for r in idx)
    assert [r["record_ix"] for r in idx] == [0, 1, 2, 3]
    for row, want in zip(idx, full):
        assert read_record_at(data, row["offset"], row["length"],
                              row["record_ix"]) == want


def test_stream_extract_warc_equals_batch(spark, tmp_path):
    """Continuous crawl ingestion: two WARC archives landing as a stream
    produce EXACTLY the batch path's spans, through the idempotent
    commit (read back via read_committed; bookkeeping stripped)."""
    from high_performance_docling_spark.iceberg import read_committed
    from high_performance_docling_spark.sources import (
        extract_warc_documents,
        read_warc,
    )
    from high_performance_docling_spark.streaming.extract import (
        stream_extract_warc,
    )

    src = tmp_path / "crawl"
    src.mkdir()
    (src / "seg-0.warc.gz").write_bytes(
        build_warc(_fixture_records(), gzip_members=True))
    (src / "seg-1.warc").write_bytes(
        build_warc([
            {"warc_type": "response", "uri": "http://ex.com/b",
             "content_type": "application/http; msgtype=response",
             "block": http_response_block(HTML, "text/html")},
        ]))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = stream_extract_warc(spark, str(src), out, ckpt,
                            max_files_per_trigger=1, idempotent=True)
    q.awaitTermination(120)

    def norm(df):
        return {
            r["doc_id"]: [(s["kind"], s["text"], s["order"])
                          for s in r["spans"]]
            for r in df.collect()
        }

    got = norm(read_committed(spark, out))
    want = norm(extract_warc_documents(read_warc(spark, str(src))))
    assert got == want and len(got) == 2
    assert "batch_id" not in read_committed(spark, out).columns


def test_cdx_index_stream_matches_cdx_index():
    """The bounded-memory streaming indexer yields EXACTLY cdx_index's
    rows on all three layouts, at pathological chunk sizes, and raises
    ValueError where the batch form does."""
    import io
    import zlib

    from high_performance_docling_spark.kernels.warc import (
        cdx_index,
        cdx_index_stream,
    )

    plain = build_warc(_fixture_records())
    memgz = build_warc(_fixture_records(), gzip_members=True)
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    wholegz = co.compress(plain) + co.flush()
    for data in (plain, memgz, wholegz):
        want = cdx_index(data)
        for cs in (7, 64, 1 << 20):
            assert list(cdx_index_stream(io.BytesIO(data), chunk_size=cs)) \
                == want
    for bad in (plain[:-30], memgz[:-5], b"\x1f\x8b" + b"junkjunk",
                wholegz + b"EXTRA"):
        with pytest.raises(ValueError):
            list(cdx_index_stream(io.BytesIO(bad), chunk_size=11))


def test_read_warc_records_equals_whole_file_path(spark, tmp_path):
    """VERDICT r5 #3: the distributed ranged-read path (CDX index →
    repartition → per-record fetch) returns EXACTLY the whole-file
    path's rows — same doc_ids, payloads, and downstream spans — on a
    mix of per-member-gzip, plain, and whole-file-gzip archives (the
    record_ix disambiguation case), with record-grain parallelism."""
    import zlib

    from tests.test_pdf_seam import _build_pdf_15

    from high_performance_docling_spark.sources import (
        extract_fetched_documents,
        read_warc,
        read_warc_records,
        warc_cdx_dataframe,
        warc_response_documents,
    )

    pdf = _build_pdf_15()
    (tmp_path / "seg-0.warc.gz").write_bytes(
        build_warc(_fixture_records(pdf_bytes=pdf), gzip_members=True))
    (tmp_path / "seg-1.warc").write_bytes(
        build_warc(_fixture_records(), gzip_members=False))
    whole_plain = build_warc(_fixture_records(pdf_bytes=pdf))
    co = zlib.compressobj(6, zlib.DEFLATED, 31)
    (tmp_path / "seg-2.warc.gz").write_bytes(
        co.compress(whole_plain) + co.flush())

    def norm_docs(df):
        return {
            r["doc_id"]: (r["url"], r["content_type"], r["n_bytes"],
                          bytes(r["payload"]))
            for r in df.collect()
        }

    whole = warc_response_documents(read_warc(spark, str(tmp_path)))
    ranged = read_warc_records(spark, str(tmp_path), num_partitions=8)
    assert norm_docs(ranged) == norm_docs(whole)
    # spans through the same downstream extraction stage
    def norm_spans(df):
        return {
            r["doc_id"]: [(s["kind"], s["text"], s["order"])
                          for s in r["spans"]]
            for r in df.collect()
        }

    assert norm_spans(extract_fetched_documents(ranged)) == \
        norm_spans(extract_fetched_documents(whole))
    # record-grain parallelism: the fetch stage runs over MORE
    # partitions than there are archives — a single mega-archive fans
    # out instead of pinning one task
    idx = warc_cdx_dataframe(spark, str(tmp_path))
    assert idx.count() == 14  # 5 + 4 + 5 records
    assert read_warc_records(
        spark, str(tmp_path), num_partitions=8).rdd.getNumPartitions() == 8


def test_jsonl_corpus_source(spark, tmp_path):
    """Pile/C4-style JSONL(.gz) ingestion → (doc_id, source, text) rows,
    with an md5 id for a record that has none."""
    import gzip
    import json

    from high_performance_docling_spark.sources import read_jsonl_corpus

    rows = [
        {"id": "a1", "text": "alpha beta gamma", "src": "web"},
        {"id": "a2", "text": "delta epsilon", "src": "books"},
        {"text": "no id here at all"},
    ]
    p = tmp_path / "part-0.jsonl.gz"
    with gzip.open(p, "wt") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    docs = read_jsonl_corpus(spark, str(tmp_path), source_field="src")
    got = {r["doc_id"]: r for r in docs.collect()}
    assert got["a1"]["source"] == "web" and got["a1"]["text"] == "alpha beta gamma"
    assert got["a2"]["source"] == "books"
    anon = [k for k in got if k not in ("a1", "a2")]
    assert len(anon) == 1 and len(anon[0]) == 32  # md5 fallback id


def test_warc_to_spans_through_spark(spark, tmp_path):
    """The full source path: WARC file on disk → read_warc →
    response fan-out → format-sniffed extraction → ordered spans, for
    BOTH an HTML and a (modern, xref-stream) PDF payload."""
    from tests.test_pdf_seam import _build_pdf_15

    from high_performance_docling_spark.sources import (
        extract_warc_documents,
        read_warc,
        warc_response_documents,
    )

    pdf = _build_pdf_15()
    warc_path = tmp_path / "seg-00000.warc.gz"
    warc_path.write_bytes(
        build_warc(_fixture_records(pdf_bytes=pdf), gzip_members=True)
    )
    files = read_warc(spark, str(tmp_path))
    docs = warc_response_documents(files)
    got_docs = {r["doc_id"]: r for r in docs.collect()}
    assert len(got_docs) == 2
    out = {r["doc_id"]: [(s["kind"], s["text"], s["order"]) for s in r["spans"]]
           for r in extract_warc_documents(files).collect()}
    html_doc = [k for k in out if "ex.com_a" in k][0]
    pdf_doc = [k for k in out if "doc.pdf" in k][0]
    kinds = [k for k, _, _ in out[html_doc]]
    assert "section_header" in kinds  # <h1> survived the boilerplate strip
    texts = [t for _, t, _ in out[html_doc]]
    assert any("First crawled paragraph" in t for t in texts)
    assert not any("menu junk" in t for t in texts)  # <nav> stripped
    assert out[pdf_doc][0] == ("section_header", "Engine Report", 0)
    assert len(out[pdf_doc]) == 6


def test_jsonl_quarantine_splits_good_and_bad(spark, tmp_path):
    from high_performance_docling_spark.sources import read_jsonl_quarantined

    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id": "a", "text": "hello world", "source": "s1"}\n'
        '{"id": "b", "text": "ok", "source": "s1"}\n'
        "{this is not json at all\n"
        '{"id": "c", "text": "fine"}\n'
    )
    good, bad = read_jsonl_quarantined(spark, str(p))
    g = {r["id"]: r for r in good.collect()}
    assert set(g) == {"a", "b", "c"}
    assert g["c"]["source"] is None  # missing field, not corrupt
    q = [r["raw_line"] for r in bad.collect()]
    assert q == ["{this is not json at all"]


def test_jsonl_quarantine_type_error_lands_in_exactly_one_frame(spark, tmp_path):
    """A line that is valid JSON but has a field of the wrong type is
    corrupt under the full schema. Every projection of the split must
    agree: it is out of ``good`` even for a query reading only ``id``,
    and it is in ``quarantined`` (a re-parse per projection would let it
    reappear in one and, reading only the corrupt column, fail the
    other)."""
    from high_performance_docling_spark.sources import read_jsonl_quarantined

    p = tmp_path / "in.jsonl"
    p.write_text('{"id": "a", "n": 1}\n{"id": "d", "n": "x"}\n')
    good, bad = read_jsonl_quarantined(spark, str(p), schema="id STRING, n INT")
    assert [tuple(r) for r in good.collect()] == [("a", 1)]
    assert [r["id"] for r in good.select("id").collect()] == ["a"]
    assert [r["raw_line"] for r in bad.collect()] == ['{"id": "d", "n": "x"}']
