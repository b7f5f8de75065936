"""Corpus source/sink connectors.

Production target is an Iceberg table of interleaved documents (north
rule); the Iceberg runtime jars are not in this sandbox, so the connector
probes for the catalog and falls back to partitioned parquet with the
same schema and the same write layout (hash-bucketed by doc_id). Swap is
a config change, not a code change.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession, functions as F


def iceberg_available(spark: SparkSession) -> bool:
    try:
        # py4j package traversal never raises — force a real classload
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
        return True
    except Exception:
        return False


def read_corpus(spark: SparkSession, location: str) -> DataFrame:
    """Read the docs table. ``location`` is either an Iceberg table name
    (catalog.db.table) or a parquet path."""
    if "/" not in location and iceberg_available(spark):
        return spark.read.format("iceberg").load(location)
    return spark.read.parquet(location)


def write_spans(
    df: DataFrame, location: str, partitions: int | None = None
) -> None:
    """Write the output span table. Iceberg table name → iceberg writer
    (append semantics, hidden partitioning); path → parquet."""
    if partitions:
        df = df.repartition(partitions, "doc_id")
    if "/" not in location and iceberg_available(df.sparkSession):
        df.writeTo(location).createOrReplace()
        return
    df.write.mode("overwrite").parquet(location)


# --------------------------------------------------------------------------
# URL manifest → document bytes (main.py:31-43 download + InputDocument)
# --------------------------------------------------------------------------

FETCH_SCHEMA = "doc_id string, url string, filename string, n_bytes int, payload binary"


def _fake_fetch(url: str) -> bytes:
    """Deterministic stand-in fetch: 'downloads' sha256-stream bytes of
    the URL (no network in this sandbox)."""
    import hashlib

    return hashlib.sha256(url.encode()).digest() * 4


def fetch_documents(manifest_df: DataFrame, fetcher=None, real_http: bool = False):
    """Distributed download stage: (doc_id, url) manifest → document BYTES
    rows, one fetch per row inside a mapInPandas pass (the Spark-shaped
    form of main.py:31-33 ``requests.get``; at scale the manifest is the
    work queue and fetch parallelism = partitions).

    ``real_http`` is the production seam — requests/urllib are not
    importable here, so it raises ``NotImplementedError``; tests run the
    deterministic fake fetch.
    """
    if real_http:
        raise NotImplementedError(
            "HTTP fetch requires the requests package — not in this sandbox; "
            "pass fetcher=<callable url -> bytes> in production"
        )
    fetch = fetcher or _fake_fetch

    def fn(batches):
        import pandas as pd

        from .util import safe_id

        for pdf in batches:
            rows = []
            for doc_id, url in zip(pdf["doc_id"], pdf["url"]):
                data = fetch(url)
                rows.append(
                    {
                        "doc_id": doc_id,
                        "url": url,
                        "filename": safe_id(url) + ".pdf",
                        "n_bytes": len(data),
                        "payload": data,
                    }
                )
            yield pd.DataFrame(
                rows, columns=["doc_id", "url", "filename", "n_bytes", "payload"]
            )

    return manifest_df.mapInPandas(fn, FETCH_SCHEMA)


def extract_fetched_documents(fetched_df: DataFrame) -> DataFrame:
    """Format-sniffing extraction stage over fetch_documents output:
    %PDF payloads go through the pure-Python PDF parser, HTML payloads
    through the boilerplate-strip extractor — both to the SAME ordered
    span contract, in one narrow mapInPandas pass (the Spark shape of
    the reference's format registry dispatch, main.py InputFormat)."""
    from .schemas import SPANS_OUT_SCHEMA

    def fn(batches):
        import pandas as pd

        from .kernels.html_extract import html_to_spans
        from .kernels.pdf_parse import extract_pdf_spans

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                try:
                    if data.startswith(b"%PDF"):
                        spans = extract_pdf_spans(data)
                    else:
                        spans = [
                            {"kind": s["kind"], "text": s["text"],
                             "media_ref": s["media_ref"], "order": s["order"]}
                            for s in html_to_spans(
                                data.decode("utf-8", errors="replace")
                            )
                        ]
                        if not spans:
                            raise ValueError("no extractable content")
                except ValueError as e:
                    spans = [{"kind": "error", "text": str(e),
                              "media_ref": "", "order": 0}]
                rows.append({"doc_id": doc_id, "spans": spans})
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return fetched_df.mapInPandas(fn, SPANS_OUT_SCHEMA)


def read_jsonl_corpus(
    spark: SparkSession,
    path: str,
    id_field: str = "id",
    text_field: str = "text",
    source_field: str | None = None,
) -> DataFrame:
    """JSONL(.gz) text corpus (the Pile/C4-style layout) → the
    (doc_id, source, text) shape every text-analysis operator
    consumes. Spark's json reader handles gzip transparently and splits
    uncompressed files; schema is inferred once then projected (column
    pruning pushes into the scan). Missing id falls back to a
    content+position-free md5 of the text (append-stable)."""
    from pyspark.sql import functions as F

    raw = spark.read.json(path)
    cols = set(raw.columns)
    if id_field in cols:
        # PER-ROW fallback: rows missing an id get md5(text)
        doc_id = F.coalesce(F.col(id_field).cast("string"),
                            F.md5(F.col(text_field)))
    else:
        doc_id = F.md5(F.col(text_field))
    src = (
        F.col(source_field).cast("string")
        if source_field and source_field in cols
        else F.lit("jsonl")
    )
    return raw.select(
        doc_id.alias("doc_id"),
        src.alias("source"),
        F.col(text_field).cast("string").alias("text"),
    )


# --------------------------------------------------------------------------
# WARC (Common Crawl) source → the same span contract
# --------------------------------------------------------------------------

WARC_DOC_SCHEMA = (
    "doc_id string, warc_path string, url string, content_type string, "
    "n_bytes int, payload binary"
)


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """WARC files → one row per file (path, content). binaryFile keeps a
    whole archive per task — fine when archives are comfortably smaller
    than executor memory and file-count parallelism suffices. For
    mega-archives (Common Crawl ~1 GB gzip segments and up: one heavy
    row each, a 2 GiB binary ceiling, and a single task's memory), use
    ``read_warc_records`` instead — it never materializes a whole
    archive anywhere: a streaming CDX index pass fans each archive out
    to (offset, length) rows and records are fetched with ranged
    reads."""
    return spark.read.format("binaryFile").load(path)


WARC_CDX_SCHEMA = (
    "warc_path string, offset long, length long, record_ix int, "
    "record_seq int, warc_type string, uri string"
)


def _local_fs_path(uri: str) -> str:
    """binaryFile paths arrive as file: URIs on local runs; strip the
    scheme for open(). Non-file schemes are the documented object-store
    seam: a production deployment maps (path, offset, length) to ranged
    GETs (S3/HTTP Range headers) — same contract, different transport."""
    if uri.startswith("file:"):
        p = uri[5:]
        while p.startswith("//"):
            p = p[1:]
        return p
    if "://" in uri:
        raise NotImplementedError(
            f"ranged reads over {uri.split('://')[0]}:// need an "
            "object-store client (S3 Range GET) — local file: only here")
    return uri


def warc_cdx_dataframe(spark: SparkSession, path: str) -> DataFrame:
    """CDX-style record index of every archive under ``path``: one row
    per WARC record, (warc_path, offset, length, record_ix, record_seq,
    warc_type, uri). One streaming pass per archive (cdx_index_stream —
    bounded memory, payloads are discarded as they stream past), so
    even the index pass never holds an archive in memory: binaryFile
    column-prunes to `path` (the bytes are never loaded) and the task
    reads the file incrementally. Scale shape: index-pass parallelism =
    archive count; everything downstream is record-grain."""
    files = spark.read.format("binaryFile").load(path).select("path")

    def fn(batches):
        import pandas as pd

        from .kernels.warc import cdx_index_stream

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                with open(_local_fs_path(p), "rb") as f:
                    for row in cdx_index_stream(f):
                        rows.append({
                            "warc_path": p,
                            "offset": row["offset"],
                            "length": row["length"],
                            "record_ix": row["record_ix"],
                            "record_seq": row["record_seq"],
                            "warc_type": row["warc_type"],
                            "uri": row["uri"],
                        })
            yield pd.DataFrame(
                rows, columns=["warc_path", "offset", "length",
                               "record_ix", "record_seq", "warc_type",
                               "uri"])

    return files.mapInPandas(fn, WARC_CDX_SCHEMA)


def read_warc_records(spark: SparkSession, path: str,
                      num_partitions: int | None = None) -> DataFrame:
    """Distributed record-grain WARC ingestion (the mega-archive path,
    VERDICT r5 #3): (a) streaming CDX index pass per archive, (b)
    repartition the index rows, (c) each task fetches ONLY its records
    via ranged reads (seek + read of the record's byte range; gzip
    members decompress individually) — no task ever holds a whole
    archive, so a single 100 GB segment fans out across the cluster
    instead of pinning one executor. Returns the same schema and the
    same doc_ids as warc_response_documents(read_warc(...)) — span
    equality between the two paths is pinned by test. Reference
    analogue: the batch splitter seam,
    /root/reference/lambda_preprocessor.py:47-58."""
    idx = warc_cdx_dataframe(spark, path).filter(
        F.col("warc_type") == "response")
    n = num_partitions or spark.sparkContext.defaultParallelism
    idx = idx.repartition(n)

    def fetch(batches):
        import pandas as pd

        from .kernels.warc import http_response_body, read_record_at
        from .util import safe_id

        for pdf in batches:
            rows = []
            handles: dict[str, Any] = {}
            try:
                for p, off, length, rix, seq, uri in zip(
                    pdf["warc_path"], pdf["offset"], pdf["length"],
                    pdf["record_ix"], pdf["record_seq"], pdf["uri"],
                ):
                    f = handles.get(p)
                    if f is None:
                        f = handles[p] = open(_local_fs_path(p), "rb")
                    f.seek(int(off))
                    chunk = f.read(int(length))
                    rec = read_record_at(chunk, 0, len(chunk), int(rix))
                    try:
                        body, ctype = http_response_body(rec["block"])
                    except ValueError:
                        continue  # parity: non-HTTP responses are skipped
                    rows.append({
                        "doc_id": f"{safe_id(rec['uri'])}:{int(seq)}",
                        "warc_path": p,
                        "url": rec["uri"],
                        "content_type": ctype,
                        "n_bytes": len(body),
                        "payload": body,
                    })
            finally:
                for f in handles.values():
                    f.close()
            yield pd.DataFrame(
                rows, columns=["doc_id", "warc_path", "url",
                               "content_type", "n_bytes", "payload"])

    return idx.mapInPandas(fetch, WARC_DOC_SCHEMA)


def warc_response_documents(warc_df: DataFrame) -> DataFrame:
    """(path, content) WARC rows → one row per well-formed HTTP response
    record: (doc_id, warc_path, url, content_type, n_bytes, payload).
    Narrow mapInPandas (no shuffle); doc_id = safe_id(url):record_ix is
    stable across re-reads of the same archive."""
    def fn(batches):
        import pandas as pd

        from .kernels.warc import response_documents
        from .util import safe_id

        for pdf in batches:
            rows = []
            for path, content in zip(pdf["path"], pdf["content"]):
                for doc in response_documents(bytes(content)):
                    # doc_id keys on the record's archive-wide ordinal
                    # (seq), NOT a dense response counter, so the CDX
                    # ranged-read path mints identical ids
                    rows.append(
                        {
                            "doc_id": f"{safe_id(doc['url'])}:{doc['seq']}",
                            "warc_path": path,
                            "url": doc["url"],
                            "content_type": doc["content_type"],
                            "n_bytes": len(doc["payload"]),
                            "payload": doc["payload"],
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "warc_path", "url", "content_type",
                         "n_bytes", "payload"],
            )

    return warc_df.select("path", "content").mapInPandas(fn, WARC_DOC_SCHEMA)


def extract_warc_documents(warc_df: DataFrame) -> DataFrame:
    """WARC file rows → ordered spans: response-record fan-out, then the
    SAME format-sniffing extraction stage the URL-manifest path uses
    (PDF parser / HTML boilerplate strip). Two chained narrow stages —
    crawl archives to training spans with zero shuffles."""
    return extract_fetched_documents(warc_response_documents(warc_df))


def extract_fetched_pdfs(fetched_df: DataFrame) -> DataFrame:
    """Distributed PDF-bytes → ordered-spans stage: the S1 contract on
    REAL (non-synthetic) input. Consumes fetch_documents output
    (doc_id, payload) and runs kernels.pdf_parse.extract_pdf_spans —
    parse, block grouping, sanitize, and the SAME rule-based reading
    order as the synthetic pipeline — inside one mapInPandas pass
    (narrow, no shuffle; one task per manifest partition at scale).
    Rows whose payload is not parseable PDF are dropped with their
    doc_id recorded in the `error` of a companion row (kind='error')."""
    from .schemas import SPANS_OUT_SCHEMA

    def fn(batches):
        import pandas as pd

        from .kernels.pdf_parse import extract_pdf_spans

        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    spans = extract_pdf_spans(bytes(payload))
                except ValueError as e:
                    spans = [{"kind": "error", "text": str(e),
                              "media_ref": "", "order": 0}]
                rows.append({"doc_id": doc_id, "spans": spans})
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return fetched_df.mapInPandas(fn, SPANS_OUT_SCHEMA)


def read_jsonl_quarantined(
    spark: SparkSession,
    path: str,
    schema: str = "id STRING, text STRING, source STRING",
) -> tuple[DataFrame, DataFrame]:
    """JSONL ingest with a corrupt-record quarantine (the contract a
    crawl delivery needs: one bad line must never kill the batch, and
    must stay inspectable). PERMISSIVE mode routes unparseable lines
    into _corrupt_record; returns (good, quarantined) where
    `quarantined` carries the raw offending line verbatim.

    The frame is persisted so that ONE parse under the full schema
    decides every line for both frames. Uncached, each query re-parses
    with its pruned schema, so corruption depends on the columns read:
    a line whose field has the wrong type is corrupt for ``good`` but
    parses for a projection of the other columns, and a query reading
    only ``_corrupt_record`` is refused
    (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN). Nothing
    unpersists it; at 100 TB write the split once (badRecordsPath-style)
    instead, which keeps the one parse per split."""
    raw = (
        spark.read.schema(schema + ", _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .persist()
    )
    good = raw.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    quarantined = raw.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, quarantined
