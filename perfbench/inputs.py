"""Seeded corpora and oracle digests, generated once and cached on disk.

Everything here runs before any timed pass. A cache entry is keyed by the
workload, the seed, the core count (it fixes the file layout) and a hash of
the package source and of this layout code, so an edit to either never
reuses a stale corpus or oracle.
"""

from __future__ import annotations

import gc
import hashlib
import json
import multiprocessing
import os
import shutil
from dataclasses import dataclass
from multiprocessing import resource_tracker
from pathlib import Path

from perfbench.check import span_digest
from perfbench.workloads import WORKLOADS, Workload

PACKAGE = "high_performance_docling_spark"
KEEP_ENTRIES = 6  # cache entries kept per checkout


@dataclass
class Inputs:
    full_files: list[str]  # the whole corpus, one file per core
    half_files: list[str]  # the commit half, one file per core
    warm_files: list[str]  # tiny corpus for the worker warm-up pass
    expected: dict[str, str]  # doc_id -> oracle span digest
    half_ids: frozenset[str]

    def expect(self, ids=None) -> dict[str, str]:
        if ids is None:
            return self.expected
        return {d: self.expected[d] for d in ids}


def source_hash(repo: Path) -> str:
    """Hash of the package and of the code that lays out the inputs."""
    h = hashlib.sha256()
    bench = repo / "perfbench"
    for p in sorted([*(repo / PACKAGE).rglob("*.py"), bench / "inputs.py",
                     bench / "check.py", bench / "workloads.py"]):
        h.update(str(p.relative_to(repo)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def _gen_chunk(args: tuple[str, int, int, list[int]]) -> list[tuple[dict, str]]:
    """Pool task: generate docs and their oracle digests."""
    from high_performance_docling_spark.corpus import generate_doc
    from high_performance_docling_spark.oracle import extract_doc_result

    name, seed, n_docs, indices = args
    cfg = WORKLOADS[name].config(seed, n_docs)
    out = []
    for i in indices:
        doc = generate_doc(cfg, i)
        res = extract_doc_result(doc["doc_id"], doc["spans"], cfg)
        out.append((doc, span_digest(res["spans"])))
    return out


def _write(path: Path, rows: list[dict], schema) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def _generate(wl: Workload, seed: int, n_docs: int, nproc: int, d: Path) -> None:
    from pyspark.sql.pandas.types import to_arrow_schema

    from high_performance_docling_spark.schemas import DOCS_SCHEMA

    schema = to_arrow_schema(DOCS_SCHEMA)
    chunks = [list(range(i, n_docs, nproc * 4)) for i in range(nproc * 4)]
    ctx = multiprocessing.get_context("spawn")
    pool = ctx.Pool(nproc)
    try:
        parts = pool.map(_gen_chunk, [(wl.name, seed, n_docs, c) for c in chunks])
    finally:
        pool.terminate()
        pool.join()
        # the pool started multiprocessing's resource tracker, which would
        # outlive this process by a moment: free the pool's semaphores,
        # then stop the tracker and wait for it
        del pool
        gc.collect()
        resource_tracker._resource_tracker._stop()
    pairs = sorted((p for part in parts for p in part), key=lambda p: p[0]["doc_id"])
    docs = [doc for doc, _ in pairs]
    expected = {doc["doc_id"]: dg for doc, dg in pairs}

    tmp = d.with_suffix(".tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for sub in ("full", "half", "warm"):
        (tmp / sub).mkdir(parents=True)
    # one file per core, in doc_id order: a corpus this small is read as
    # about nproc splits whatever the file count (Spark packs small files
    # up to bytes-per-core), so one file is one split, one task per core
    for k in range(nproc):
        _write(tmp / "full" / f"part-{k:05d}.parquet",
               docs[k * len(docs) // nproc:(k + 1) * len(docs) // nproc], schema)
    # commit half: every other doc by size (sorted by span count), so it
    # has the corpus's mix of mega docs; also one file per core
    by_size = sorted(docs, key=lambda r: (len(r["spans"]), r["doc_id"]))
    half = sorted(by_size[1::2], key=lambda r: r["doc_id"])
    for k in range(nproc):
        _write(tmp / "half" / f"part-{k:05d}.parquet",
               half[k * len(half) // nproc:(k + 1) * len(half) // nproc], schema)
    for k in range(nproc):
        _write(tmp / "warm" / f"part-{k:05d}.parquet", docs[k:k + 1], schema)
    (tmp / "meta.json").write_text(json.dumps({
        "expected": expected,
        "half_ids": sorted(r["doc_id"] for r in half),
    }))
    shutil.rmtree(d, ignore_errors=True)
    tmp.rename(d)


def _load(d: Path) -> Inputs:
    meta = json.loads((d / "meta.json").read_text())
    return Inputs(
        full_files=sorted(str(p) for p in (d / "full").glob("*.parquet")),
        half_files=sorted(str(p) for p in (d / "half").glob("*.parquet")),
        warm_files=sorted(str(p) for p in (d / "warm").glob("*.parquet")),
        expected=meta["expected"],
        half_ids=frozenset(meta["half_ids"]),
    )


def prepare(repo: Path, cache: Path, wl: Workload, seed: int, nproc: int,
            scale: float = 1.0) -> Inputs:
    n_docs = max(nproc * 2, int(wl.docs * scale))
    key = hashlib.sha256(json.dumps(
        [wl.name, wl.mode, wl.gen, n_docs, seed, nproc, source_hash(repo)]
    ).encode()).hexdigest()[:16]
    d = cache / f"{wl.name}-{seed}-{key}"
    if not (d / "meta.json").exists():
        cache.mkdir(parents=True, exist_ok=True)
        _generate(wl, seed, n_docs, nproc, d)
    os.utime(d)
    entries = sorted((p for p in cache.iterdir() if p.is_dir()),
                     key=lambda p: p.stat().st_mtime, reverse=True)
    for old in entries[KEEP_ENTRIES:]:
        shutil.rmtree(old, ignore_errors=True)
    return _load(d)
