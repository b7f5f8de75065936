#!/usr/bin/env python3
"""Auxiliary benchmarks, kept apart from bench.py (guide §1.4 isolation).

Subcommands:
  kernel [n_docs] [passes]   — serial per-doc extraction kernel ms
                               (median of ``passes`` warmed passes)
  golden                     — sha256 of kernel outputs over two fixed
                               corpora (exact-equivalence check for
                               kernel refactors)

Results print as one JSON line for easy diffing.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)


def kernel(n_docs: int = 200, passes: int = 5) -> None:
    from high_performance_docling_spark.corpus import GenConfig, generate_corpus
    from high_performance_docling_spark.oracle import extract_doc_spans

    cfg = GenConfig(seed=42, n_docs=n_docs)
    docs = generate_corpus(cfg)
    for d in docs[: max(25, n_docs // 4)]:  # warm
        extract_doc_spans(d["doc_id"], d["spans"], cfg)
    samples = []
    for _ in range(passes):
        t0 = time.monotonic()
        for d in docs:
            extract_doc_spans(d["doc_id"], d["spans"], cfg)
        samples.append((time.monotonic() - t0) / n_docs * 1000.0)
    print(json.dumps({
        "kernel_ms_per_doc": round(statistics.median(samples), 4),
        "samples": [round(s, 4) for s in samples],
        "n_docs": n_docs,
    }))


def golden() -> None:
    from high_performance_docling_spark.corpus import GenConfig, generate_corpus
    from high_performance_docling_spark.oracle import extract_doc_result

    out = {}
    for kwargs in (
        dict(seed=42, n_docs=300),
        dict(seed=7, n_docs=120, mega_frac=0.04, mega_pages=32),
    ):
        cfg = GenConfig(**kwargs)
        docs = generate_corpus(cfg)
        res = [
            extract_doc_result(d["doc_id"], d["spans"], cfg,
                               with_confidence=True)
            for d in docs
        ]
        key = json.dumps(kwargs, sort_keys=True)
        out[key] = hashlib.sha256(pickle.dumps(res)).hexdigest()
    print(json.dumps(out))


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "kernel"
    if cmd == "kernel":
        kernel(int(sys.argv[2]) if len(sys.argv) > 2 else 200,
               int(sys.argv[3]) if len(sys.argv) > 3 else 5)
    elif cmd == "golden":
        golden()
    else:
        raise SystemExit(f"unknown subcommand {cmd!r}")
