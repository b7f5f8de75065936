#!/usr/bin/env python3
"""Auxiliary benchmarks, kept apart from bench.py (guide §1.4 isolation).

Subcommands:
  kernel [n_docs] [passes]   — serial per-doc extraction kernel ms
                               (median of ``passes`` warmed passes)
  golden                     — sha256 of kernel outputs over three fixed
                               corpora, checked against
                               tests/goldens/kernel_hashes.json (exits 1
                               on a mismatch; the exact-equivalence gate
                               for kernel refactors)

Results print as one JSON line for easy diffing.
"""

from __future__ import annotations

import json
import os
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


GOLDEN_FILE = os.path.join(REPO, "tests", "goldens", "kernel_hashes.json")


def golden() -> int:
    from high_performance_docling_spark.testing.regression import (
        kernel_golden_hashes,
    )

    out = kernel_golden_hashes()
    print(json.dumps(out))
    with open(GOLDEN_FILE) as f:
        frozen = json.load(f)
    bad = sorted(k for k in frozen.keys() | out.keys()
                 if frozen.get(k) != out.get(k))
    for k in bad:
        print(f"MISMATCH {k}: frozen {frozen.get(k)} got {out.get(k)}",
              file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "kernel"
    if cmd == "kernel":
        kernel(int(sys.argv[2]) if len(sys.argv) > 2 else 200,
               int(sys.argv[3]) if len(sys.argv) > 3 else 5)
    elif cmd == "golden":
        sys.exit(golden())
    else:
        raise SystemExit(f"unknown subcommand {cmd!r}")
