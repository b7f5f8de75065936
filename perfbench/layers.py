"""Layer spans recorded around the package's public kernel functions.

``install()`` replaces each traced function, in every loaded module of the
package that holds it, with a wrapper that times the call and counts its
work. Spans are folded in memory into per-layer totals (calls, self time,
work items, padding); ``flush()`` writes them as one small JSON file and
resets them. Nothing in the package itself changes.

Self time is a span's duration minus the time of the traced spans it
encloses, so the model harness forward calls inside OCR are charged to
``model_harness``, not to ``convert.apply_ocr``.
"""

from __future__ import annotations

import importlib
import json
import os
import sys
import time
from collections.abc import Callable
from typing import Any

PACKAGE = "high_performance_docling_spark"
TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"

# layer name -> per-process totals [calls, self_ns, items, padded]
_totals: dict[str, list[int]] = {}
_stack: list[int] = []  # child-span ns accumulated per open span
_top_ns = [0]  # time inside outermost traced spans
_flushes = [0]


def _tables(args, kwargs) -> int:
    from high_performance_docling_spark.labels import TABLE_LABELS

    return sum(1 for clusters in args[0] for c in clusters
               if c["label"] in TABLE_LABELS)


def _ocr_crops(args, kwargs) -> int:
    from high_performance_docling_spark.kernels.convert import OCR_TEXT_LABELS

    return sum(1 for clusters in args[1] for c in clusters
               if c["label"] in OCR_TEXT_LABELS and not c["cells"])


def _harness_batch(args, kwargs) -> tuple[int, int]:
    """Items sent to one forward call and how many of them are padding."""
    batcher = args[0]
    bs = batcher.spec.batch_size
    real = min(len(batcher._buf), bs)
    sent = bs if batcher.spec.pad_by_repeat else real
    return sent, sent - real


# layer name, (module, attribute) of the original, work counter
TRACED: list[tuple[str, tuple[str, str], Callable | None]] = [
    ("corpus.typeset", ("corpus", "typeset"), None),
    ("layout_postprocess.postprocess_page",
     ("kernels.layout_postprocess", "postprocess_page"), None),
    ("table_decode.attach_table_structures",
     ("kernels.table_decode", "attach_table_structures"), _tables),
    ("reading_order.assemble_spans",
     ("kernels.reading_order", "assemble_spans"), None),
    ("assemble.assemble_page_elements",
     ("kernels.assemble", "assemble_page_elements"), None),
    ("convert.apply_ocr", ("kernels.convert", "apply_ocr"), _ocr_crops),
    ("model_harness", ("operators.model_harness", "FixedBatcher._flush_one"),
     _harness_batch),
]


def _wrap(name: str, fn: Callable, counter: Callable | None) -> Callable:
    rec = _totals.setdefault(name, [0, 0, 0, 0])

    def traced(*args, **kwargs):
        n = counter(args, kwargs) if counter else 1
        items, padded = n if isinstance(n, tuple) else (n, 0)
        _stack.append(0)
        t0 = time.perf_counter_ns()
        try:
            return fn(*args, **kwargs)
        finally:
            dt = time.perf_counter_ns() - t0
            child = _stack.pop()
            rec[0] += 1
            rec[1] += dt - child
            rec[2] += items
            rec[3] += padded
            if _stack:
                _stack[-1] += dt
            else:
                _top_ns[0] += dt

    traced.__wrapped__ = fn
    traced.perfbench_layer = name
    return traced


def install() -> None:
    """Wrap every traced function wherever the package refers to it.
    Installing twice wraps nothing twice."""
    for mod in ("oracle", "operators.stages", "kernels.convert", "pipeline"):
        importlib.import_module(f"{PACKAGE}.{mod}")
    for name, (mod, attr), counter in TRACED:
        owner: Any = importlib.import_module(f"{PACKAGE}.{mod}")
        *path, leaf = attr.split(".")
        for part in path:
            owner = getattr(owner, part)
        original = getattr(owner, leaf)
        if hasattr(original, "perfbench_layer"):
            continue
        wrapper = _wrap(name, original, counter)
        setattr(owner, leaf, wrapper)
        # modules that imported the function by name hold their own ref
        for m in list(sys.modules.values()):
            if getattr(m, "__name__", "").startswith(PACKAGE):
                for key, val in list(vars(m).items()):
                    if val is original:
                        setattr(m, key, wrapper)


def snapshot() -> dict:
    return {
        "layers": {k: list(v) for k, v in _totals.items()},
        "top_ns": _top_ns[0],
    }


def reset() -> None:
    for v in _totals.values():
        v[:] = [0, 0, 0, 0]
    _top_ns[0] = 0


def flush() -> None:
    """Write this process's totals since the last flush, then reset."""
    out_dir = os.environ.get(TRACE_DIR_ENV)
    if not out_dir:
        return
    _flushes[0] += 1
    path = os.path.join(out_dir, f"{os.getpid()}-{_flushes[0]}.json")
    with open(path + ".tmp", "w") as f:
        json.dump(snapshot(), f)
    os.replace(path + ".tmp", path)
    reset()


def merge(records: list[dict]) -> dict:
    """Sum flushed records."""
    layers: dict[str, list[int]] = {name: [0, 0, 0, 0] for name, _, _ in TRACED}
    top = 0
    for r in records:
        top += r["top_ns"]
        for k, v in r["layers"].items():
            layers[k] = [a + b for a, b in zip(layers.setdefault(k, [0] * 4), v)]
    return {"layers": layers, "top_ns": top}


def read_dir(path: str) -> list[dict]:
    out = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".json"):
            with open(os.path.join(path, name)) as f:
                out.append(json.load(f))
    return out
