"""Output check: per-document span digests compared with the serial oracle."""

from __future__ import annotations

import hashlib
import json
from collections.abc import Iterable, Mapping
from typing import Any


def span_digest(spans: Iterable[Mapping[str, Any]]) -> str:
    """Digest of one document's ordered output spans. Only the fields of
    ``OUT_SPAN_STRUCT`` enter it, so Arrow rows and oracle dicts agree."""
    canon = [(s["kind"], s["text"], s["media_ref"], int(s["order"])) for s in spans]
    blob = json.dumps(canon, ensure_ascii=False, separators=(",", ":"))
    return hashlib.blake2b(blob.encode("utf-8"), digest_size=16).hexdigest()


def count_failed(
    expected: Mapping[str, str], rows: Iterable[tuple[str, list]]
) -> int:
    """Documents of ``expected`` whose output row is missing, duplicated or
    differs from the oracle digest, plus output rows for unknown doc_ids."""
    seen: dict[str, str | None] = {}
    unknown = 0
    for doc_id, spans in rows:
        if doc_id not in expected:
            unknown += 1
        else:
            # a second row for the same doc is a failure whatever it holds
            seen[doc_id] = None if doc_id in seen else span_digest(spans)
    return unknown + sum(1 for d, dg in expected.items() if seen.get(d) != dg)


def read_output(path: str) -> list[tuple[str, list]]:
    """(doc_id, spans) rows of a Spark parquet output directory."""
    import pyarrow.parquet as pq

    table = pq.read_table(path, columns=["doc_id", "spans"])
    return list(zip(table.column("doc_id").to_pylist(),
                    table.column("spans").to_pylist()))
