"""The benchmark's workloads: corpus config, extraction mode and size.

Each workload is one ``GenConfig`` (seeded from ``--seed``) plus the
``extract_spans`` mode it runs; the reason for each is in BENCHMARK.json
and README.md. ``docs`` is the corpus size, chosen by measurement on a
4-core host so that a run takes about a minute; the corpus is generated
and written to parquet before any timing starts.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class Workload:
    name: str
    mode: str  # "fused" or "checkpointed"
    docs: int
    gen: dict[str, Any] = field(default_factory=dict)

    def config(self, seed: int, n_docs: int | None = None):
        from high_performance_docling_spark.corpus import GenConfig

        return GenConfig(seed=seed, n_docs=n_docs or self.docs, **self.gen)


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(name="fused", mode="fused", docs=1200,
                 gen={"mega_frac": 0.02, "mega_pages": 24}),
        Workload(name="checkpointed_skew", mode="checkpointed", docs=300,
                 gen={"mega_frac": 0.04, "mega_pages": 32,
                      "ocr_frac": 0.2, "keep_empty_clusters": True}),
    )
}
