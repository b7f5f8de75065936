"""Extraction benchmark for ``pipeline.extract_spans``.

Run it from the repository root::

    python3 perfbench/run.py --workload fused --seed 1 --seconds 15 --trace 0

See ``perfbench/README.md`` for the workloads and metric names.
"""
