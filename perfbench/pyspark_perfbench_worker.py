"""Python-worker entry point for the benchmark's traced session.

Set as ``spark.python.worker.module``; the Python daemon imports it once
(it only accepts module names starting with "pyspark", hence the name) and
forks every worker from it, so the layer wrappers installed at import are
inherited by all workers. Each task's layer totals are flushed to
``$PERFBENCH_TRACE_DIR`` when the task ends.
"""

from pyspark.worker import main as _worker_main

from perfbench import layers

layers.install()


def main(infile, outfile):
    try:
        _worker_main(infile, outfile)
    finally:
        layers.flush()
