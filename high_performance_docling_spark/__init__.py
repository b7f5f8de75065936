"""high_performance_docling_spark — a PySpark-native document span-extraction engine.

A from-scratch, Spark-first reimplementation of the capabilities of the
reference high-throughput docling pipeline (layout detection → layout
post-processing → table-structure decoding → cell matching → page assembly
→ reading order → ordered span output), expressed as partition-parallel
DataFrame stages over a corpus table of interleaved text+media documents
with schema (doc_id: string, spans: array<struct<kind, text, media_ref,
offset>>).

Design notes
------------
- Everything relational (filters, equi-joins, window ranks, aggregations)
  uses the DataFrame/SQL API so Catalyst can push down predicates, prune
  columns, and pick join strategies.
- All page-local geometry and order-sensitive sequence logic runs inside
  vectorized Arrow UDF stages (``mapInArrow`` / ``applyInPandas``) as
  NumPy kernels — one page (or one document) per row, never per-row
  Python in a hot loop.
- Stage boundaries are optional parquet checkpoints keyed by
  (doc_id, page_no) so a killed job can resume by anti-joining completed
  keys, with per-partition lineage rows.
"""

import sys

__version__ = "0.1.0"

if sys.version_info < (3, 13):
    # PySpark's worker calls importlib.invalidate_caches() at the start of
    # every task (pyspark/worker_util.py, setup_spark_files). Before 3.13,
    # zipimporter.invalidate_caches re-reads the archive's whole directory
    # (python3.11/zipimport.py:329-336), and a worker holds one importer per
    # package it imported from pyspark.zip, py4j's zip and the Spark jar:
    # 56-134 ms of every task on a 4-core VM. 3.13 only drops the cache
    # entry (python3.13/zipimport.py:276-278). Here every directory read
    # carries the archive's (st_mtime_ns, st_size) taken just before it,
    # and an importer re-reads only when that stamp changed or stat fails,
    # so a zip rewritten in place is still picked up; an importer made
    # before this ran re-reads once. Every worker that unpickles a package
    # stage imports this package, so this is where the fix installs.
    import os
    import zipimport

    class _ZipDirectory(dict):
        __slots__ = ("stamp",)

    def _archive_stamp(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    def _read_directory(archive, _read=zipimport._read_directory):
        stamp = _archive_stamp(archive)
        files = _ZipDirectory(_read(archive))
        files.stamp = stamp
        return files

    def _invalidate_caches(self, _invalidate=zipimport.zipimporter.invalidate_caches):
        stamp = _archive_stamp(self.archive)
        if stamp is None or stamp != getattr(self._files, "stamp", None):
            _invalidate(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
