"""piper_spark — a PySpark-native analytics & data-pipeline engine.

A from-scratch re-expression of the capabilities of the reference
pipeline (Hevagog/piper, see SURVEY.md) as an idiomatic Spark
DataFrame/SQL engine, plus the LLM-data-pipeline operator families
(dedup, similarity search, text analysis, multimodal columns) that a
100 TB training-data pipeline needs.

Layout:
  session.py    — SparkSession bootstrap (UTC, AQE) + table catalog
  registry.py   — query/oracle registry backing __spark_entry__.py
  operators/    — relational operator library (scans, joins, aggs, windows…)
  functions/    — LLM-pipeline functions (text, dedup, similarity, sessions)
  sources/      — multimodal (binary) column plumbing
  streaming/    — Structured Streaming twins of the batch event ops
"""

import os
import zipimport

__version__ = "0.1.0"


def _stat_check_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive's ``(st_ino, st_size, st_mtime_ns)``
    stamp has moved, or when it cannot be stat'ed.

    A reused PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and each zip importer (16 for ``pyspark.zip``)
    then re-reads its archive's whole central directory. ``FileFinder``
    applies the same rule to directories (re-list only when the mtime
    moves), so a rewritten archive is still re-read. The stamp lives on
    each importer, because each holds its own ``_files`` dict; it is taken
    before the read, so a rewrite racing the read is caught next time.
    Every worker imports this package when it unpickles a piper_spark
    function; the marker keeps a re-import from wrapping twice.
    """
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_checked", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        if stamp is None or stamp != getattr(self, "_stamp", None):
            original(self)
            self._stamp = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_check_zip_invalidation()
