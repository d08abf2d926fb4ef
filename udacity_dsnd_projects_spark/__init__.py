"""udacity_dsnd_projects_spark — a PySpark-native analytics engine.

A brand-new, idiomatic PySpark (DataFrame / Spark SQL / Structured
Streaming) engine re-expressing the query and data-processing surface of
the reference project *kudeh/udacity-dsnd-projects* (two Udacity Data
Streaming Nanodegree projects: a Kafka CTA transit pipeline and the STEDI
Spark Structured Streaming pipeline).

Design stance (SURVEY.md §7):

- DataFrame/SQL first — declare logical plans, let Catalyst/Tungsten pick
  the physical strategy. No RDDs, no hand scheduling.
- Every operator has a *batch face* (oracle-checkable against DuckDB on
  static parquet) and, where the reference semantics are streaming, a
  *streaming face* over the same expression logic.
- Python UDFs only where built-ins genuinely can't express the semantics,
  and then always Arrow-vectorized (pandas_udf / applyInPandas /
  mapInPandas).
- Built for scale: broadcast small dimensions, pre-aggregate before
  shuffles, AQE on, explicit schemas everywhere (the reference never
  infers — SURVEY.md §1.2).
"""

__version__ = "0.1.0"

import os
import sys
import zipimport

from pyspark import TaskContext

from udacity_dsnd_projects_spark.session import get_spark  # noqa: F401


def _rescan_zips_only_when_changed() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its (inode, size, mtime) changed since that importer last read
    it, or cannot be stat-ed. Spark's worker calls
    ``importlib.invalidate_caches()`` before every task, and before
    CPython 3.13 (gh-103200) that re-reads the 16 cached zip finders
    over pyspark.zip, the spark-core jar and py4j: ~0.2 s of CPU per
    task. Stat before read, so a change during the read shows next
    call. Idempotent."""
    eager = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or hasattr(eager, "eager"):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            seen = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            seen = None
        if seen is None or seen != getattr(self, "_seen_stat", None):
            eager(self)
            self._seen_stat = seen

    invalidate_caches.eager = eager
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if TaskContext.get() is not None:  # inside a Spark task: a Python worker
    _rescan_zips_only_when_changed()
