"""spark-tsrollup: a PySpark-native time-series rollup + downsample + retention engine.

From-scratch re-expression (NOT a port) of the capabilities of the Compressed-Sort
research fork of Apache IoTDB (liuzhiheng20/Sorting-compressed-time-series,
read-only snapshot at /root/reference). The reference's novel contribution —
sorting time series in the *compressed domain* (patch a few boundary delta codes
and rotate byte ranges instead of decode→sort→re-encode) — is realized here as
vectorized numpy kernels driven from Arrow-batched PySpark UDFs
(``mapInArrow`` / ``applyInPandas``), with all relational work (windows,
aggregation, joins, retention) expressed as native DataFrame/SQL so Catalyst
and Tungsten own the physical plan.

Layout
------
- ``codecs``     : numpy codec kernels (byte-aligned delta/varint, bit-packed
                   delta-of-delta, Gorilla XOR) + the chunk blob format.
- ``operators``  : compressed-domain sort, page merge, rollup tiers, gap-fill,
                   window variants, dedup / similarity / text analysis.
- ``sources``    : parquet-backed warehouse (manifest + atomic commit),
                   deterministic synthetic input generator, seriesization.
- ``functions``  : small Spark-side helpers (aggregate aliases, hashing).
- ``plans``      : end-to-end pipeline jobs + checkpoint-resumable promotion.
- ``streaming``  : Structured Streaming front-end for the same rollups.
"""

import sys

__version__ = "0.1.0"


def _reuse_unchanged_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the file changed since the last read, as CPython
    3.13 does. Before 3.13 it parses the whole directory on every call, and
    a Spark Python worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``pyspark.worker_util.setup_spark_files``): with
    pyspark, py4j and the spark-core jar on ``sys.path`` that is ~27k zip
    entries and 0.2-0.4 s per task on a 4-core host."""
    import os
    import zipimport

    if getattr(zipimport.zipimporter.invalidate_caches, "keeps_unchanged", False):
        return
    reread = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple] = {}  # archive -> (inode, size, mtime) at its last read

    def invalidate_caches(self):
        invalidate_caches.calls += 1
        try:
            st = os.stat(self.archive)
            stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        stamps[self.archive] = stamp

    invalidate_caches.keeps_unchanged = True
    invalidate_caches.calls = 0
    zipimport.zipimporter.invalidate_caches = invalidate_caches


# only inside a Spark Python worker running a task; never import pyspark to
# find out (the numpy-only code paths must not load it)
_taskcontext = sys.modules.get("pyspark.taskcontext")
if (sys.version_info < (3, 13) and _taskcontext is not None
        and _taskcontext.TaskContext.get() is not None):
    _reuse_unchanged_zip_directories()
