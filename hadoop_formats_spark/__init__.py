"""hadoop_formats_spark — a PySpark-native analytics engine with the
capabilities of jacobstanley/hadoop-formats (SequenceFile BLOCK+Snappy
format layer) plus a Spark-first relational / dedup / similarity /
text-analysis / streaming query surface.  See SURVEY.md."""

import os
import zipimport

__version__ = "0.1.0"


def _stat_check_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` skip archives that have not
    changed since the importer last read them.

    PySpark's worker calls ``importlib.invalidate_caches()`` on every
    request (``pyspark.worker_util.setup_spark_files``).  Workers import
    pyspark and py4j from zip archives, and CPython 3.11's
    ``zipimporter.invalidate_caches`` re-reads the archive's whole
    central directory each time, once per importer: a dozen importers
    over pyspark.zip plus the py4j zip and the Spark jar, 130-330 ms per
    request.  The wrapper keeps, on each importer, the
    ``(st_mtime_ns, st_size)`` of its archive at its last read, and
    re-reads only when ``os.stat`` now says otherwise.  The first call
    on each importer still reads, and a changed or missing archive goes
    through the original method, so imports resolve as before.

    Every worker that unpickles a function or datasource of this package
    imports the package root, so running this at import covers them.
    The first request a new worker process serves still pays: Spark
    invalidates the caches before that request's pickle imports the
    package.  Installing twice is a no-op.
    """
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_checked", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        if key is not None and key == getattr(self, "_read_stat", None):
            return
        original(self)
        self._read_stat = key

    invalidate_caches._stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_stat_check_zip_invalidation()
