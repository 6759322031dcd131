"""Per-task import overhead of PySpark Python workers.

Every PySpark task begins with ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``. On CPython 3.11 that
makes every ``zipimport.zipimporter`` in ``sys.path_importer_cache``
re-read its whole archive directory in pure Python. A worker holds one
such importer per imported subpackage of ``pyspark.zip``, plus the
spark-core jar Spark puts on the worker ``PYTHONPATH``: 150-215 ms on
every task of every Python stage (4-core Xeon, Python 3.11.7,
Spark 4.1.2).

:func:`install` makes an archive's directory re-read only when the
archive's ``(st_mtime_ns, st_size)`` changed: the mtime check
``FileFinder`` already applies to directories, plus the size. New or
rewritten archives, e.g. from ``SparkContext.addPyFile``, are still
re-read.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport


def _reread_only_if_changed(original):
    # archive path -> (st_mtime_ns, st_size) taken just before its
    # directory was last read; a change during the read leaves the old
    # stamp, so the next call reads again.
    read_at: dict[str, tuple[int, int]] = {}

    @functools.wraps(original)
    def invalidate_caches(self):
        archive = self.archive
        try:
            st = os.stat(archive)
        except OSError:
            read_at.pop(archive, None)
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = zipimport._zip_directory_cache.get(archive)
        if files is not None and read_at.get(archive) == stamp:
            # Several importers share one archive (one per package
            # prefix); the first to re-read it refreshed the cache.
            self._files = files
            return
        original(self)
        read_at[archive] = stamp

    return invalidate_caches


def install() -> None:
    """Inside a PySpark worker, stop unchanged zip archives from being
    re-read on every task. Idempotent; a no-op on the driver and in any
    process that is not running a Spark task."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    current = zipimport.zipimporter.invalidate_caches
    if hasattr(current, "__wrapped__"):
        return
    zipimport.zipimporter.invalidate_caches = _reread_only_if_changed(current)
