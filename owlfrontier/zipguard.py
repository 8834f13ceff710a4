"""Keep a Python worker's zip-import index across Spark tasks.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py``, ``setup_spark_files``). Before
Python 3.13, ``zipimport.zipimporter.invalidate_caches`` eagerly re-reads
the archive's whole central directory, and a worker holds one zipimporter
per package directory it imported from ``pyspark.zip`` (3.5 MB) and the
py4j zip — 14 of them after one pandas UDF. So every Python task re-read
those archives 14 times before it read a row: 0.26-0.37 s per task on a
4 vCPU box, against 0.09 s for the same 800-row stage without Python.
Python 3.13 made the invalidation lazy.

:func:`install` wraps the method: an importer re-reads its archive only
when the archive's ``(st_ino, st_mtime_ns, st_size)`` differs from what
it was when that importer last read it. A replaced or rewritten archive
is still re-read, so imports see what they would see without the guard.
Importing ``owlfrontier`` installs it, and every engine UDF pickles a
reference to an ``owlfrontier`` module function, so a worker that runs
one keeps its index from its second task on.
"""

import functools
import os
import sys
import zipimport


def _archive_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_mtime_ns, st.st_size)


def install() -> None:
    """Guard ``zipimporter.invalidate_caches``; a no-op on Python ≥ 3.13
    and when already installed."""
    if sys.version_info >= (3, 13):
        return
    cls = zipimport.zipimporter
    reread = cls.invalidate_caches
    if getattr(reread, "keeps_unchanged_index", False):
        return

    @functools.wraps(reread)
    def invalidate_caches(self):
        # stat BEFORE the read: a rewrite racing the read leaves a stale
        # key, which only costs one more re-read next time
        key = _archive_key(self.archive)
        if key is None or key != getattr(self, "_archive_key", None):
            reread(self)
            self._archive_key = key

    invalidate_caches.keeps_unchanged_index = True
    cls.invalidate_caches = invalidate_caches
