"""Skip re-reading unchanged zip archives on ``importlib.invalidate_caches()``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On CPython < 3.13
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory on every call (CPython gh-103200; 3.13 made it lazy).
A worker importing pyspark from ``pyspark.zip`` holds one zipimporter
per package directory it imported from, so each task re-read that
archive many times before the UDF ran: about 0.2 s per task.

``install()`` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size, st_ino)`` changed since the last read,
and otherwise hands back ``zipimport._zip_directory_cache[archive]``.
Rereading an unchanged file yields the same directory, and a rewritten
archive is still re-read, so the stock semantics hold. The first call
per archive always reads it, since nothing records what the cached
directory was read from. On CPython >= 3.13 ``install()`` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path → stat key of the file when its directory was last read
_stamps: dict = {}
_stock = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        return _stock(self)
    key = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _stamps.get(archive) == key:
        self._files = files
        return
    # stat taken before the read: a write racing the read changes the key
    # again, so the next call re-reads. A failed read leaves no cache
    # entry, so the next call re-reads too.
    _stock(self)
    _stamps[archive] = key


def install() -> None:
    """Install the guard once per process; a no-op on CPython >= 3.13."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
