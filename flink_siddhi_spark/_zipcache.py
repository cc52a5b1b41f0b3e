"""Keep reused PySpark workers from re-reading zip archives on every task.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). On Python 3.11 every
cached ``zipimporter`` answers by re-parsing its archive's whole central
directory in pure Python. A reused worker holds 16 of them for
``pyspark.zip`` (1,328 entries), so each task of every Python stage paid
0.15-0.2 s before running any engine code. CPython 3.12 made the re-read
lazy (gh-103200).

This module backports the fix: ``zipimporter.invalidate_caches`` re-reads
an archive only when its ``os.stat`` (mtime, size, inode) differs from the
one taken at its last read, so a rewritten archive is still picked up. The
first call after install reads each archive once, to take its stamp.

:func:`install` runs from the package ``__init__``. Every engine UDF closure
imports the package when a worker unpickles it, so a reused worker keeps
the fix for all its later tasks. It does nothing on Python >= 3.12 and
nothing outside a PySpark worker.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> stat key taken just before its directory was last read;
# process-wide, like the zipimport._zip_directory_cache it vouches for
_read_at: dict[str, tuple[int, int, int]] = {}


def _stat_key(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self) -> None:
    """Re-read the archive's directory only if the file changed since the
    last read; otherwise share the cached directory."""
    archive = self.archive
    try:
        key = _stat_key(archive)
    except OSError:
        key = None
    cached = zipimport._zip_directory_cache.get(archive)
    if key is not None and cached is not None and _read_at.get(archive) == key:
        self._files = cached
        return
    _stock_invalidate(self)
    if key is not None and archive in zipimport._zip_directory_cache:
        _read_at[archive] = key
    else:
        _read_at.pop(archive, None)


def _on_worker() -> bool:
    try:
        from pyspark.core.files import SparkFiles
    except ImportError:  # pyspark-client: no local Python workers
        return False
    return bool(SparkFiles._is_running_on_worker)


def installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches, "__module__", None) == __name__


def install() -> bool:
    """Install the stat-keyed re-read in a PySpark worker on Python < 3.12.
    Idempotent; returns whether the backport is in place."""
    if sys.version_info >= (3, 12) or not _on_worker():
        return False
    if not installed():
        zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
