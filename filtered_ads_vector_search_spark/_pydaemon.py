"""Python worker daemon for local sessions: PySpark's own daemon, with
zipimport's per-task archive re-read guarded by a stat check.

Every Python worker task (``mapInArrow``, pandas UDFs, ``createDataFrame``
from a list) starts in ``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. Before CPython 3.13,
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory in pure Python, and a worker holds one zipimporter per package
directory it imported from: about a dozen on ``pyspark.zip`` (1,328 entries)
and two on the spark-core jar (5,359 entries). That is about 25k zip entries
parsed per task, 0.2-0.4 s before any user code runs.

``install`` wraps the method: an archive whose ``(st_mtime_ns, st_size)`` is
unchanged since this process last read it reuses the directory already in
``zipimport._zip_directory_cache``. A new or rewritten archive, such as an
``addPyFile`` zip, is still re-read. CPython 3.13 re-reads lazily, so there
``install`` does nothing.

``session.get_spark`` selects this module as ``spark.python.daemon.module``
on local masters. Run with ``python -m``, it installs the guard, reads each
archive on its path once, and hands over to ``pyspark.daemon.manager``; the
workers it forks inherit both. A cluster whose executors have this package
installed can set the same conf.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install", "main"]

GUARDED = sys.version_info < (3, 13)

# archive path -> (st_mtime_ns, st_size), taken just before the read whose
# directory is now in zipimport._zip_directory_cache
_read_at: dict[str, tuple[int, int]] = {}


def install() -> bool:
    """Put the stat guard on ``zipimporter.invalidate_caches``; idempotent.
    Returns whether the guard is in place (False on CPython >= 3.13)."""
    if not GUARDED:
        return False
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_guarded", False):
        return True

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and _read_at.get(self.archive) == key:
            self._files = files
            return
        # stat before the read: an archive rewritten during the read keeps a
        # stale key, so the next call reads it again
        reread(self)
        if key is not None and self.archive in zipimport._zip_directory_cache:
            _read_at[self.archive] = key
        else:
            _read_at.pop(self.archive, None)

    invalidate_caches.__doc__ = reread.__doc__
    invalidate_caches.stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    import importlib

    if install():
        importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    # call main through the package module, so that the _read_at the forked
    # workers inherit is filtered_ads_vector_search_spark._pydaemon._read_at
    from filtered_ads_vector_search_spark._pydaemon import main as _main

    _main()
