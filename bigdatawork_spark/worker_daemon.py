"""Python worker daemon for engine-built sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module, so
the JVM starts it (``python -m bigdatawork_spark.worker_daemon``) in place of
``pyspark.daemon``; it forks every Python worker of the session.

Why: before every Python task, ``pyspark.worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()``.  Up to CPython 3.12,
``zipimport.zipimporter.invalidate_caches`` re-reads the whole archive
directory each time (3.13 made it lazy, gh-103200).  A worker's
``sys.path_importer_cache`` holds 16 zip importers (12 for ``pyspark.zip``,
2 for the spark-core jar, 2 for py4j), so each task re-read 26,672 zip entries:
0.11-0.19 s per task, measured inside a reused worker (4-vCPU VM,
CPython 3.11.7, Spark 4.1.2).

The daemon replaces that method with ``invalidate_if_changed`` before it
forks any worker.  An archive is re-read only when its
``(st_ino, st_size, st_mtime_ns)`` stamp differs from the one it had when it
was last read.  ``addPyFile`` zips are new path entries and get new
importers; an archive rewritten in place gets a new stamp and is re-read;
``FileFinder`` caches are cleared as before.  The driver process never
installs the patch.
"""

from __future__ import annotations

import os
import sys
import zipimport

_STOCK_INVALIDATE = zipimport.zipimporter.invalidate_caches

# archive path -> its stamp, taken just before the directory read that
# ``zipimport._zip_directory_cache`` holds for it.
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive directory
    only when the archive changed since its last read."""
    archive = importer.archive
    # Stamped before reading: a rewrite during the read changes the stamp
    # again, so the next invalidation re-reads.
    stamp = _stamp(archive)
    files = zipimport._zip_directory_cache.get(archive)
    if stamp is not None and files is not None and _read_stamps.get(archive) == stamp:
        # Another importer of the same archive may have made the fresh read.
        importer._files = files
        return
    _STOCK_INVALIDATE(importer)
    if stamp is not None and archive in zipimport._zip_directory_cache:
        _read_stamps[archive] = stamp


def install() -> None:
    """Make every zip importer in this process (and in processes forked from
    it) re-read its archive only on change.  Archives already read are
    stamped now: the daemon installs this at start-up, right after the
    interpreter read the archives on its path, and the archives Spark ships
    do not change while it runs."""
    for archive in list(zipimport._zip_directory_cache):
        stamp = _stamp(archive)
        if stamp is not None:
            _read_stamps[archive] = stamp
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        install()
    from pyspark import daemon

    daemon.manager()
