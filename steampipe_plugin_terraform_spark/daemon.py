"""Python worker daemon that stops each task re-reading pyspark.zip.

Spark forks every Python worker from a daemon (``spark.python.daemon.module``,
run as ``python -m``); ``session.get_spark`` points that conf here. Before
every task a worker runs ``pyspark.worker_util.setup_spark_files``, which
ends in ``importlib.invalidate_caches()``. On CPython 3.10-3.12 that makes
every ``zipimport.zipimporter`` re-read its whole archive directory, and a
worker holds one importer per imported pyspark subpackage over the same
``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries): 0.2-0.3 CPU-s of
directory parsing per task, several times the work of a small Arrow task.
CPython 3.13 only drops the cache entry there, so it is left alone.

The replacement re-reads an archive only when its ``(path, st_mtime_ns,
st_size)`` differs from the key of its last read (the staleness rule of
pyc validation), so a rewritten archive is still picked up; otherwise it
reinstalls the directory already parsed. Nothing else is preloaded.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> ((path, st_mtime_ns, st_size), directory read under it)
_directories: dict[str, tuple[tuple[str, int, int], dict]] = {}


def invalidate_caches(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    archive = importer.archive
    try:
        st = os.stat(archive)
    except (OSError, ValueError):
        # gone or unreadable: the stock re-read empties the importer
        _stock_invalidate_caches(importer)
        return
    key = (archive, st.st_mtime_ns, st.st_size)
    seen = _directories.get(archive)
    if seen is not None and seen[0] == key:
        importer._files = seen[1]
        zipimport._zip_directory_cache[archive] = seen[1]
        return
    _stock_invalidate_caches(importer)
    if archive in zipimport._zip_directory_cache:  # the read succeeded
        _directories[archive] = (key, importer._files)


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # one read per archive here, so forked workers start with every key
        importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
