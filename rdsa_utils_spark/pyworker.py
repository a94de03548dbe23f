"""PySpark worker daemon that re-reads a zip on the import path only
when the zip changed.

Before every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. Before CPython 3.13 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory at once: ``pyspark.zip`` has 1328 entries,
and after a pandas UDF's imports about 14 importers read it, about
130 ms of CPU per task. Here a zip importer re-reads only when its
archive's ``(st_mtime_ns, st_size, st_ino)`` changed since this process
last saw it; every other finder is invalidated as before, so a file
added with ``SparkContext.addPyFile`` still imports.

Spark starts it as ``spark.python.daemon.module`` (the local profile of
:func:`rdsa_utils_spark.session.create_spark_session` sets it). If
``pyspark.worker_util`` no longer calls ``importlib.invalidate_caches``
through a module global, the stock daemon runs unchanged.
"""

import importlib
import os
import sys
import types
import zipimport

#: Archive path -> (st_mtime_ns, st_size, st_ino) when last seen.
_seen: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches() -> None:
    """``importlib.invalidate_caches`` that skips unchanged zip archives."""
    cache = sys.path_importer_cache
    zips = {
        name: finder for name, finder in cache.items()
        if isinstance(finder, zipimport.zipimporter) and os.path.isabs(name)
    }
    changed = set()
    for archive in {finder.archive for finder in zips.values()}:
        stamp = _stamp(archive)
        if _seen.setdefault(archive, stamp) != stamp:
            _seen[archive] = stamp
            changed.add(archive)
    for name in zips:
        del cache[name]
    try:
        importlib.invalidate_caches()
    finally:
        cache.update(zips)
    for finder in zips.values():
        if finder.archive in changed:
            finder.invalidate_caches()


def main() -> None:
    from pyspark import daemon, worker_util

    if getattr(worker_util, "importlib", None) is importlib and hasattr(
        worker_util, "setup_spark_files",
    ):
        worker_util.importlib = types.SimpleNamespace(
            **{**vars(importlib), "invalidate_caches": invalidate_caches},
        )
        invalidate_caches()  # the daemon's importers count as seen from here
    daemon.manager()


if __name__ == "__main__":
    main()
