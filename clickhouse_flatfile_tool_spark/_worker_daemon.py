"""Python worker daemon that keeps zip archive directories across tasks.

Spark starts this module instead of ``pyspark.daemon``
(``spark.python.daemon.module``, set in
:func:`clickhouse_flatfile_tool_spark.session.get_spark`).  Every Python-UDF
task a reused worker runs starts in ``pyspark.worker_util.setup_spark_files``,
which ends in ``importlib.invalidate_caches()``.  Since Python 3.10 that call
makes every ``zipimport.zipimporter`` re-read its archive's central directory,
and the worker path holds ``pyspark.zip``, the py4j zip and the spark-core jar
behind 16 importers: about 0.2 s of worker CPU per task before the UDF body
runs, whatever the UDF does.

Before the daemon forks any worker, :func:`install` points the ``importlib``
name ``worker_util`` uses at a shim whose ``invalidate_caches`` runs the stock
call with the zipimporters hidden from ``sys.path_importer_cache``.  So
directory finders (the ``userFiles`` directory ``addFile`` copies ``.py``
files into) and every ``sys.meta_path`` finder are still invalidated; a zip
``addPyFile`` ships lands on a new ``sys.path`` entry and gets a fresh importer
on first use.  If ``worker_util`` does not have the shape this expects, the
stock daemon runs unchanged.
"""

from __future__ import annotations

import importlib
import os
import sys
import types
import zipimport


def invalidate_caches_keeping_zips() -> None:
    """``importlib.invalidate_caches()`` minus the zipimporters' directory re-reads."""
    cache = sys.path_importer_cache
    zips = {
        path: finder
        for path, finder in cache.items()
        if isinstance(finder, zipimport.zipimporter) and os.path.isabs(path)
    }
    for path in zips:
        del cache[path]
    try:
        importlib.invalidate_caches()
    finally:
        for path, finder in zips.items():
            cache.setdefault(path, finder)


# ``importlib`` as the patched worker_util sees it: every other name resolves
# to the real module (PEP 562 module ``__getattr__``).
_IMPORTLIB_SHIM = types.ModuleType("importlib")
_IMPORTLIB_SHIM.__getattr__ = lambda name: getattr(importlib, name)
_IMPORTLIB_SHIM.invalidate_caches = invalidate_caches_keeping_zips


def install(worker_util) -> bool:
    """Patch ``worker_util``'s ``importlib``; True if patched, False (and
    ``worker_util`` untouched) when it lacks a module-level ``importlib`` or
    ``setup_spark_files``."""
    if getattr(worker_util, "importlib", None) is not importlib or not callable(
        getattr(worker_util, "setup_spark_files", None)
    ):
        return False
    worker_util.importlib = _IMPORTLIB_SHIM
    return True


def main() -> None:
    try:
        from pyspark import worker_util
    except Exception:
        worker_util = None
    if not install(worker_util):
        # stdout carries the daemon's port handshake; stderr reaches the log.
        sys.stderr.write("worker daemon: unexpected pyspark.worker_util, running the stock daemon\n")
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
