"""Python-worker side of the Arrow boundary: a per-task import-cache reset
that keeps already-parsed zip directories.

Spark's Python worker ends ``setup_spark_files`` (``pyspark/worker_util.py``)
with ``importlib.invalidate_caches()`` on every task, so that files added
with ``SparkContext.addPyFile`` become importable. On CPython >= 3.10 that
reset also makes every cached ``zipimport.zipimporter`` re-parse its
archive's whole central directory: once per package directory imported
from ``pyspark.zip``, and twice for the Spark core jar that the JVM puts on
the worker ``PYTHONPATH``. Measured on a 4-core host with Spark 4.1.2 and
CPython 3.11, that is 130-230 ms per task, while a no-op ``mapInPandas`` on
one row takes about 300 ms and the MPX kernels of a discovery request take
tens of milliseconds.

``install()`` gives ``worker_util`` an ``importlib`` whose
``invalidate_caches`` hides the absolute-path zipimporters from the real
reset and puts them back afterwards. Everything else the reset does still
happens: ``None`` and relative-path entries leave ``sys.path_importer_cache``,
every ``FileFinder`` re-lists its directory, the namespace-path epoch moves,
and the other meta-path finders are called. An archive shipped later with
``addPyFile`` has a new path, so the path hooks build a fresh zipimporter
for it on the first import. Archives already on the path never change
within a worker's life.

The package calls ``install()`` on import. It acts only inside a Python
worker task (``TaskContext.get()`` is set) and only while ``worker_util``
still calls the stdlib ``importlib``; otherwise nothing changes. The first
task of each worker process has already paid its reset by the time its UDF
imports the package, so the saving starts at the second task.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _invalidate_caches() -> None:
    cache = sys.path_importer_cache
    kept = {
        path: finder
        for path, finder in cache.items()
        if isinstance(finder, zipimport.zipimporter) and os.path.isabs(path)
    }
    for path in kept:
        del cache[path]
    try:
        importlib.invalidate_caches()
    finally:
        for path, finder in kept.items():
            cache.setdefault(path, finder)


class _Importlib:
    """``importlib`` as ``worker_util`` sees it, with the zip-keeping reset."""

    invalidate_caches = staticmethod(_invalidate_caches)

    def __getattr__(self, name):
        return getattr(importlib, name)


def install() -> None:
    from pyspark import TaskContext

    if TaskContext.get() is None:
        return
    worker_util = sys.modules.get("pyspark.worker_util")
    if getattr(worker_util, "importlib", None) is importlib:
        worker_util.importlib = _Importlib()
