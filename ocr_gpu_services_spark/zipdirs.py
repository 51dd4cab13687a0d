"""Re-read a zip's directory only when the zip changed, in Python workers.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  That calls
``invalidate_caches()`` on every finder in ``sys.path_importer_cache``, and
on CPython 3.11 a ``zipimporter`` answers by re-reading the whole central
directory of its archive.  A worker's path holds ``pyspark.zip``, the py4j
zip and the ``spark-core`` jar (5,359 entries, no ``.py`` file), which
come to 16 zipimporters: the jar and its ``org/`` subpath at ~36 ms each,
``pyspark.zip`` and 11 of its subpackages at ~8 ms each.  So every Python
task paid ~0.2 s of CPU before its first row, however little it did; a
``--py-files`` zip of this package adds one importer per subpackage.

``install`` replaces ``zipimporter.invalidate_caches`` with
``invalidate_caches`` below: each importer remembers the
``(st_dev, st_ino, st_size, st_mtime_ns)`` of its archive when it last read
it and calls the stock re-read only when that changed.  A zip rewritten on
disk (a new ``addPyFile`` version, a rebuilt archive) is still re-read on
the next invalidation; an unchanged one costs one ``stat``.  Other finders
(``FileFinder``, the metadata finders) keep their stock invalidation.

The package's ``__init__`` installs it once per Python worker process, the
first time a task's function brings the package in.  The first task in a
fresh worker still pays the full cost once: its invalidation runs in
``setup_spark_files`` before its function is unpickled, so before this
module is imported.  ``install`` stamps the importers that invalidation
just refreshed.  A driver that imports the package keeps the stock
``zipimport``.
"""

from __future__ import annotations

import importlib
import os
import sys
import time
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """Stock ``zipimporter.invalidate_caches``, skipped while the archive's
    stat is the one this importer last read it at."""
    key = _stat_key(self.archive)
    if key is None or key != getattr(self, "_dir_stat", None):
        _STOCK(self)  # stat first: a change during the read shows next time
        self._dir_stat = key


def _zipimporters() -> list:
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)]


def _in_pyspark_worker() -> bool:
    """True in a PySpark Python worker: forked from ``pyspark.daemon``
    (which imports ``pyspark.worker``) or run as ``python -m
    pyspark.worker`` without the daemon."""
    if "pyspark.worker" in sys.modules:
        return True
    spec = getattr(sys.modules.get("__main__"), "__spec__", None)
    return getattr(spec, "name", None) == "pyspark.worker"


def install() -> None:
    if zipimport.zipimporter.invalidate_caches is invalidate_caches:
        return
    for imp in _zipimporters():
        imp._dir_stat = _stat_key(imp.archive)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def install_in_worker() -> None:
    if _in_pyspark_worker():
        install()


# -- measurement (tools/python_task_cost.py, tests) -------------------------

def identity(batches):
    """``mapInArrow`` identity: a Python task that does no work of its own."""
    yield from batches


def probe(batches):
    """``mapInArrow`` function reporting, for the worker that runs it: its
    pid, its zipimporters, the time of one stock re-read of all of them
    (what a fresh worker's first task pays, and what every task paid
    before ``install``), and the time of one ``importlib.invalidate_caches()``
    and the number of zip directories it re-read."""
    import pyarrow as pa
    for _ in batches:
        pass
    imps = _zipimporters()
    t = time.perf_counter()
    for imp in imps:
        _STOCK(imp)
    stock_s = time.perf_counter() - t
    reads = []
    read = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or read(path)
    try:
        t = time.perf_counter()
        importlib.invalidate_caches()
        invalidate_s = time.perf_counter() - t
    finally:
        zipimport._read_directory = read
    yield pa.RecordBatch.from_pylist([{
        "pid": os.getpid(), "zipimporters": len(imps), "stock_s": stock_s,
        "invalidate_s": invalidate_s, "rereads": len(reads)}])


PROBE_SCHEMA = ("pid long, zipimporters long, stock_s double, "
                "invalidate_s double, rereads long")
