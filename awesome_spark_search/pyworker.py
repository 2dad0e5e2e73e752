"""Per-task fixed cost of a reused PySpark worker: the zip-directory re-read.

Before every task, ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()`` so that files shipped with ``addPyFile``
become importable. Since Python 3.10 that also calls
``zipimport.zipimporter.invalidate_caches`` on every zip importer in
``sys.path_importer_cache``, and the stock method re-reads the archive's whole
central directory each time: pyspark.zip (about 1,300 entries) once per
imported pyspark subpackage and the spark-core jar (about 5,400 entries)
twice. In local mode that was 0.17-0.35 s of every Python task before the UDF
ran, on archives that never change while the worker lives.

``install()`` makes that method stat-guarded: an importer re-reads its archive
only when the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from what it
was when that importer last read it. A new importer still reads on
construction, and a rewritten or replaced archive is still re-read on the next
invalidation, so the ``addPyFile`` contract holds. The package ``__init__``
calls ``install()`` only inside a Spark Python worker; the driver's importers
keep the stdlib method.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _guarded_invalidate(self) -> None:
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _stock_invalidate(self)
    self._read_stamp = stamp


def install() -> None:
    """Stat-guard ``zipimporter.invalidate_caches`` in this process (idempotent)."""
    zipimport.zipimporter.invalidate_caches = _guarded_invalidate


def in_spark_worker() -> bool:
    """True inside a PySpark worker's task: a TaskContext exists there only.

    A process that never imported pyspark is not a worker, so this never
    imports it.
    """
    pyspark = sys.modules.get("pyspark")
    return pyspark is not None and pyspark.TaskContext.get() is not None
