"""Once-per-process set-up of a PySpark Python worker.

PySpark reuses a worker process for many tasks and charges each task a
fixed set-up cost that does not depend on how many rows it handles:

- Before every task, ``pyspark.worker_util.setup_spark_files`` calls
  ``importlib.invalidate_caches()``. On Python < 3.12 that makes every
  ``zipimporter`` re-read its archive's whole central directory. A worker
  holds about 16 of them (one per package directory imported from an
  archive) over ``pyspark.zip``, the py4j zip and the spark-core jar that
  Spark puts on the worker's ``PYTHONPATH``.
- After every task, ``pyspark/daemon.py`` runs ``gc.collect()``, which
  walks the whole import-time heap: about 74k objects once pyspark,
  pandas, pyarrow and this package are loaded.

Together they cost about 0.23 CPU-s per task on a 4-CPU x86 VM. Every
Python kernel this package hands to ``mapInArrow``/``mapInPandas`` calls
:func:`prepare_worker` first, so only a worker's first task pays them.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

__all__ = ["prepare_worker"]

_prepared = False
_unguarded_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _guarded_invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its ``(st_mtime_ns, st_size)`` changed since this importer last
    read it, so a re-shipped zip is still picked up."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _unguarded_invalidate_caches(self)
        self._read_stamp = stamp


def prepare_worker() -> None:
    """Idempotent; the first call in a process does two things:

    (a) on Python < 3.12, installs :func:`_guarded_invalidate_caches`, so
        pyspark's per-task ``invalidate_caches()`` costs one ``stat`` per
        zip importer (3.12 made the stock method lazy, so this is skipped);
    (b) collects once and moves every surviving object to the permanent
        generation (``gc.freeze``), so the daemon's per-task
        ``gc.collect()`` walks only what later tasks allocate.
    """
    global _prepared
    if _prepared:
        return
    _prepared = True
    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches
    gc.collect()
    gc.freeze()
