"""Once-per-process setup for the engine's Python UDF bodies.

A reused pyspark worker pays two fixed costs on every task, one before
it and one after it. `prepare` removes both. It is the first call of
every function the engine hands to a Python worker
(``tests/test_pyworker.py`` guards this); its first call in a process
does the work below, and every later call is a flag check.

Before each task pyspark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``), so that archives added with
``addPyFile`` become importable. On CPython 3.11 and 3.12
``zipimporter.invalidate_caches`` re-reads its archive's central
directory on each call, and a worker holds one zipimporter per package
it imported from ``pyspark.zip`` (first on the worker's ``sys.path``,
1 328 entries) plus those of any ``--py-files`` archive: 0.24 s of
CPU per task on a 4-vCPU VM, more than the kernels of a bench-scale
grouped-map task spend. `prepare` replaces that method with a
stat-checked one: an archive whose ``(st_mtime_ns, st_size)`` matches
its last read, and whose directory is still in
``zipimport._zip_directory_cache``, is re-bound to the cached directory
instead of re-read. A rewritten archive is re-read; a missing one takes
the stdlib path. The first task of each worker still pays the full read
(the UDF runs after the task's setup). CPython 3.13 made the stdlib
method lazy, so there this part is skipped.

After each task the daemon runs ``gc.collect()`` in the worker
(``pyspark/daemon.py``), and a full collection walks every container
object the interpreter tracks. A worker that has imported pyspark,
pandas, pyarrow, numpy and movingspark tracks about 73 000, nearly all
of them import-time module state: 30-45 ms of CPU per task on the same
VM. The collect runs after the task has reported done, so Spark's task
metrics (``spark.python_run_s`` in perfbench) never show it. `prepare`
imports the modules every engine UDF uses, collects once and calls
``gc.freeze()``, on every Python version: the heap built so far moves
to the permanent generation, and the daemon's collect, like any
automatic full collection during a kernel, walks only the objects
created since (under 1 000 after a grouped map, about 1 ms). Frozen
objects are still freed by reference counting. One that later ends up
in an unreachable cycle stays until the worker exits; nothing is frozen
after the first call, so that set cannot grow with the number of tasks.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

_installed = False


def prepare() -> None:
    """Freeze the import-time heap and install the stat-checked
    ``zipimporter.invalidate_caches`` in this process; every call after
    the first is a flag check."""
    global _installed
    if _installed:
        return
    _installed = True
    _freeze_import_heap()
    _install_stat_checked_invalidation()


def _freeze_import_heap() -> None:
    import numpy  # noqa: F401
    import pyarrow  # noqa: F401

    # No engine kernel reads pandas, but PySpark 4.1's worker imports it
    # after the first batch of any arrow_udf (derive's geodesic UDF) and
    # streaming's applyInPandasWithState runs on it. Imported after the
    # freeze it would add about 31 000 tracked objects (42 222 -> 73 314)
    # for every later collect to walk; the import costs 0.24 s of CPU.
    import pandas  # noqa: F401

    gc.collect()
    gc.freeze()


def _install_stat_checked_invalidation() -> None:
    cache = getattr(zipimport, "_zip_directory_cache", None)
    if sys.version_info >= (3, 13) or cache is None:
        return
    stdlib = zipimport.zipimporter.invalidate_caches
    stamps: dict[str, tuple[int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stdlib(self)
        stamp = (st.st_mtime_ns, st.st_size)
        files = cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        # a failed read drops the cache entry, so its stamp is never consulted
        stdlib(self)
        stamps[self.archive] = stamp

    zipimport.zipimporter.invalidate_caches = invalidate_caches
