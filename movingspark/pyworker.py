"""Once-per-process setup for the engine's Python UDF bodies.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``), so that archives added
with ``addPyFile`` become importable. On CPython 3.11 and 3.12
``zipimporter.invalidate_caches`` re-reads its archive's central
directory on each call, and a worker holds one zipimporter per package
it imported from ``pyspark.zip`` (first on the worker's ``sys.path``,
1 328 entries) plus those of any ``--py-files`` archive: 0.24 s of
CPU per task on a 4-vCPU VM, more than the kernels of a bench-scale
grouped-map task spend.

`prepare` is the first call of every function the engine hands to a
Python worker (``tests/test_pyworker.py`` guards this). Once per
process it replaces that method with a stat-checked one: an archive
whose ``(st_mtime_ns, st_size)`` matches its last read, and whose
directory is still in ``zipimport._zip_directory_cache``, is re-bound
to the cached directory instead of re-read. A rewritten archive is
re-read; a missing one takes the stdlib path. The first task of each
worker still pays the full read (the UDF runs after the task's setup).
CPython 3.13 made the stdlib method lazy, so there `prepare` does
nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

_installed = False


def prepare() -> None:
    """Install the stat-checked ``zipimporter.invalidate_caches`` in
    this process; every call after the first is a flag check."""
    global _installed
    if _installed:
        return
    _installed = True
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
