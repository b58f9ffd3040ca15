"""Spark Python worker entry point: ``pyspark.worker`` without a zip
re-scan on every task.

Every Python task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython 3.12 and
older, ``zipimport.zipimporter.invalidate_caches`` re-reads its
archive's whole central directory in pure Python. A worker that has
imported ``pyspark.worker`` from ``pyspark.zip`` holds about a dozen
zipimporters, most of them over that 1,300-entry archive, so each task
paid 0.1-0.4 s before it read a row (the larger figure with four
workers starting at once). CPython 3.13 only drops the cache there, so
the patch below is applied only before 3.13.

The patch re-reads an archive only when its ``os.stat`` key
``(st_mtime_ns, st_size, st_ino)`` differs from the key recorded at the
importer's last read. A zip rewritten in place, or replaced, is still
picked up on the next ``invalidate_caches()``. Importing this module
reads every zipimporter already in ``sys.path_importer_cache`` once and
records its key.

``session.get_spark`` sets ``spark.python.worker.module`` to this
module. Two launch paths use it:

* Daemon mode (the default). ``pyspark.daemon`` imports a worker module
  only if its name starts with ``pyspark``, which this one does. It
  imports it before it forks any worker, so every worker inherits the
  patch and the recorded keys, and its first task reads no archive.
  A custom ``spark.python.daemon.module`` that imports ``pyspark.daemon``
  gets the same.
* No-daemon mode (``spark.python.use.daemon=false``). Spark runs
  ``python -m`` on this module, which patches and then runs
  ``pyspark.worker`` as ``__main__``.

The driver never imports this module, so its own imports are untouched.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _patch_zipimport() -> None:
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self) -> None:
        # stat before the read: a rewrite that lands between the two is
        # seen as a changed key on the next call
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size, st.st_ino)
        except OSError:
            key = None
        if key is not None and key == getattr(self, "_read_key", None):
            return
        reread(self)
        self._read_key = key

    zipimport.zipimporter.invalidate_caches = invalidate_caches


_PATCHED = sys.version_info < (3, 13)
if _PATCHED:
    _patch_zipimport()

if __name__ == "__main__":
    import runpy

    runpy.run_module("pyspark.worker", run_name="__main__", alter_sys=True)
else:
    from pyspark.worker import main  # noqa: F401  (pyspark.daemon calls worker_module.main)

    if _PATCHED:
        # importing pyspark.worker made one zipimporter per package it
        # loaded: read and key each one here, in the daemon, before it
        # forks
        for finder in list(sys.path_importer_cache.values()):
            if isinstance(finder, zipimport.zipimporter):
                finder.invalidate_caches()
