"""Python worker daemon that re-reads a zip archive only when it changed.

Spark forks every Python worker from one daemon process. Before a task's
function runs, the worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 and 3.12
that re-reads the central directory of every archive a cached
``zipimport.zipimporter`` serves. Spark puts ``pyspark.zip`` (1,328
entries) and the spark-core jar (5,359 entries) on every worker's
PYTHONPATH, and a worker caches one importer per package it imported
from them. Measured on a 4-vCPU VM with CPython 3.11.7: one
``invalidate_caches()`` in a worker took 166–173 ms over 16 cached
zipimporters (0.06–0.09 ms with this module), and a reused worker spent
0.28 s of CPU between one task's function and the next (0.05 s).

``session.get_spark`` sets this module as ``spark.python.daemon.module``.
It

1. replaces the ``zipimporter`` path hook with :class:`CachedZipImporter`,
   whose ``invalidate_caches`` re-reads an archive only when its
   (mtime, size) changed;
2. drops the zipimporters already in ``sys.path_importer_cache``, so the
   next lookup of those path entries builds the subclass;
3. runs ``pyspark.daemon`` as ``__main__``, so every forked worker
   inherits the hook.

``spark.python.worker.module`` cannot do this: ``pyspark/daemon.py``
ignores a worker module whose name does not start with ``pyspark``.
Files added with ``SparkContext.addPyFile`` are still found: a new path
entry gets a new importer, and directory (FileFinder) caches are still
invalidated.

CPython 3.13 defers the re-read to the archive's next lookup (one
invalidation of the jar's importer: 0.06 ms on 3.13.0, 35 ms on 3.11.7,
41 ms on 3.12.1), and a reused worker rarely imports anything new:
delete this module, and its conf in ``session.py``, once the
interpreter floor is 3.13.
"""

from __future__ import annotations

import os
import runpy
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


class CachedZipImporter(zipimport.zipimporter):
    """A zipimporter that keeps its directory while the archive is unchanged."""

    def __init__(self, path):
        super().__init__(path)
        self._stamp = _stamp(self.archive)

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        if stamp != self._stamp:
            self._stamp = stamp
            super().invalidate_caches()


if __name__ == "__main__":
    sys.path_hooks[:] = [
        CachedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks
    ]
    for entry, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[entry]
    runpy.run_module("pyspark.daemon", run_name="__main__", alter_sys=True)
