"""Python worker daemon whose zip importers keep the archives they read.

Spark forks every Python task from ``pyspark.daemon``, and each task's
``setup_spark_files`` ends in ``importlib.invalidate_caches()``
(pyspark/worker_util.py:124-144). On Python 3.11 that makes every cached
``zipimport.zipimporter`` re-read its archive's whole central directory,
and a worker holds one importer per package directory of pyspark.zip and
py4j (16), plus the spark-core jar the worker path lists: about 0.12 s of
CPU per task before any user code.

This module runs the stock daemon with one change: the archives on the
path when the daemon starts (those three, any zip on PYTHONPATH) are read
once, and ``invalidate_caches`` leaves them alone. Archives a job
adds later (``sc.addPyFile``, which tasks put on the path from the
SparkFiles root) keep the stock invalidation, so a re-shipped archive is
still re-read. ``session.get_session`` selects it through
``spark.python.daemon.module``.
"""

import os
import sys
import zipimport

from pyspark import daemon

_KEPT = frozenset(p for p in sys.path if os.path.isfile(p))


class _KeptZipImporter(zipimport.zipimporter):
    def invalidate_caches(self):
        if self.archive not in _KEPT:
            super().invalidate_caches()


if __name__ == "__main__":
    sys.path_hooks[sys.path_hooks.index(zipimport.zipimporter)] = _KeptZipImporter
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]
    daemon.manager()
