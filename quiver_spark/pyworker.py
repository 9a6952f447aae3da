"""Python worker daemon for sessions built by ``session.get_spark``.

PySpark calls ``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``). On CPython before 3.12 that makes every
cached ``zipimport.zipimporter`` re-read its archive's whole central
directory — pyspark.zip alone has over a thousand entries — so a reused
worker pays a fixed 50-150 ms per task whatever the data size
(CPython gh-103200 made the re-read lazy in 3.12).

This module re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from what the importer last read: run as the daemon, it installs
that as ``zipimporter.invalidate_caches`` and then runs the stock
``pyspark.daemon`` manager. Workers fork from the daemon and inherit the
patch. A zip shipped with ``addPyFile`` is a new path (a new importer), and
a zip rewritten in place changes its stat, so both are still picked up.

Run by Spark as ``python -m quiver_spark.pyworker`` through the static conf
``spark.python.daemon.module``. Beyond what the stock daemon loads, it
imports only ``os``, ``zipimport`` and the package's small query registry,
so the daemon stays as small as the stock one.
"""

import os
import zipimport

from pyspark import daemon

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    """Reload the archive's file data if it changed since the last reload."""
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_read_key", None):
        # stat before reading: a rewrite racing the read leaves a stale key,
        # which only costs one more re-read next time
        _reread(self)
        self._read_key = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    daemon.manager()
