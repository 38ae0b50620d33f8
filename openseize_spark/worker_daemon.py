"""Python worker daemon that makes zip-import cache invalidation lazy.

Spark calls ``importlib.invalidate_caches()`` at the start of every Python
task (``pyspark.worker_util.setup_spark_files``).  On CPython < 3.13 a
``zipimporter`` answers that by parsing its archive's whole directory
again, and a worker's ``sys.path`` starts with ``pyspark.zip``, the py4j
zip and the ``spark-core`` jar: some 16 importers and ~27k directory
entries, re-read per task whatever the task's size.  Here an importer
re-reads its archive only when the archive's ``(st_mtime_ns, st_size)``
differs from when that importer last read it.  CPython 3.13 made the
stdlib method a cache pop, so there it is left alone.

Selected by ``get_spark`` through ``spark.python.daemon.module``; forked
workers inherit the patched class.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """Re-read the archive directory only if the archive changed."""
    # stat before the read, so a change during the read shows next time
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_openseize_stamp", None) != stamp:
        _stdlib_invalidate_caches(self)
        self._openseize_stamp = stamp


def install() -> None:
    """Patch ``zipimporter`` (CPython < 3.13) and read every importer
    already on the path once, so each starts with a stamp."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()


if __name__ == "__main__":
    # Run under the package name, so the patched method reports
    # ``openseize_spark.worker_daemon`` as its module rather than ``__main__``.
    from openseize_spark import worker_daemon
    from pyspark.daemon import manager

    worker_daemon.install()
    manager()
