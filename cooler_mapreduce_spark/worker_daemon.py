"""Python worker daemon that stops zip importers re-reading unchanged archives.

Every PySpark task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Under CPython 3.11 that makes
each ``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory at once. A worker holds one such importer per
imported ``pyspark`` subpackage, all over the same ``pyspark.zip``, so a
reused worker pays a fixed cost of about 0.2 s of CPU per task before any
user code runs (4-vCPU x86 host).

The daemon replaces ``zipimporter.invalidate_caches`` with a guard that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs from
the stamp recorded on that importer's last read. An archive that really
changes on disk is re-read exactly as before.

``session.get_session`` starts this module as the daemon
(``spark.python.daemon.module``), with the package's parent directory on
the executors' ``PYTHONPATH``. It installs the guard, stamps the importers
the daemon already holds, then runs ``pyspark.daemon.manager()``; forked
workers inherit both. (``spark.python.worker.module`` cannot do this:
``pyspark.daemon`` only honours worker modules named ``pyspark*``.)
"""

from __future__ import annotations

import importlib
import os
import zipimport

#: The stdlib reader the guard delegates to.
_read_archive = zipimport.zipimporter.invalidate_caches


def guarded_invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive only if it changed since this importer last read it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and stamp == getattr(self, "_read_stamp", None):
        return
    _read_archive(self)
    self._read_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = guarded_invalidate_caches
    from pyspark import daemon  # imports pyspark.worker: its importers exist now

    importlib.invalidate_caches()
    daemon.manager()
