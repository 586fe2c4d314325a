"""Python worker daemon for the engine's local sessions.

Spark puts ``pyspark.zip`` first on every Python worker's ``sys.path``,
and each task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython 3.11 that makes
every cached ``zipimporter`` re-read its archive's central directory:
about 0.13 s of CPU per task for pyspark.zip's 1,328 entries, before any
user code runs.  A worker serves many tasks and its archives do not
change while it lives, so here ``invalidate_caches`` re-reads an archive
only when its ``(st_mtime_ns, st_size)`` differs from the last read by
that importer.  Spark forks every worker from this daemon, so the
workers inherit the patch.

The module imports only the standard library and pyspark: its directory
holds nothing else and is the only one the session adds to the workers'
``PYTHONPATH``.  Run it as ``python -m lwetl_worker_daemon``; importing
it installs nothing.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size)
    except OSError:
        key = None
    if key is not None and key == getattr(self, "_read_key", None):
        return
    _reread(self)
    self._read_key = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark.daemon import manager

    manager()
