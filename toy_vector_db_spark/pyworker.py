"""Spark's Python-worker daemon without the per-task zip re-read.

PySpark runs ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.setup_spark_files``). Under Python 3.11 that
makes each ``zipimporter`` on the worker's path re-read its archive's
whole central directory: ``pyspark.zip`` and the spark-core jar, 157-320
ms a task on a 4-core host. This daemon skips the re-read while the
archive's file stamp is unchanged since the importer last read it, then
runs PySpark's own daemon; forked workers inherit the patch. Directory
finders, and archives that did change (``addPyFile``), are invalidated
as before. ``session.DEFAULT_CONF`` sets it as
``spark.python.daemon.module``.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(self):
    """``zipimporter.invalidate_caches`` for an archive whose stamp
    changed (or cannot be read) since this importer last read it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_stamp", None) != stamp:
        _reread(self)
        self._stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon
    importlib.invalidate_caches()  # stamp the daemon's importers once, before fork
    daemon.manager()
