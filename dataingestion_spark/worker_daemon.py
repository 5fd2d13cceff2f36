"""PySpark's Python worker daemon, with zip directories re-read only on change.

Spark starts this module (``spark.python.daemon.module``, set by
``session.get_spark``) instead of ``pyspark.daemon``; every task's worker is
forked from it. Before each task PySpark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``, and on Python 3.11 and 3.12 that makes
every cached ``zipimporter`` re-read its whole archive directory:
``pyspark.zip`` per sub-package, the spark-core jar and the py4j zip, about
0.13 s per task. Here a zipimporter re-reads only when its archive's
``(st_mtime_ns, st_size, st_ino)`` differs from the one seen at its last
read, or when the archive cannot be stat'ed, so an archive rewritten or
removed under a running worker is still re-read, and a path a task adds to
``sys.path`` still gets a fresh importer.
"""

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        key = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        key = None
    if key is None or key != getattr(self, "_archive_key", None):
        _reread(self)
    self._archive_key = key


def main():
    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()  # key the daemon's importers; forks inherit the keys
    daemon.manager()


if __name__ == "__main__":
    main()
