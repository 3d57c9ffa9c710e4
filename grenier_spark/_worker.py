"""Set-up that a Spark Python worker runs once, at its first import of
grenier_spark.

Spark workers import pyspark from ``$SPARK_HOME/python/lib/pyspark.zip``
(plus the py4j zip and the spark-core jar): 16 zipimporters in
``sys.path_importer_cache``, 12 of them over ``pyspark.zip``. Every task
starts with ``importlib.invalidate_caches()``, and before Python 3.12
``zipimporter.invalidate_caches`` eagerly re-reads its archive's central
directory in pure Python (https://github.com/python/cpython/issues/103200):
26,672 entries, 0.25-1.0 s of every build, merge, estimate and probe task,
measured in reused workers on a 4-core host (Python 3.11.7, Spark 4.1.2).
"""

import os
import sys
import zipimport


def _stamp(path):
    try:
        st = os.stat(path)
    except (OSError, ValueError):
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install():
    """In a PySpark task on Python 3.8-3.11, make
    ``zipimporter.invalidate_caches`` keep the cached directory of an archive
    whose (mtime, size, inode) is unchanged since its last read; a changed,
    missing or unreadable archive takes the original re-read. The task is
    detected from ``sys.modules``, so this never imports pyspark. The first
    stamps are taken here, just after the task's own ``invalidate_caches()``
    re-read every archive. Idempotent; returns whether the guard is in
    place."""
    if not (3, 8) <= sys.version_info[:2] < (3, 12):
        return False
    taskcontext = sys.modules.get("pyspark.taskcontext")
    if taskcontext is None or taskcontext.TaskContext.get() is None:
        return False
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "grenier_guard", False):
        return True
    stamps = {path: _stamp(path) for path in zipimport._zip_directory_cache}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and stamps.get(self.archive) == stamp):
            self._files = files
            return
        # Stamp before reading: an archive rewritten during the read is
        # re-read next time.
        stamps[self.archive] = stamp
        original(self)

    invalidate_caches.grenier_guard = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True
