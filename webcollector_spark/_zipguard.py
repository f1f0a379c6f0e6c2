"""Stat-gated zip-directory invalidation for PySpark Python workers.

Before every task, pyspark's `worker_util.setup_spark_files` calls
`importlib.invalidate_caches()`, and CPython's
`zipimport.zipimporter.invalidate_caches` re-reads the archive's central
directory each time it is called. A worker holds one zipimporter per
package directory it imported from pyspark.zip, the py4j zip and the
spark-core jar, so every task re-parses those archives several times
over (190-360 ms per task on a 4-core box).

`install()` wraps that method so an archive's directory is re-read only
when the archive's `(st_mtime_ns, st_size, st_ino)` has changed since
the wrapper last read it; otherwise the importer adopts the shared
`zipimport._zip_directory_cache` entry. It patches only inside a Python
worker (a live `TaskContext`), never in the driver process.
"""

from __future__ import annotations

import os
import zipimport

from pyspark import TaskContext


def install() -> None:
    """Install the gated method once per worker process (idempotent)."""
    original = zipimport.zipimporter.invalidate_caches
    if TaskContext.get() is None or getattr(original, "stat_gated", False):
        return
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        files = zipimport._zip_directory_cache.get(self.archive)
        if files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        # stat before reading: a rewrite racing the read leaves an older
        # stamp behind, so the next call re-reads rather than trusting it
        original(self)
        stamps[self.archive] = stamp

    invalidate_caches.stat_gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
