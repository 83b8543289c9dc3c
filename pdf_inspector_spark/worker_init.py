"""Executor Python worker set-up that rides on importing the package.

pyspark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). On Python 3.11 that makes
every cached ``zipimporter`` re-read its archive's whole central
directory. A worker holds about 16 importers over ``pyspark.zip`` (1,328
entries, and the JVM puts it first on the worker's PYTHONPATH), so each
task re-parsed some 20k directory entries before it read a row. On a
4-core box a trivial 32-task pandas UDF job took 2.5 s with the re-reads
and 0.9 s without them.

Every executor Python worker imports this package when it unpickles a
package UDF, and the import installs a stat-checked
``zipimporter.invalidate_caches``: an importer re-reads its archive only
when the archive's ``(st_ino, st_size, st_mtime_ns)`` changed since that
importer last read it. If the stat fails, the original method runs, so a
deleted archive still drops its cache.
"""

from __future__ import annotations

import os
import zipimport


def install_stat_checked_invalidation() -> None:
    """Wrap ``zipimporter.invalidate_caches`` with the stat check; a
    second call leaves the installed wrapper in place."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "stat_checked", False):
        return

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._archive_stat = None
            return original(self)
        key = (st.st_ino, st.st_size, st.st_mtime_ns)
        if getattr(self, "_archive_stat", None) != key:
            # stat before the read: a change racing the read leaves an
            # old key behind, so the next call reads again
            original(self)
            self._archive_stat = key

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
