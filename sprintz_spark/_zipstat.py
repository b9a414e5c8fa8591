"""Stat-checked ``zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``). Since Python 3.10
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory, and a worker's importer cache holds one zipimporter per
imported package inside ``pyspark.zip`` plus the ones over Spark's jars:
about 0.3 s of CPU per task, paid again on a reused worker.

``install()`` replaces it with a check that re-reads an archive only when
its ``(st_mtime_ns, st_size, st_ino)`` differs from the stat taken just
before the archive's directory was last read (the mtime check
``FileFinder`` already applies to directories). A new or rewritten
archive is still seen; an unchanged one costs one ``stat``.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (stat key taken just before its directory was last read,
# that directory); process-wide like zipimport's own directory cache
_last_read: dict[str, tuple] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> None:
    """Idempotent; a no-op where zipimport lacks the hooks it wraps."""
    cls = zipimport.zipimporter
    orig_invalidate = getattr(cls, "invalidate_caches", None)
    orig_read = getattr(zipimport, "_read_directory", None)
    if orig_invalidate is None or orig_read is None:
        return
    if getattr(orig_invalidate, "_stat_checked", False):
        return

    def _read_directory(archive):
        key = _stat_key(archive)
        files = orig_read(archive)
        _last_read[archive] = (key, files)
        return files

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        last = _last_read.get(self.archive)
        if key is not None and last is not None and last[0] == key:
            # unchanged since the last read, by this or another importer
            self._files = last[1]
            return
        orig_invalidate(self)

    invalidate_caches._stat_checked = True
    zipimport._read_directory = _read_directory
    cls.invalidate_caches = invalidate_caches
