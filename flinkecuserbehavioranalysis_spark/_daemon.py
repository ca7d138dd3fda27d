"""PySpark's worker daemon, with each zip archive's directory re-read
only when the archive changes.

``session.get_spark`` names this module as ``spark.python.daemon.module``.
Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``); before CPython 3.13 that
makes each zipimporter on the path re-read its archive's directory.  A
worker holds 18 of them over ``pyspark.zip`` (1,328 entries): 150–300 ms
of CPU per task before the task's first call.  Here a zipimporter
re-reads only when its archive's ``(st_mtime_ns, st_size)`` differs from
the stamp taken when the directory was last read, so a rewritten
archive is still seen.  CPython 3.13 re-reads lazily by itself, so the
patch retires there.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def patch_zipimport() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its stamp changed.  Process-wide; call it once."""
    read_directory, reread = zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    # the stamp of each cached directory, taken before it is read (now,
    # for the directories read before the patch)
    stamps = {path: _stamp(path) for path in zipimport._zip_directory_cache}

    def stamped_read_directory(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        stamps[archive] = stamp
        return files

    def invalidate_caches(self) -> None:
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is None or stamp is None or stamps.get(self.archive) != stamp:
            reread(self)
        else:
            self._files = files

    zipimport._read_directory = stamped_read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        patch_zipimport()
    from pyspark.daemon import manager

    manager()
