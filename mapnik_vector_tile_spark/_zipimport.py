"""Stat-guarded ``zipimport.zipimporter.invalidate_caches``.

A PySpark Python worker calls ``importlib.invalidate_caches()`` at the
start of every task. Before Python 3.13 each ``zipimporter`` answers by
re-reading its archive's whole zip directory, and a worker holds one
importer per imported subpackage of pyspark.zip, plus py4j's zip and the
Spark jar: ~180 ms per task on a 4-core host. Python 3.13 made the
re-read lazy. Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` changed since it was last read, or when the
stat fails; otherwise the importer keeps the directory already read.
"""

from __future__ import annotations

import os
import sys
import zipimport


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches``; idempotent, and a no-op
    on Python >= 3.13."""
    original = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or original.__module__ == __name__:
        return
    read_at: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            key = (st.st_mtime_ns, st.st_size)
        except OSError:
            key = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is None or files is None or read_at.get(self.archive) != key:
            original(self)
            read_at[self.archive] = key
        else:
            self._files = files

    zipimport.zipimporter.invalidate_caches = invalidate_caches
