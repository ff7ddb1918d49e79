"""Per-task fixes for a reused Spark Python worker.

A PySpark Python worker calls ``importlib.invalidate_caches()`` at the
start of every task, and the daemon runs a full ``gc.collect()`` after
every task of a reused worker. Both calls cost more than a serving
request's tile work:

- **Zip re-reads.** Before Python 3.13 each ``zipimporter`` answers
  ``invalidate_caches`` by re-reading its archive's whole zip directory,
  and a worker holds one importer per imported subpackage of
  pyspark.zip, plus py4j's zip and the Spark jar: ~180 ms per task on a
  4-core host. Python 3.13 made the re-read lazy. Here an archive is
  re-read only when its ``(st_mtime_ns, st_size)`` changed since it was
  last read, or when the stat fails; otherwise the importer keeps the
  directory already read.
- **Full-heap collections.** A worker holding numpy, pandas, pyarrow and
  this package tracks ~73k container objects, and one full collection
  walks all of them: 34–40 ms, paid after every task. In a worker, the
  task-start ``invalidate_caches`` here first calls ``gc.freeze()``. The
  previous task's garbage was freed by the collection that just ran, so
  what it moves into the permanent generation is the import-time state
  every task shares, and the next collection walks only the objects of
  the task in between. Frozen objects are still freed by reference
  counting when their last reference goes; only a reference cycle among
  them would outlive the worker's collections.
"""

from __future__ import annotations

import gc
import importlib
import os
import sys
import zipimport


def install() -> None:
    """Install the zip guard (Python < 3.13) in every process, and the
    task-start freeze in Spark Python worker processes only; idempotent."""
    _install_zip_guard()
    main = getattr(sys.modules.get("__main__"), "__spec__", None)
    if getattr(main, "name", None) == "pyspark.daemon":
        _install_freeze()


def _install_zip_guard() -> None:
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


def _install_freeze() -> None:
    original = importlib.invalidate_caches
    if original.__module__ == __name__:
        return

    def invalidate_caches():
        gc.freeze()
        original()

    importlib.invalidate_caches = invalidate_caches
