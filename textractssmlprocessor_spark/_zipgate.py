"""Per-task zip re-read gate for Python workers.

A PySpark worker ends its per-task file setup with
``importlib.invalidate_caches()`` (pyspark ``worker_util.setup_spark_files``).
Under CPython 3.11, ``zipimport.zipimporter.invalidate_caches`` re-reads the
archive's whole central directory every time it is called (Lib/zipimport.py,
``zipimporter.invalidate_caches``), and a worker holds 14-16 zipimporters
over ``pyspark.zip`` (3.5 MB): ungated, every task pays 0.13-0.16 s before
the UDF is called, whatever the UDF does.

``install()`` replaces that method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the stamp taken before its
last read here; an unchanged archive reuses ``zipimport._zip_directory_cache``.
A changed, missing or never-stamped archive takes the original method, so
changed archives and new ``addPyFile`` entries are still seen.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_stamps: dict = {}


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Gate ``zipimporter.invalidate_caches`` once per process; a second
    call does nothing."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "gated", False):
        return

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if (stamp is not None and files is not None
                and _stamps.get(self.archive) == stamp):
            self._files = files
            return
        original(self)
        _stamps[self.archive] = stamp

    invalidate_caches.gated = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
