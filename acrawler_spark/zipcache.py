"""Stat-gated zip directory reloads for PySpark Python workers (CPython < 3.12).

Before every task a PySpark worker calls ``importlib.invalidate_caches()``
(pyspark ``worker_util.setup_spark_files``). Under CPython 3.11 that calls
``zipimport.zipimporter.invalidate_caches`` on every cached zipimporter, and
each one re-reads its archive's whole central directory. A worker holds
12-16 importers into ``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB, one per
imported subpackage), so every task — even a 4-row ``mapInPandas`` — paid
~0.2 CPU-s before running a single row. CPython 3.12 makes the reload lazy
(the directory is re-read once, on the next lookup).

``install()`` wraps ``zipimporter.invalidate_caches`` so that it re-reads an
archive only when the archive's ``(st_mtime_ns, st_size)`` differs from the
last read; otherwise the importer is pointed at the directory already read
for that stamp. A rewritten archive is still re-read, which keeps the
3.12 semantics: an ``invalidate_caches()`` after the archive changes makes
its new modules importable. ``install()`` runs when the package is first
imported — on a worker, when the first task unpickles a UDF that refers to
engine code — and is idempotent. On CPython >= 3.12 it does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` once per process. Returns
    True if the stat-gated version is active after the call."""
    if sys.version_info >= (3, 12):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "_stat_gated", False):
        return True
    reload_directory = cls.invalidate_caches
    # archive path -> ((st_mtime_ns, st_size), directory dict read at that stamp)
    read: dict[str, tuple[tuple[int, int], dict]] = {}

    def invalidate_caches(self):
        stamp = _stamp(self.archive)
        hit = read.get(self.archive)
        if stamp is not None and hit is not None and hit[0] == stamp:
            self._files = hit[1]
            zipimport._zip_directory_cache[self.archive] = hit[1]
            return
        reload_directory(self)
        if stamp is None or not self._files:
            read.pop(self.archive, None)
        else:
            read[self.archive] = (stamp, self._files)

    invalidate_caches._stat_gated = True
    cls.invalidate_caches = invalidate_caches
    return True
