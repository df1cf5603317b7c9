"""Stat-validated zip archive invalidation for engine Python processes.

PySpark's worker calls ``importlib.invalidate_caches()`` before every UDF,
``mapInArrow``, ``foreachPartition`` and DataSource planner call. On
CPython 3.11 each ``zipimport.zipimporter`` then re-reads its whole archive
directory: ~10 ms for ``pyspark.zip`` (1.3k entries, a dozen importers in a
warm worker) and ~40 ms for the spark-core jar (5.4k entries), about 250 ms
of CPU per call for no work. ``install()`` makes an importer re-read only
when its archive's ``(st_ino, st_size, st_mtime_ns)`` differs from the stamp
taken at its last refresh, so a replaced or rewritten archive is still seen.
The package ``__init__`` calls it: every worker that runs engine code
imports the package when it unpickles that code.
"""

from __future__ import annotations

import os
import weakref
import zipimport

_stamps: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _stat_stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` once per process."""
    original = getattr(zipimport.zipimporter, "invalidate_caches", None)
    if original is None or getattr(original, "_stat_validated", False):
        return

    def invalidate_caches(self):
        # Stamp BEFORE reading: a rewrite racing the read changes the
        # stamp, so the next invalidation reads again.
        stamp = _stat_stamp(self.archive)
        if stamp is not None and _stamps.get(self) == stamp:
            return
        original(self)
        if stamp is None:
            _stamps.pop(self, None)
        else:
            _stamps[self] = stamp

    invalidate_caches._stat_validated = True
    invalidate_caches.__wrapped__ = original
    zipimport.zipimporter.invalidate_caches = invalidate_caches
