"""Stat-checked zip-directory cache for ``importlib.invalidate_caches()``.

pyspark's Python worker calls ``importlib.invalidate_caches()`` at the start
of every task. On CPython <= 3.12 that makes every ``zipimporter`` on
``pyspark.zip`` (one per package imported from it, ~14 in a worker) re-read
the archive's ~1 300-entry central directory eagerly: ~6 ms of CPU per read
on a 4-vCPU Xeon VM, ~0.1 s per task, more than a small micro-batch's
decode work.

:func:`install` replaces ``zipimporter.invalidate_caches`` with a version
that stats the archive first. While ``(st_ino, st_size, st_mtime_ns)`` is
unchanged it reuses the one directory dict read for that archive, shared by
all of its importers; an archive that changed is re-read by the stdlib
method as before. The stat is taken BEFORE the read it vouches for, so a
rewrite racing the read leaves a stale signature (→ one extra re-read),
never a stale directory. CPython 3.13+ already re-reads lazily and is left
alone.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive path -> (stat signature, directory dict shared by its importers)
_DIRS: dict[str, tuple] = {}


def _signature(archive: str):
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _invalidate_caches(self):
    sig = _signature(self.archive)
    hit = _DIRS.get(self.archive)
    if sig is not None and hit is not None and hit[0] == sig:
        self._files = hit[1]
        zipimport._zip_directory_cache[self.archive] = hit[1]
        return
    _STDLIB(self)
    if sig is not None and self._files:
        _DIRS[self.archive] = (sig, self._files)
    else:
        _DIRS.pop(self.archive, None)


# The stdlib method; read back through the marker when this module is
# re-executed after install (importlib.reload), so the patch never wraps
# itself. The marker also tells install() the patch is already active.
_invalidate_caches._stdlib = _STDLIB = getattr(
    zipimport.zipimporter.invalidate_caches, "_stdlib",
    zipimport.zipimporter.invalidate_caches)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches``; True when the patch is (or
    already was) active. Re-reads each zip archive already on the import
    path once, so its importers share a directory the cache can vouch for."""
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "_stdlib"):
        return True
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return False
    cls.invalidate_caches = _invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()
    return True


def archive_directory_ids(batches):
    """``mapInPandas`` body: one row ``(pid, archive, id(directory))`` per
    zip importer rooted at an archive on this worker, so a caller can see
    whether a reused worker kept its directories across tasks."""
    import pandas as pd

    for _ in batches:
        pass
    rows = [(os.getpid(), f.archive, id(f._files))
            for f in list(sys.path_importer_cache.values())
            if isinstance(f, zipimport.zipimporter) and not f.prefix]
    yield pd.DataFrame(rows, columns=["pid", "archive", "files_id"])
