"""Python worker daemon: ``pyspark.daemon`` without the per-task zip re-read.

``session.get_spark`` points ``spark.python.daemon.module`` here.  Before
every task ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``.  Up to Python 3.12,
``zipimporter.invalidate_caches`` re-reads the whole central directory of
its archive, and a worker holds one importer per package it imported from
an archive: a dozen on ``pyspark.zip`` and a couple on the spark-core jar
(thousands of entries).  Together that is about a quarter of a second of
CPU before each task's user code runs.  Python 3.13 made the re-read lazy,
so there this module only starts the stock daemon.

On older Pythons each importer re-reads its archive only when the
archive's ``os.stat`` stamp (mtime in ns, size, inode) changed since that
importer last read it.  The stamp is kept per importer because every
importer holds its own ``_files``.  A rewritten archive, or one new to the
worker (``addPyFile``), is still read; only a rewrite that keeps all three
stamp fields goes unnoticed.  The importers the daemon already has are
stamped before it forks, so its workers inherit the stamps.

Runs as ``python -m mincemeatpy_spark.worker_daemon``; stdout carries the
daemon's port handshake, so nothing here may print.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# Imported first so that every importer the daemon's imports create
# exists, and gets stamped, before main() forks workers.
from pyspark.daemon import manager

_STAMP = "_mincemeatpy_stamp"
_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (stamp, directory) of the newest read, shared by every
# importer on that archive so one change costs one read, not one per
# importer.
_latest: dict[str, tuple[tuple[int, int, int] | None, dict]] = {}


def _stat_stamp(path: str) -> tuple[int, int, int] | None:
    """None for a missing archive: it reads as empty until it is back."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    # Stat BEFORE reading: a write racing the read leaves an older stamp
    # behind, so the next call reads again.
    stamp = _stat_stamp(self.archive)
    if self.__dict__.get(_STAMP, ()) == stamp:
        return
    latest = _latest.get(self.archive)
    if stamp is not None and latest is not None and latest[0] == stamp:
        self._files = latest[1]
        zipimport._zip_directory_cache[self.archive] = latest[1]
    else:
        _reread(self)
        _latest[self.archive] = (stamp, self._files)
    setattr(self, _STAMP, stamp)


def main() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
        importlib.invalidate_caches()
    manager()


if __name__ == "__main__":
    main()
