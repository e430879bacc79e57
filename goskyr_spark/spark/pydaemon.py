"""PySpark's Python daemon with a stat-checked zip directory cache.

PySpark calls ``importlib.invalidate_caches()`` before every Python task
(``pyspark.worker_util.setup_spark_files``). On Python 3.11 that makes
every ``zipimporter`` on ``sys.path`` re-parse its whole archive
directory: 16 importers over pyspark.zip, the py4j zip and the
spark-core jar, 0.20–0.24 s per task on a 4-vCPU host, although those
archives never change. ``build_session`` names this module as
``spark.python.daemon.module``. Run as the daemon, it swaps in
:func:`invalidate_caches`, stamps the archives it has already read and
hands over to ``pyspark.daemon.manager()``; the forked workers inherit
both. Importing the module changes nothing.
"""

from __future__ import annotations

import os
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
_stamps: dict[str, tuple[int, int, int] | None] = {}
rereads = 0  # archive directories read by invalidate_caches in this process


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that reuses the cached directory
    while the archive's ``(st_ino, st_size, st_mtime_ns)`` stamp is the
    one this process last read it under; a changed, unstamped or missing
    archive takes the stock path (re-read, or drop the cache entry)."""
    global rereads
    # stamp before reading: a write in between leaves the older stamp,
    # so the next call reads the archive again
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    rereads += 1
    _stock(self)
    _stamps[self.archive] = stamp


def install() -> None:
    """Patch ``zipimporter`` and stamp every archive already read."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for archive in zipimport._zip_directory_cache:
        _stamps[archive] = _stamp(archive)


if __name__ == "__main__":
    # the importable module, not __main__, holds the patch and its counter
    from goskyr_spark.spark import pydaemon
    from pyspark.daemon import manager

    pydaemon.install()
    manager()
