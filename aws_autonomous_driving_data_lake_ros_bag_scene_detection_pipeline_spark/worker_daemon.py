"""Python worker daemon for this package's Spark sessions.

``session.get_spark`` sets ``spark.python.daemon.module`` to this module,
so Spark starts its Python worker daemon as ``python -m <package>.worker_daemon``
and forks every Python worker from it. Before it hands over to
``pyspark.daemon.manager()``, on Python < 3.13 the daemon replaces
``zipimport.zipimporter.invalidate_caches`` with :func:`_invalidate_caches`,
which re-reads an archive's directory only when the archive's
``(st_mtime_ns, st_size, st_ino)`` has changed, and reads each archive once
so that the forked workers start with its stat key recorded.

Why: every Python task runs ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. Before 3.13 that makes every
zipimporter (one per package directory imported from ``pyspark.zip``, about
16) re-read the archive's ~1.7k-entry central directory: 0.13-0.20 s per
task on 4 cores. From 3.13, zipimport drops the cached directory and reads
it again once, lazily, for all importers of the archive, so the hook is not
installed there.

``python -m`` imports this package in the daemon, so the workers start
with it (and the pyspark, pandas and pyarrow modules it imports) loaded,
in pages they share with the daemon.

The hook and its counter are process-wide on purpose: they patch a class
that every zipimporter of the process shares.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size, st_ino) when its directory was read
_stat_keys: dict[str, tuple[int, int, int]] = {}
# directory reads made by the hook in this process (inherited by forks)
rereads = 0


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that re-reads only a changed
    archive; a missing or unreadable one goes to the stock method."""
    global rereads
    # stat before reading: a change between the two leaves an old key,
    # so the next call reads again
    key = _stat_key(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _stat_keys.get(self.archive) == key:
        self._files = files
        return
    rereads += 1
    _stock_invalidate_caches(self)
    if key is None:
        _stat_keys.pop(self.archive, None)
    else:
        _stat_keys[self.archive] = key


def install() -> bool:
    """Install the hook on Python < 3.13; return whether it is installed."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return installed()


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def main() -> None:
    install()
    # read each archive here, once, so forks start with its key recorded
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # ``python -m`` runs this file as ``__main__``; run the module under its
    # own name, so that a task importing it sees the state its fork inherited
    importlib.import_module(__spec__.name).main()
