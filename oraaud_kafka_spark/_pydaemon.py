"""PySpark's worker daemon, with zip directories re-read only on change.

``get_spark`` starts local sessions' Python workers through this module
(``spark.python.daemon.module``); ``session``'s docstring gives the
measured cost this removes. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task
(``worker_util.setup_spark_files``). On CPython 3.12 and older that makes
every ``zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory: a worker holds ~16 of them over
``pyspark.zip``, the spark-core jar and py4j, ~27k entries per task.

Before the daemon forks any worker, ``_guard_zip_rereads`` replaces
``zipimporter.invalidate_caches``. The replacement re-reads an archive
only when its ``(st_mtime_ns, st_size)`` differs from the stamp taken
before its last read, so an archive rewritten in place is still re-read
and an unchanged one costs one ``stat``. The importers of one archive
share its one read. CPython 3.13 made the invalidation lazy (gh-103200),
and there the guard does nothing.

Run as ``python -m oraaud_kafka_spark._pydaemon [worker module]``, the
arguments ``pyspark.daemon`` takes.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size) taken before the read now held in
# zipimport._zip_directory_cache
_read_stamps: dict[str, tuple[int, int] | None] = {}
_stock_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_caches(self) -> None:
    """Reload the archive's directory only if the archive changed."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _read_stamps.get(self.archive) != stamp:
        _stock_invalidate(self)
        _read_stamps[self.archive] = stamp
    else:
        self._files = files


def _guard_zip_rereads() -> None:
    """Install ``_invalidate_caches`` and stamp every archive already on
    the path (one read each), so forked workers inherit the stamps."""
    if sys.version_info >= (3, 13):
        return
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    # install from the importable module, not this ``__main__`` copy, so a
    # worker's patched method names its home module
    from oraaud_kafka_spark._pydaemon import _guard_zip_rereads as guard

    guard()
    import pyspark.daemon

    pyspark.daemon.manager()
