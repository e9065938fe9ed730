"""Spark's Python daemon with one import-system fix installed first.

Before every task, a reused pyspark worker calls
``importlib.invalidate_caches()`` (``pyspark/worker_util.py``,
``setup_spark_files``). Before Python 3.13, that makes every
``zipimport.zipimporter`` re-read its archive's whole central directory:
pyspark.zip has about 1,300 entries and one importer per package imported
from it, so a task paid about 200 ms of CPU before any of its own work.
Python 3.13 only drops the cached directory, so ``install`` does nothing
there.

``install`` makes ``zipimporter.invalidate_caches`` re-read an archive only
when its ``(st_mtime_ns, st_size)`` changed since that importer last read
it. ``python -m flink_emqx_connector_spark.pyworker`` (the
``spark.python.daemon.module`` that ``session.get_spark`` sets) installs
it and then runs pyspark's own daemon, so every worker the daemon forks
has it before its first task.
"""

from __future__ import annotations

import os
import sys
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None  # gone or unreadable: the stock re-read handles it
    if stamp is not None and stamp == getattr(self, "_graft_stamp", None):
        return
    # stat before the read: a write in between makes the next call re-read
    _stock_invalidate_caches(self)
    self._graft_stamp = stamp


def install() -> None:
    """Install the stat-guarded ``invalidate_caches`` (no-op on ≥ 3.13)."""
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
