"""Python worker daemon for :func:`deepie_spark.session.get_spark`
sessions: ``pyspark.daemon`` with a stat-checked zip-import refresh.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  Before CPython 3.13 that
makes every ``zipimporter`` re-read its whole archive directory, so a
reused worker re-reads ``pyspark.zip`` once per importer (16 of them)
on every task: 0.15-0.3 s of CPU per task on a 4-core host.  The
daemon replaces the refresh, before it forks workers, with one that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` changed
since that importer last read it (or when the stamp is unknown or the
``stat`` fails).  Run as ``python -m deepie_spark.worker_daemon``
(``spark.python.daemon.module``); importing it changes nothing.
"""

import os
import sys
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_if_changed(importer: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(importer.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(importer, "_read_stamp", None) != stamp:
        _stock_invalidate(importer)
        importer._read_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):  # 3.13's zipimporter reads lazily
        zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    from pyspark import daemon

    daemon.manager()
