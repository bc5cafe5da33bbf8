"""PySpark's worker daemon, minus the per-task re-read of unchanged zips.

Every Python task calls ``importlib.invalidate_caches()`` before its
function runs (``pyspark.worker_util.setup_spark_files``). Before CPython
3.13, each ``zipimport.zipimporter`` then re-reads its whole archive's
directory. A Spark 4.1 worker holds 16 importers over ``pyspark.zip``, the
py4j source zip and the ``spark-core`` jar that Spark puts on the worker
``PYTHONPATH``: 160–270 ms of every task on a 4-core host. Here an importer
re-reads only when its archive's ``(st_mtime_ns, st_size)`` changed since
this process last read it; forked workers inherit the daemon's stamps.
Where ``zipimporter`` reads lazily (it has ``_get_files``), PySpark's
daemon runs unchanged.

``session.get_spark`` selects this module (``spark.python.daemon.module``)
on local masters: ``python -m alibaba_cppfeaturestore_spark.worker_daemon``.
"""

from __future__ import annotations

import os
import zipimport


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _skip_unchanged_zips() -> None:
    """Patch ``zipimport`` so that ``invalidate_caches`` keeps the shared
    directory of an archive this process read and that has not changed."""
    # Archives read before the patch (interpreter start-up) count as read now.
    stamps = {archive: _stamp(archive) for archive in zipimport._zip_directory_cache}
    read, reread = zipimport._read_directory, zipimport.zipimporter.invalidate_caches

    def read_directory(archive):
        stamp = _stamp(archive)
        files = read(archive)
        stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is None or stamp is None or stamps.get(self.archive) != stamp:
            reread(self)
        else:
            self._files = files

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    if not hasattr(zipimport.zipimporter, "_get_files"):
        _skip_unchanged_zips()
    from pyspark import daemon  # its import reads the archives: stamped

    daemon.manager()
