"""Spark Python workers stop re-reading their zip archives on every task.

``pyspark.worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``
once per task. Before CPython 3.13 each cached ``zipimporter`` then re-reads
its whole archive directory (pyspark.zip's sub-packages, the py4j zip, the
spark-core jar): ~0.2 core-s per task before any task code runs. Inside a
worker, ``install`` swaps in a zipimporter that re-reads only an archive whose
(mtime, size, inode) changed since its last read. 3.13 fixed this upstream.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


class StatZipImporter(zipimport.zipimporter):
    """``invalidate_caches`` re-reads the archive only when its stat stamp
    changed, which keeps the stdlib contract: a changed archive is seen."""

    def __init__(self, path):
        super().__init__(path)  # reuses zipimport._zip_directory_cache
        self._stamp = _stamp(self.archive)

    def invalidate_caches(self):
        stamp = _stamp(self.archive)  # None once the archive is gone
        if stamp != self._stamp:
            super().invalidate_caches()
            self._stamp = stamp


def install() -> None:
    """Inside a Spark Python worker on CPython < 3.13: replace the
    zipimporter path hook and the cached zipimporters. Elsewhere: nothing."""
    files = sys.modules.get("pyspark.core.files")
    if (files is None or not files.SparkFiles._is_running_on_worker
            or sys.version_info >= (3, 13)
            or not hasattr(zipimport.zipimporter, "invalidate_caches")):
        return
    sys.path_hooks[:] = [StatZipImporter if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
    for key, imp in list(sys.path_importer_cache.items()):
        if type(imp) is zipimport.zipimporter:
            try:
                sys.path_importer_cache[key] = StatZipImporter(key)
            except zipimport.ZipImportError:
                pass  # the archive is gone: keep the importer as it was
