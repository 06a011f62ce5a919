"""Keep a Spark Python worker from re-reading unchanged zip archives.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``worker_util.setup_spark_files``). Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads its archive's whole
central directory without checking whether the file changed. A worker
holds a dozen importers over ``pyspark.zip`` and two each over py4j's
source zip and the Spark core jar, so every task paid about 0.25 s before
its function started. 3.13 drops a cache entry and re-reads lazily, so it
needs nothing here.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _stat_key(path: str) -> tuple:
    st = os.stat(path)
    return (st.st_dev, st.st_ino, st.st_size, st.st_mtime_ns)


def install() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only when
    its stat key (device, inode, size, mtime) differs from the one taken
    at that importer's last read. A changed or replaced archive is still
    re-read; a stat error falls through to the original. Records the
    current key on every zip importer already on the path, and does
    nothing when already installed."""
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "skips_unchanged", False):
        return

    def invalidate_caches(self):
        try:
            key = _stat_key(self.archive)
        except OSError:
            self._stat_key = None
            return original(self)
        if getattr(self, "_stat_key", None) != key:
            original(self)
            self._stat_key = key

    invalidate_caches.skips_unchanged = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            try:
                finder._stat_key = _stat_key(finder.archive)
            except OSError:
                pass    # no key: re-read at its next invalidation


def install_on_worker() -> None:
    """:func:`install`, in a PySpark worker process on CPython < 3.13
    only; the driver and newer interpreters are left untouched."""
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return
    # a worker's setup_spark_files imports this module and sets the flag
    # before any UDF is unpickled; a driver need not import pyspark here
    files = sys.modules.get("pyspark.core.files")
    if files is not None and files.SparkFiles._is_running_on_worker:
        install()
