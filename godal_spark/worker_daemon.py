"""Python worker daemon: ``pyspark.daemon`` without the per-task zip re-read.

``session.get_spark`` starts the workers' daemon as
``python -m godal_spark.worker_daemon`` (``spark.python.daemon.module``).
Every task's ``pyspark.worker_util.setup_spark_files`` calls
``importlib.invalidate_caches()``. On Python < 3.12 that makes every
``zipimporter`` re-read its archive's whole central directory, and the
workers import pyspark through a dozen or more importers of
``pyspark.zip`` (1,328 entries): about 0.2 s of every task on a 4-core
host, before the UDF runs. Python 3.12 made the invalidation lazy.

Here the re-read happens only when the archive's (inode, size, mtime)
has changed since the last read; otherwise the importer takes the
directory already in ``zipimport._zip_directory_cache``. A gone archive
is dropped as Python 3.11 drops it. Forked workers inherit the patch.
It imports nothing but ``pyspark.daemon``: pages of pandas or pyarrow
shared after the fork would count once per worker in every RSS sum.
"""

import os
import sys
import zipimport

# archive path -> its (st_ino, st_size, st_mtime_ns) when last read
_read_stamp: dict = {}


def _invalidate_caches(self):
    """zipimporter.invalidate_caches that re-reads a changed archive only."""
    cache = zipimport._zip_directory_cache
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
        if self.archive not in cache or _read_stamp.get(self.archive) != stamp:
            cache[self.archive] = zipimport._read_directory(self.archive)
            _read_stamp[self.archive] = stamp
        self._files = cache[self.archive]
    except (OSError, zipimport.ZipImportError):    # gone: as Python 3.11 does
        cache.pop(self.archive, None)
        self._files = {}


def install() -> bool:
    """Patch zipimporter where Python re-reads eagerly; True if it did."""
    if sys.version_info >= (3, 12):
        return False
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
