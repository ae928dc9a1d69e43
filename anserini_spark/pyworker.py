"""PySpark worker daemon whose zip importers skip unchanged archives.

Spark runs it as ``python -m anserini_spark.pyworker`` (set by
``session.get_spark``). PySpark calls ``importlib.invalidate_caches()``
on every Python task, and before Python 3.13 that makes each
``zipimporter`` re-read its archive's directory; here it re-reads only
when the archive's (mtime, size, inode) changed since the last read.
"""

import importlib
import os
import zipimport

from pyspark import daemon

_reread = zipimport.zipimporter.invalidate_caches
# archive -> stat stamp taken before its last read; process-wide, like
# the zipimport directory cache it guards
_read_stamps = {}


def invalidate_caches(self):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp and files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
    else:
        _reread(self)
        _read_stamps[self.archive] = stamp


def install():
    """Patch the zip importers, then read and stamp each archive already
    imported from, once, before any worker forks."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


if __name__ == "__main__":
    from anserini_spark import pyworker  # workers report the named module

    pyworker.install()
    daemon.manager()
