"""Make ``importlib.invalidate_caches()`` cheap for zip archives on
CPython < 3.12.

A reused PySpark Python worker calls ``importlib.invalidate_caches()`` at
the start of every task. Before 3.12 that makes every ``zipimporter`` on
``sys.path`` re-read its archive's whole central directory: pyspark.zip,
py4j and the spark-core jar, about 27k entries, 0.2 s per task. Here an
archive is re-read only when its ``(st_mtime_ns, st_size)`` changed since
the last read, or when it cannot be stat'ed. CPython 3.12 made the
invalidation lazy (gh-103200), so there this module changes nothing.

Where the worker daemon shim (``_daemon``) engages, it drops pyspark.zip
and py4j from the path, but the spark-core jar and any ``--py-files`` zips
stay; where it does not (another master, no matching installed pyspark),
all of them stay. Either way the guard still pays.
"""

import os
import sys
import zipimport

_stamps = {}  # archive path -> (st_mtime_ns, st_size) when last read


def _invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is None or files is None or _stamps.get(self.archive) != stamp:
        _reread(self)
        _stamps[self.archive] = stamp
    else:
        # unchanged: share the directory last read, possibly by another
        # importer into this archive
        self._files = files


if sys.version_info < (3, 12):
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
