"""Spark's Python worker daemon with zip importers that re-read an archive
only when it changed.

Before every task, a Python worker calls ``importlib.invalidate_caches()``.
On Python 3.11 each ``zipimporter`` then re-reads its archive's whole
central directory, and a warm worker holds about 16 importers over
``pyspark.zip`` (3.5 MB, 1,328 entries). That costs about 0.25 s of CPU
per task, whatever the task's size. Run as ``spark.python.daemon.module``
(``session.get_spark`` sets it for local masters), this module installs
``invalidate_caches`` below and then starts ``pyspark.daemon``. Every
forked worker inherits the patch.

``python -m`` runs the package ``__init__`` first, so the daemon forks
with numpy, pandas and pyarrow imported (but unused). Stock
``pyspark.daemon`` already forks with numpy imported.
"""

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_stamps = {}  # archive path -> (st_mtime_ns, st_size) when last read


def invalidate_caches(self):
    """Re-read the archive when its ``(mtime_ns, size)`` stamp changed or
    ``stat`` fails, as ``FileFinder`` does for directories; otherwise share
    the directory already read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)  # a failed read drops the archive from the cache
    _stamps[self.archive] = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    from pyspark import daemon

    daemon.manager()
