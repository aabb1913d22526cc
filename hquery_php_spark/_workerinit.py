"""Skip the zip-directory re-read that each Python task's set-up asks for.

A Spark Python worker ends every task's set-up
(``pyspark.worker_util.setup_spark_files``) with
``importlib.invalidate_caches()``.  On CPython 3.11 that makes each
``zipimporter`` re-read its archive's whole central directory, and a
worker that has imported the engine holds about 16 of them over
``pyspark.zip``, the py4j zip and the spark-core jar: 100-250 ms per task
before the UDF is even unpickled.  Spark reuses its workers, so once one
task has imported this package, the next task's set-up reads each
archive through the guard and every task after it skips the re-read.

The guard re-points an importer at the directory this process already
read while the archive's (mtime, size, inode) stay as they were at that
read; a changed or vanished archive, or one the guard has not read yet,
gets the stock method.
"""

import os
import zipimport

_stock = zipimport.zipimporter.invalidate_caches
_read_at = {}  # archive path -> its stamp when this process last read it


def _stamp(path):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def invalidate_caches(self):
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _read_at.get(self.archive) == stamp:
        self._files = files
        return
    _stock(self)
    _read_at[self.archive] = stamp


zipimport.zipimporter.invalidate_caches = invalidate_caches
