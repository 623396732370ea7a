"""Keep zip archive directories across ``importlib.invalidate_caches()``."""

import importlib
import os
import sys
import zipimport


def keep_zip_directories() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read only changed archives.

    Applies to Python < 3.12 only; on 3.12 and later it does nothing,
    because gh-103200 made the re-read lazy there. Before 3.12 every call
    re-reads the whole central directory of the archive, once per
    ``zipimporter``. A PySpark worker calls ``importlib.invalidate_caches()``
    at the start of every task (``worker_util.setup_spark_files``), and its
    ``sys.path`` holds 14-16 zipimporters, most of them into ``pyspark.zip``
    (1,328 entries), so each Python task pays about 0.2 s before it runs
    any code.

    After the patch an archive's directory is re-read only when its
    ``(st_ino, st_size, st_mtime_ns, st_ctime_ns)`` differs from the one
    taken just before its last read, or when the stat fails. Otherwise the
    importer keeps the cached directory. A changed archive is re-read
    exactly as the stdlib does. Archives read before the patch have no key
    yet, so the patch ends with one ``importlib.invalidate_caches()``,
    which reads each of them once more and keys it.
    """
    read, invalidate = zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 12) or hasattr(invalidate, "__wrapped__"):
        return
    cache, keys = zipimport._zip_directory_cache, {}

    def stat_key(path):
        try:
            st = os.stat(path)
        except OSError:
            return object()  # a failed stat matches no recorded key
        return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)

    def read_directory(archive):
        keys[archive] = stat_key(archive)  # taken first: a write during the read changes it
        return read(archive)

    def invalidate_caches(self):
        files = cache.get(self.archive)
        if files is None or keys.get(self.archive) != stat_key(self.archive):
            return invalidate(self)
        self._files = files

    invalidate_caches.__wrapped__ = invalidate
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()
