"""Python worker daemon of the engine's Spark sessions.

``get_spark`` selects it through Spark's ``spark.python.daemon.module``
conf; Spark starts it as ``python -m hdfe_spark._pyworker``.

Every Python task runs pyspark's ``setup_spark_files``, which calls
``importlib.invalidate_caches()``. On CPython < 3.13 that makes every
``zipimport.zipimporter`` re-read its whole archive directory, changed or
not. A worker holds about a dozen importers on ``pyspark.zip`` (~1.3k
entries) and two on the Spark core jar (~5.4k), so each task paid ~0.2 s.
CPython 3.13 no longer re-reads eagerly. This daemon backports that on
older versions: each directory read records the archive's ``os.stat``
stamp ``(st_mtime_ns, st_size, st_ino)`` taken just before it, and an
importer re-reads only when the archive's stamp has changed since; an
unchanged archive hands the importer the directory of its last read. A
stat error falls back to the stdlib re-read. The patch goes in before
the daemon forks, so every worker inherits it. Then the module runs
``pyspark.daemon.manager()``. Running under ``-m`` also imports the
``hdfe_spark`` package (and with it numpy, pandas and pyarrow) in the
daemon before it forks. That costs the daemon ~0.5 s at start; whether
forked workers gain anything from it has not been measured.
"""

import importlib
import os
import sys
import zipimport


def _stamp(path: str) -> tuple:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Re-read a zip archive's directory on ``invalidate_caches()`` only
    when the archive changed (CPython < 3.13; a no-op on 3.13+)."""
    if sys.version_info >= (3, 13):
        return
    read, reread = zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    last = {}  # archive -> (stamp before its last read, the directory read)

    def _read_directory(archive):
        last.pop(archive, None)
        try:
            stamp = _stamp(archive)
        except OSError:
            return read(archive)  # raises the stdlib's ZipImportError
        files = read(archive)
        last[archive] = stamp, files
        return files

    def invalidate_caches(self):
        seen = last.get(self.archive)
        try:
            fresh = seen is not None and seen[0] == _stamp(self.archive)
        except OSError:
            fresh = False
        if not fresh:
            return reread(self)
        self._files = zipimport._zip_directory_cache[self.archive] = seen[1]

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # Importers made before the patch have no recorded read: give them one.
    importlib.invalidate_caches()


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
