"""Python-worker daemon: ``pyspark.daemon`` without a per-task re-read of
every zip archive on ``sys.path``.

Every Python task starts in ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``. On CPython 3.10–3.12 that
calls ``zipimport.zipimporter.invalidate_caches`` on each cached
importer, and each call re-reads its archive's central directory.
Workers import pyspark from ``pyspark.zip`` (1,328 entries), cached
under 16 importers, so each task paid about 250 ms of re-reads against a
few ms of task work. CPython 3.13 reads the directory lazily, and there
this module only runs the stock daemon.

:func:`install` makes ``invalidate_caches`` re-read an archive only when
it is new or its ``(st_mtime_ns, st_size)`` changed since its last read,
so a rewritten ``addPyFile`` archive is still picked up (a same-size
rewrite within the file system's timestamp granularity is not; CPython's
own source finder has the same limit). The daemon installs it before it
forks, so every worker inherits it. ``session.get_session`` names this
module as ``spark.python.daemon.module``. It imports nothing else from
the engine.
"""

import os
import sys
import zipimport

#: ``(st_mtime_ns, st_size)`` of each archive, taken just before its
#: last successful directory read
_stamps: dict = {}
#: the stock ``zipimport`` functions, once :func:`install` replaced them
_read = _invalidate = None


def _stamp(archive: str) -> tuple:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def _read_directory(archive):
    try:
        stamp = _stamp(archive)
    except OSError:
        stamp = None  # the read below fails the same way
    files = _read(archive)
    _stamps[archive] = stamp
    return files


def _invalidate_caches(self) -> None:
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None:
        try:
            if _stamps.get(self.archive) == _stamp(self.archive):
                self._files = files
                return
        except OSError:
            pass  # gone: the stock method drops it from the cache
    _invalidate(self)


def install() -> None:
    """Patch ``zipimport`` in this process (idempotent; a no-op on
    CPython 3.13 and later)."""
    global _read, _invalidate
    if sys.version_info >= (3, 13) or _read is not None:
        return
    _read, _invalidate = zipimport._read_directory, zipimport.zipimporter.invalidate_caches
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    # archives read before the patch carry no stamp: read each once
    # more here rather than once in every forked worker
    for archive in list(zipimport._zip_directory_cache):
        try:
            zipimport._zip_directory_cache[archive] = _read_directory(archive)
        except (OSError, zipimport.ZipImportError):
            pass


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
