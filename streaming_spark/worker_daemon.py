"""Python worker daemon for Spark: ``pyspark.daemon`` with a cheap zipimport
cache invalidation.

Spark puts ``pyspark.zip`` first on the workers' path, and every task calls
``importlib.invalidate_caches()`` before it runs the UDF.  On CPython < 3.13
``zipimporter.invalidate_caches()`` re-parses the archive's whole central
directory (1,328 entries for pyspark 4.1) once per importer, and a warm
worker holds one importer per imported pyspark subpackage: 140-290 ms per
task on a 4-core box.  ``install()`` makes every importer of an archive
share one cached directory, as CPython 3.13 does (gh-103200), and re-reads
it only when the archive's stat changed: at most once per invalidation.
``get_spark`` makes this module the daemon (``spark.python.daemon.module``);
forked workers inherit the patch.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read = zipimport._read_directory
_cache = zipimport._zip_directory_cache
# archive path -> stat signature taken just before its directory was read
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def _read_directory(archive: str) -> dict:
    stamp = _stamp(archive)
    files = _read(archive)
    _stamps[archive] = stamp
    return files


def _files(self) -> dict:
    try:
        return _cache[self.archive]
    except KeyError:
        try:
            files = _cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            files = {}
        return files


def invalidate_caches(self) -> None:
    """Re-read the archive's directory if it changed since the last read."""
    stamp = _stamp(self.archive)
    if stamp is None or _stamps.get(self.archive) != stamp:
        try:
            _cache[self.archive] = zipimport._read_directory(self.archive)
        except zipimport.ZipImportError:
            _cache.pop(self.archive, None)


def install(version: tuple = sys.version_info) -> bool:
    """Patch ``zipimport.zipimporter``; False where it is already lazy."""
    cls = zipimport.zipimporter
    if version >= (3, 13) or hasattr(cls, "_get_files"):
        return False
    zipimport._read_directory = _read_directory
    # __init__ assigns self._files after caching the directory; reads
    # always go through the shared cache instead
    cls._files = property(_files, lambda self, files: None)
    cls.invalidate_caches = invalidate_caches
    return True


if __name__ == "__main__":
    # run as ``-m``, this file is ``__main__``: patch with the functions of
    # the importable module so workers can tell the patch is in place
    from streaming_spark.worker_daemon import install as _install

    _install()
    from pyspark.daemon import manager

    manager()
