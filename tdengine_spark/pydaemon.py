"""PySpark's worker daemon, with CPython 3.13's zip-directory caching.

Run as ``python -m tdengine_spark.pydaemon`` (``spark.python.daemon.module``,
set by ``session.get_spark`` for the local sessions it starts). It patches
``zipimport`` and then runs ``pyspark.daemon.manager()``; workers fork from
the daemon, so every task of every UDF inherits the patch.

Each Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.13 that makes
every zipimporter re-read its archive's whole directory: with pyspark
imported from ``$SPARK_HOME/python/lib/pyspark.zip`` (~1,300 entries) that
is ~16 full reads per task. CPython 3.13 only drops the cached directory,
so an unchanged archive is not re-read per task. This module reproduces
that: an importer re-reads its archive only when the archive's
``(st_mtime_ns, st_size)`` differs from when its directory was last read,
so a rewritten archive is still seen.
"""

from __future__ import annotations

import os
import sys
import zipimport

#: archive → (st_mtime_ns, st_size) taken just before its directory was read
_stamps: dict[str, tuple[int, int] | None] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _read_directory(archive, _read=zipimport._read_directory):
    stamp = _stamp(archive)
    files = _read(archive)
    _stamps[archive] = stamp
    return files


def _invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    files = zipimport._zip_directory_cache.get(self.archive)
    stamp = _stamp(self.archive)
    unchanged = stamp is not None and _stamps.get(self.archive) == stamp
    if files is not None and unchanged:
        self._files = files
    else:
        _reread(self)


def install() -> None:
    """Patch ``zipimport`` (Python < 3.13 only) and re-read, once, the
    archives already imported from, so that every cached directory has a
    stamp."""
    patched = zipimport._read_directory is _read_directory
    if sys.version_info >= (3, 13) or patched:
        return
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        try:
            zipimport._zip_directory_cache[archive] = _read_directory(archive)
        except zipimport.ZipImportError:
            zipimport._zip_directory_cache.pop(archive, None)


if __name__ == "__main__":
    install()
    from pyspark import daemon

    daemon.manager()
