"""The Python worker daemon of every engine session.

Spark forks each Python worker (UDFs, pandas/Arrow UDFs, Python data-source
reads, ``applyInPandasWithState``) from one daemon process per executor;
``session.get_session`` names this module as that daemon
(``spark.python.daemon.module``). Before a worker reads its first row,
``pyspark.worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``.
On CPython 3.11 that makes every cached ``zipimport.zipimporter`` re-read the
whole directory of its archive, once per importer: a ``mapInPandas`` worker
holds 16 importers over ``pyspark.zip`` (1328 entries), and on a 4-core host
the call took 130-200 ms, 0.2-0.6 s per task in ``setup_spark_files``.

This module makes that re-read conditional: an importer re-reads its archive
only when the file's ``(st_mtime_ns, st_size)`` differs from the stamp taken
when the cached directory was read, so an unchanged archive costs one
``os.stat`` and a rewritten one is still picked up. The patch is installed in
the daemon before it forks, so every worker inherits it. The daemon then runs
pyspark's own loop, which reads the worker module from ``sys.argv[1]``. The
code relies on CPython 3.11's pure-Python ``zipimport`` (``_read_directory``,
``_zip_directory_cache`` and the importer's ``_files``).

Run as ``python -m samza_spark.worker_daemon [worker_module]``.
"""

from __future__ import annotations

import os
import zipimport

# archive path -> (st_mtime_ns, st_size) taken just before its cached
# directory (``zipimport._zip_directory_cache[archive]``) was read
_stamps: dict[str, tuple[int, int]] = {}


def _stamp(archive: str) -> tuple[int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _directory(archive: str) -> dict:
    """The archive's cached directory, re-read (and re-stamped) only when the
    archive changed since it was read; ``{}`` for an unreadable archive."""
    cache = zipimport._zip_directory_cache
    stamp = _stamp(archive)
    if stamp is not None and stamp == _stamps.get(archive) and archive in cache:
        return cache[archive]
    _stamps.pop(archive, None)
    try:
        files = cache[archive] = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        cache.pop(archive, None)
        return {}
    if stamp is not None:
        _stamps[archive] = stamp
    return files


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's directory
    only when the archive changed since the cached directory was read."""
    self._files = _directory(self.archive)


def install() -> None:
    """Patch ``zipimport.zipimporter`` and stamp every archive already cached,
    re-reading each once so its stamp is no older than its directory."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for archive in list(zipimport._zip_directory_cache):
        _directory(archive)


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
