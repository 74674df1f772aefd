"""PySpark worker daemon that preloads the heavy Python libraries and
stops every task from re-reading the zip archives on ``sys.path``.

``pyspark.daemon`` forks one worker process per task slot; each FRESH
worker normally pays the numpy/pandas/pyarrow import on its first
batch (measured on the bench box: ~1.5 s user + ~3.0 s sys PER
PROCESS, so the first Arrow-UDF stage of a session costs ~3 s wall
across 32 workers before any real work happens — charged to whatever
operator runs first).

Importing the libraries HERE, in the daemon parent before the fork
loop starts, lets every forked worker inherit the fully initialized
modules through copy-on-write memory at ~zero cost (guide §4:
heavyweight init once per process, never per task).  Selected via
``spark.python.daemon.module`` in :mod:`gxdindexer_spark.session`;
behaviour after the preload is exactly ``pyspark.daemon`` — this
module delegates to its ``manager()`` loop.

Zip re-reads: every task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each
``zipimporter`` re-reads its archive's whole directory eagerly. The
workers import pyspark from ``pyspark.zip`` (1,328 entries) through 16
importers, so each task re-read that directory 16 times: a ~0.4 s
floor under every Python task on a 4-core box. :func:`guard_zip_rereads`
makes ``zipimporter.invalidate_caches`` re-read an archive only when
its ``(st_mtime_ns, st_size)`` differs from the last read, so a
rewritten archive is still picked up. The daemon installs it before
its fork loop, so every worker inherits it.

Best-effort by design: a worker environment without one of the
libraries just skips it (the engine's own UDFs would fail later
anyway if they actually needed it), and a worker environment where
this module is not importable at all should simply not set the conf
(see the PYTHONPATH guard in ``session.get_spark``).
"""

from __future__ import annotations

import importlib
import os
import zipimport


def _archive_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def guard_zip_rereads() -> None:
    """Skip ``zipimporter.invalidate_caches`` re-reads of unchanged
    archives.

    Each archive's directory read records the archive's key taken
    just before the read. ``invalidate_caches`` re-reads only when the
    current key differs (or the archive is gone); otherwise the
    importer takes the shared cached directory. Archives read before
    the guard was installed are re-read once here, so every key
    describes the directory actually cached.
    """
    keys: dict[str, tuple[int, int] | None] = {}
    read_directory = zipimport._read_directory
    invalidate = zipimport.zipimporter.invalidate_caches

    def _read_and_key(archive):
        key = _archive_key(archive)
        files = read_directory(archive)
        keys[archive] = key
        return files

    def invalidate_if_changed(self):
        key = _archive_key(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and keys.get(self.archive) == key and (
            cached is not None
        ):
            self._files = cached
            return
        # the stock method reads through the module global, i.e.
        # _read_and_key, which records the new key
        invalidate(self)

    zipimport._read_directory = _read_and_key
    zipimport.zipimporter.invalidate_caches = invalidate_if_changed
    importlib.invalidate_caches()


for _mod in (
    "numpy",
    "pandas",
    "pyarrow",
    "pyarrow.parquet",
    "pyspark.sql.pandas.serializers",
    "pyspark.sql.pandas.types",
):
    try:  # pragma: no cover - exercised in forked daemon, not pytest
        importlib.import_module(_mod)
    except Exception:
        pass

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    guard_zip_rereads()
    manager()
