"""PySpark worker daemon that stops every task re-reading zip archives.

Each Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.12,
``zipimport.zipimporter.invalidate_caches`` then re-reads the archive's
whole central directory once per zipimporter, and there is one
zipimporter per package imported from the archive: about 20 reads of
the 3.5 MB ``pyspark.zip`` that Spark puts first on the worker path,
120-210 ms per task on a 4-core box. CPython 3.12 made the re-read lazy
(gh-103200).

:func:`main` swaps in :func:`invalidate_caches`, which re-reads an
archive only when its ``(st_mtime_ns, st_size, st_ino)`` changed since
it was last read, then runs ``pyspark.daemon.manager()``. Workers are
forked from the daemon, so they inherit the patch. Spark starts it as
``python -m jane_spark.engine.pydaemon`` (``spark.python.daemon.module``,
pinned by ``engine.session.get_spark``). Importing the module patches
nothing, and on CPython 3.12 or newer the daemon is plain
``pyspark.daemon``. Delete the module once the runtime Python is 3.12
or newer.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# archive path -> stat signature taken just before its directory was
# last read into zipimport._zip_directory_cache; process-wide, like that
# cache, and inherited by the forked workers
_read_at: dict[str, tuple[int, int, int] | None] = {}


def _signature(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that keeps the cached directory
    of an archive whose stat signature is the one it was read at."""
    archive = self.archive
    sig = _signature(archive)
    cache = zipimport._zip_directory_cache
    if sig is not None and _read_at.get(archive) == sig and archive in cache:
        self._files = cache[archive]
        return
    try:
        self._files = zipimport._read_directory(archive)
    except zipimport.ZipImportError:
        cache.pop(archive, None)
        _read_at.pop(archive, None)
        self._files = {}
        return
    cache[archive] = self._files
    _read_at[archive] = sig


def main() -> None:
    import pyspark.daemon

    if sys.version_info < (3, 12):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        # read each archive once here, so forked workers start with a
        # current record and their first task skips the re-read too
        importlib.invalidate_caches()
    pyspark.daemon.manager()


if __name__ == "__main__":
    # run the copy imported under the package name, so workers see the
    # patch as jane_spark.engine.pydaemon.invalidate_caches
    from jane_spark.engine.pydaemon import main as _main

    _main()
