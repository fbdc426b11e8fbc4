"""Python worker daemon for local sessions (``spark.python.daemon.module``).

Runs ``pyspark.daemon.manager()`` unchanged after one patch, which the
forked workers inherit: ``zipimport.zipimporter.invalidate_caches``
re-reads an archive's central directory only when the archive's
``(st_ino, st_size, st_mtime_ns)`` stamp changed since the last read.

Why: every Python task calls ``importlib.invalidate_caches()`` in
``worker_util.setup_spark_files``. Workers import pyspark from
``pyspark.zip``; under CPython 3.11 each of the ~16 zip importers over
it re-parses the whole directory (~27k entries) on every invalidate,
150-400 ms per task for an archive that does not change. CPython 3.12
makes that repopulation lazy (gh-103200). An archive whose ``stat``
fails gets the stock method.
"""

from __future__ import annotations

import os
import zipimport

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive -> stamp of its last directory read; per process, like
# zipimport's own module-level _zip_directory_cache it guards
_stamps: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(self) -> None:
    """Stamp-checked ``zipimporter.invalidate_caches``: rebind the
    cached directory when the archive is unchanged, re-read it
    otherwise."""
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate_caches(self)
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _stock_invalidate_caches(self)  # on a failed read it drops the cache entry
    if self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp


def main() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # argv[1] names the worker module for pyspark.daemon, read at import
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    # run under the package name, so workers report this module as the
    # patch's ``__module__`` rather than ``__main__``
    from gelos_spark.worker_daemon import main as _main

    _main()
