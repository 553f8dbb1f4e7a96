"""Python worker daemon: ``pyspark.daemon`` with zip directories re-read
only when the archive changed.

Every Python task starts with ``pyspark.worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  On CPython before 3.13,
``zipimporter.invalidate_caches()`` re-reads the archive's whole central
directory, once per cached importer: ``pyspark.zip`` (~1,300 entries) has
one importer per imported sub-package (14 once ``pyspark.worker`` is
loaded), so every task paid ~125 ms of CPU before reading a row (CPython
3.11, Xeon VM; ~0.1 ms with the patch below).  CPython 3.13 made the re-read lazy.  Here a
directory is re-read only when the archive's ``(mtime_ns, size, inode)``
differs from when it was last read, so an archive rewritten in place is
still re-read.

``session.get_session`` names this module as ``spark.python.daemon.module``.
Workers import this package anyway (the engine's kernels are pickled by
reference to it), so the daemon adds no deployment requirement.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Patch ``zipimport`` so ``invalidate_caches`` skips unchanged
    archives.  A no-op from CPython 3.13 on."""
    if sys.version_info >= (3, 13):
        return
    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches
    # archive path -> its stamp taken just before its directory was last read
    read_stamps: dict[str, tuple[int, int, int] | None] = {}

    def _read_directory(archive):
        stamp = _stamp(archive)
        files = read_directory(archive)
        read_stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamp(self.archive)
        if files is not None and stamp is not None and stamp == read_stamps.get(self.archive):
            self._files = files
        else:
            reread(self)

    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def main() -> None:
    install()
    # directories read before install() carry no stamp: read each archive
    # once here, so forked workers inherit stamped directories
    importlib.invalidate_caches()
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
