"""PySpark worker daemon that keeps zip import directories across tasks.

Every Python task (a UDF or ``mapInArrow`` evaluation) starts in
``pyspark.worker_util.setup_spark_files``, which calls
``importlib.invalidate_caches()``. Before CPython 3.13,
``zipimport.zipimporter.invalidate_caches`` re-reads the archive's whole
central directory, once per zipimporter on the worker's import path. A
local worker imports pyspark from ``pyspark.zip`` (~1,300 entries) and
the spark-core jar (~5,400 entries), through about 16 zipimporters, so
each task paid ~0.17 s of CPU (CPython 3.11) before any of its own code ran.

``install`` makes that re-read conditional: an archive whose
(mtime, size, inode) is the same as when its directory was last read
keeps the cached directory, and a changed archive is still re-read.
CPython 3.13 drops the cache instead and re-reads it lazily, once per
archive, so there ``install`` leaves ``zipimport`` untouched.

Run as ``spark.python.daemon.module``: the module patches, primes the
stamps once in the daemon so every forked worker inherits them, then
hands over to ``pyspark.daemon.manager()``. ``session.get_spark`` sets it
for ``local[...]`` masters.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stamp(archive: str) -> tuple[int, int, int]:
    st = os.stat(archive)
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def install() -> bool:
    """Patch ``zipimporter.invalidate_caches`` to skip unchanged archives.

    Returns whether the patch is (now) in place; idempotent.
    """
    if sys.version_info >= (3, 13):
        return False
    cls = zipimport.zipimporter
    if getattr(cls.invalidate_caches, "keeps_unchanged_archives", False):
        return True
    reread = cls.invalidate_caches
    cache = zipimport._zip_directory_cache
    # archive -> its stamp taken just before its directory was last read,
    # so a rewrite during the read still differs at the next call
    stamps: dict[str, tuple[int, int, int]] = {}

    def invalidate_caches(self):
        try:
            stamp = _stamp(self.archive)
        except OSError:
            stamp = None
        files = cache.get(self.archive)
        if stamp is not None and files is not None and stamps.get(self.archive) == stamp:
            self._files = files
            return
        reread(self)
        if stamp is not None:
            stamps[self.archive] = stamp

    invalidate_caches.keeps_unchanged_archives = True
    cls.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    install()
    # pyspark.daemon imports the worker module named in sys.argv[1]
    from pyspark import daemon

    # read each archive's directory once here, so forked workers start
    # with every stamp set
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
