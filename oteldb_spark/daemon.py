"""PySpark daemon of the engine's Python workers.

``session.get_spark`` sets ``spark.python.daemon.module`` to this
module, so every Python worker (the OTLP wire decode, the pandas-UDF
operators) is forked from here.  Before each task PySpark's
``setup_spark_files`` calls ``importlib.invalidate_caches()``, and on
CPython < 3.13 every ``zipimporter`` answers by re-reading its whole
archive directory: about 16 importers over ``pyspark.zip`` (1,328
entries) per task, 8.1 s of 9.8 s of worker time under cProfile in a
perfbench ingest run on 4 vCPUs.  CPython 3.13 made that re-read lazy.

Here an archive is re-read only when its ``(st_mtime_ns, st_size)``
changed since its last read, so one rewritten, or added with
``addPyFile``, is still read afresh.  Run as
``python -m oteldb_spark.daemon``: install the replacement, read each
archive once so the forked workers inherit its directory, then serve
``pyspark.daemon.manager()``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> bool:
    """Replace ``zipimporter.invalidate_caches`` with one that re-reads
    an archive only when it changed; False (and nothing replaced) on
    CPython >= 3.13 or when already installed.  The replacement carries
    ``rereads_on_change = True``."""
    reread = zipimport.zipimporter.invalidate_caches
    if sys.version_info >= (3, 13) or getattr(reread, "rereads_on_change", False):
        return False
    # archive -> (mtime_ns, size) taken just before its last read: a
    # write during the read shows as a changed key on the next call
    read_at: dict[str, tuple[int, int] | None] = {}

    def invalidate_caches(self) -> None:
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = key

    invalidate_caches.rereads_on_change = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    return True


def main() -> None:
    install()
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()


if __name__ == "__main__":
    main()
