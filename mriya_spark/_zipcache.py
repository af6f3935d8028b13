"""Make ``importlib.invalidate_caches()`` cheap for unchanged zip archives.

PySpark's Python workers call ``importlib.invalidate_caches()`` at the
start of every task and of every Python data-source planner call
(``pyspark.worker_util.setup_spark_files``). On CPython <= 3.12 each
``zipimporter`` on ``sys.path_importer_cache`` then re-reads its
archive's central directory. Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (~1,300 entries) through ~17
importers, so every call paid ~17 full re-reads (0.15-0.25 s of CPU).

The wrapper below re-reads only when the archive's ``(st_mtime_ns,
st_size)`` differs from its last successful read, or when it cannot be
stat'ed; a rewritten archive is still re-read and a new ``--py-files``
zip still gets its own importer. The importers on one archive share
that read, as they share ``zipimport._zip_directory_cache``, so a warm
worker reads each archive once, not once per importer. Every process that runs library code imports
``mriya_spark`` (driver, UDF workers, data-source planner workers), and
the package imports this module first. On 3.13+ the stock method only
drops a cache entry and is left alone.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _install() -> None:
    stock = zipimport.zipimporter.invalidate_caches
    if stock.__module__ == __name__:  # already wrapped (re-import, reload)
        return
    read_at: dict = {}  # archive -> ((st_mtime_ns, st_size), files)

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            read_at.pop(self.archive, None)
            return stock(self)
        stamp = (st.st_mtime_ns, st.st_size)
        seen = read_at.get(self.archive)
        if seen is not None and seen[0] == stamp:
            self._files = seen[1]
            return
        stock(self)  # stat before the read: a concurrent rewrite re-reads
        if self._files:  # a failed read leaves {}: retry it, as stock does
            read_at[self.archive] = (stamp, self._files)

    invalidate_caches.__wrapped__ = stock
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if sys.version_info < (3, 13):
    _install()
