"""Cut what a Python worker pays to import from zip archives.

PySpark's Python workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (~1,300 entries, sources only).
This module wraps two ``zipimport`` functions so that cost is paid once
per archive version, not once per task or per process.

**1. ``zipimporter.invalidate_caches``.** The workers call
``importlib.invalidate_caches()`` at the start of every task and of
every Python data-source planner call
(``pyspark.worker_util.setup_spark_files``). On CPython <= 3.12 each
``zipimporter`` on ``sys.path_importer_cache`` then re-reads its
archive's central directory, ~17 importers on pyspark.zip, so every
call paid ~17 full re-reads (0.15-0.25 s of CPU).

The wrapper re-reads only when the archive's ``(st_mtime_ns,
st_size)`` differs from its last successful read, or when it cannot be
stat'ed; a rewritten archive is still re-read and a new ``--py-files``
zip still gets its own importer. The importers on one archive share
that read, as they share ``zipimport._zip_directory_cache``, so a warm
worker reads each archive once, not once per importer. On 3.13+ the
stock method only drops a cache entry and is left alone.

**2. ``zipimport._get_module_code``, the one function behind
``get_code``, ``get_filename`` and ``load_module``.** A zip holds no
``.pyc`` here, and ``zipimport`` never caches a compile, so each module
is compiled twice per process: once in ``get_filename``, which
``find_spec`` calls to fill in the spec's origin, and once more in
``get_code``. On Spark 4.1 each kind of planner call (create,
pushdown, plan-read, write, commit) runs in its own Python daemon,
plus one daemon for UDFs, and each daemon spent 1.3-1.5 s importing
pyspark on 4 vCPU.

The wrapper memoizes ``(code, ispackage, modpath)`` in the process and
persists it under ``cache_root()/zipcode/``, one file per module:

- *Key*: the archive path, its ``st_mtime_ns`` and ``st_size``, the
  importer's prefix inside the archive, the module name and
  ``importlib.util.MAGIC_NUMBER``. A rewritten archive or another
  interpreter version gets a fresh compile.
- *Read*: an entry that is missing, corrupt, carries another magic
  number or another key falls back to the stock compile, as does an
  archive that cannot be stat'ed. Entries are written to a tmp file
  and moved in place with ``os.replace``, so a reader never sees half
  an entry.
- *Trust*: an entry is code this process will run. The cache is read
  and written only when its directory is owned by the effective uid
  and is neither group- nor other-writable; otherwise only the
  in-process memo is used.
- ``PYTHONDONTWRITEBYTECODE`` governs the ``__pycache__`` directories
  beside source files, not this library cache, which is written
  either way.

Entries of an archive that was since rewritten are never read again;
delete the directory to reclaim them. Where ``zipimport`` has no
``_get_module_code`` nothing is wrapped.

**Reaching the workers.** The package imports this module first, but
a daemon imports pyspark before it unpickles any library code. So
``mriya_spark/_workerboot/sitecustomize.py``, which ``get_spark`` puts
on the workers' ``PYTHONPATH``, loads this file by path (importing the
package would import pyspark first) and registers it as
``mriya_spark._zipcache``; the package's own import then reuses it and
nothing is wrapped twice. This file imports nothing from the package.
"""

from __future__ import annotations

import hashlib
import importlib.util
import marshal
import os
import sys
import zipimport

_MAGIC = importlib.util.MAGIC_NUMBER


def cache_root() -> str:
    """``mriya_spark.cachedir.cache_root``, repeated because a worker
    loads this file before the package may be imported."""
    return os.environ.get("MRIYA_SPARK_CACHE_DIR") or os.path.join(
        os.path.expanduser("~"), ".cache", "mriya_spark"
    )


def _trusted_dir(path: str) -> str | None:
    """``path``, created 0700 (its parent too) when missing, if it is
    owned by the effective uid and writable by no one else; else None."""
    try:
        os.makedirs(os.path.dirname(path), mode=0o700, exist_ok=True)
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.stat(path)
    except OSError:
        return None
    if st.st_uid != os.geteuid() or st.st_mode & 0o022:
        return None
    return path


def _cached(stock, directory: str):
    """``stock`` (``zipimport._get_module_code``'s signature) memoized
    in the process and persisted under ``directory``, which is checked
    and created on the first lookup."""
    memo: dict = {}
    trusted: list = []  # [directory or None] once checked

    def entry_path(key) -> str | None:
        if not trusted:
            trusted.append(_trusted_dir(directory))
        if trusted[0] is None:
            return None
        digest = hashlib.sha256(repr(key).encode()).hexdigest()[:32]
        return os.path.join(trusted[0], f"{key[4]}-{digest}")

    def load(path: str, key):
        try:
            with open(path, "rb") as fh:
                data = fh.read()
            if data[: len(_MAGIC)] != _MAGIC:
                return None
            got = marshal.loads(data[len(_MAGIC):])
        except (OSError, EOFError, ValueError, TypeError):
            return None
        if type(got) is not tuple or len(got) != 4 or got[0] != key:
            return None
        return got[1:]

    def store(path: str, key, result) -> None:
        tmp = f"{path}.{os.getpid()}.tmp"
        try:
            with open(tmp, "wb") as fh:
                fh.write(_MAGIC + marshal.dumps((key, *result)))
            os.replace(tmp, path)
        except (OSError, ValueError):
            try:
                os.remove(tmp)
            except OSError:
                pass

    def _get_module_code(self, fullname):
        try:
            st = os.stat(self.archive)
        except OSError:
            return stock(self, fullname)
        key = (self.archive, st.st_mtime_ns, st.st_size, self.prefix,
               fullname, _MAGIC)
        result = memo.get(key)
        if result is not None:
            return result
        path = entry_path(key)
        result = load(path, key) if path else None
        if result is None:
            result = stock(self, fullname)
            if path:
                store(path, key, result)
        memo[key] = result
        return result

    return _get_module_code


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


def _install_code_cache() -> None:
    stock = getattr(zipimport, "_get_module_code", None)
    if stock is None or stock.__module__ == __name__:
        return
    wrapped = _cached(stock, os.path.join(cache_root(), "zipcode"))
    wrapped.__wrapped__ = stock
    zipimport._get_module_code = wrapped


if sys.version_info < (3, 13):
    _install()
_install_code_cache()
