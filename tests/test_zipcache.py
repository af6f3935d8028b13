"""``importlib.invalidate_caches()`` must not re-read unchanged zip
archives (``mriya_spark._zipcache``), in the driver and in the Python
workers, where PySpark calls it once per task and planner call."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

_OLD_PY = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="3.13+ zipimporter.invalidate_caches is already lazy",
)


def _write_zip(path, files: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in files.items():
            z.writestr(name, src)


PKG = "zc_probe_pkg"
FILES = {
    f"{PKG}/__init__.py": "",
    f"{PKG}/a/__init__.py": "A = 1\n",
    f"{PKG}/b/__init__.py": "B = 2\n",
}


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding a package with two imported
    subpackages; yields ``(archive, reads, fail)``: ``reads`` lists each
    central-directory read of the archive, and every read raises while
    ``fail`` is not empty."""
    import mriya_spark  # noqa: F401  (installs the wrapper)

    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, FILES)
    reads, fail = [], []
    stock_read = zipimport._read_directory

    def counting_read(path):
        if path == archive:
            reads.append(path)
            if fail:
                raise zipimport.ZipImportError("injected", path=path)
        return stock_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(f"{PKG}.a").A == 1
        assert importlib.import_module(f"{PKG}.b").B == 2
        on_archive = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive
        ]
        assert len(on_archive) >= 2  # the root and the package importer
        yield archive, reads, fail
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]


@_OLD_PY
def test_invalidate_caches_skips_unchanged_archive(probe_zip):
    archive, reads, _ = probe_zip
    importlib.invalidate_caches()  # warm-up: reads the archive once
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []

    # a rewritten archive is re-read, and its new module imports
    _write_zip(archive, {**FILES, f"{PKG}/c.py": "C = 3\n"})
    importlib.invalidate_caches()
    assert reads
    assert importlib.import_module(f"{PKG}.c").C == 3


@_OLD_PY
def test_failed_read_is_retried(probe_zip):
    """A read that fails leaves the importers empty; the next call
    reads the unchanged archive again, as the stock method would."""
    _, reads, fail = probe_zip
    fail.append(True)
    importlib.invalidate_caches()
    fail.clear()
    reads.clear()
    importlib.invalidate_caches()
    assert len(reads) == 1  # one read, shared by the archive's importers
    for mod in ("a", "b"):
        del sys.modules[f"{PKG}.{mod}"]
    assert importlib.import_module(f"{PKG}.b").B == 2


@_OLD_PY
def test_install_is_idempotent():
    import mriya_spark._zipcache as zc

    wrapped = zipimport.zipimporter.invalidate_caches
    assert wrapped.__module__ == zc.__name__
    importlib.reload(zc)
    assert zipimport.zipimporter.invalidate_caches is wrapped
    assert wrapped.__wrapped__.__module__ == "zipimport"


@_OLD_PY
def test_python_workers_carry_the_wrapper(spark):
    """A library UDF reaches the worker by reference to a
    ``mriya_spark.ops`` function; unpickling it imports the package,
    whose ``__init__`` installs the wrapper in the worker."""
    from pyspark.sql import functions as F

    from mriya_spark.ops import text

    segment = text._merge_rank_segment

    @F.pandas_udf("string")
    def wrapper_module(s: pd.Series) -> pd.Series:
        assert segment("ab", {}) == ["a", "b"]
        return s.map(lambda _: zipimport.zipimporter.invalidate_caches.__module__)

    got = {
        r.m for r in spark.range(4, numPartitions=2)
        .select(wrapper_module(F.col("id").cast("string")).alias("m"))
        .collect()
    }
    assert got == {"mriya_spark._zipcache"}
