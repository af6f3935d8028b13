"""Python workers start from cached pyspark bytecode
(``mriya_spark._zipcache`` code cache, loaded before pyspark by
``mriya_spark/_workerboot/sitecustomize.py``)."""

from __future__ import annotations

import marshal
import os
import subprocess
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from mriya_spark import _zipcache

BOOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "mriya_spark", "_workerboot",
)


def _write_zip(path, src: str) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr("zcmod.py", src)


@pytest.fixture
def probe(tmp_path):
    """``(archive, cache_dir, fresh, compiles)``: ``fresh()`` is a new
    process's view of the cache (a new wrapper over a counting stock
    compile), and ``compiles`` lists every stock compile."""
    archive = str(tmp_path / "zc.zip")
    _write_zip(archive, "X = 1\n")
    cache = str(tmp_path / "cache" / "zipcode")
    compiles = []
    stock = zipimport._get_module_code.__wrapped__

    def counting(self, fullname):
        compiles.append(fullname)
        return stock(self, fullname)

    def fresh():
        return _zipcache._cached(counting, cache)

    return archive, cache, fresh, compiles


def _run(get_module_code, archive) -> dict:
    code, ispackage, modpath = get_module_code(zipimport.zipimporter(archive), "zcmod")
    assert not ispackage and modpath == os.path.join(archive, "zcmod.py")
    ns: dict = {}
    exec(code, ns)
    return ns


def _entry(cache) -> str:
    (name,) = [n for n in os.listdir(cache) if not n.endswith(".tmp")]
    return os.path.join(cache, name)


def test_code_is_compiled_once_per_archive_version(probe):
    archive, cache, fresh, compiles = probe
    first = fresh()
    assert _run(first, archive)["X"] == 1
    assert _run(first, archive)["X"] == 1  # get_filename, then get_code
    assert compiles == ["zcmod"]
    assert oct(os.stat(cache).st_mode & 0o777) == "0o700"

    assert _run(fresh(), archive)["X"] == 1  # another process: read back
    assert compiles == ["zcmod"]

    _write_zip(archive, "X = 22\n")  # a rewritten archive recompiles
    assert _run(fresh(), archive)["X"] == 22
    assert compiles == ["zcmod", "zcmod"]


@pytest.mark.parametrize("damage", ["corrupt", "foreign_magic", "truncated"])
def test_unreadable_entry_falls_back_to_stock_compile(probe, damage):
    archive, cache, fresh, compiles = probe
    _run(fresh(), archive)
    path = _entry(cache)
    with open(path, "rb") as fh:
        data = fh.read()
    data = {
        "corrupt": data[:4] + b"\x00garbage" * 8,
        "foreign_magic": (int.from_bytes(data[:2], "little") + 1).to_bytes(2, "little")
        + data[2:],
        "truncated": data[: len(data) // 2],
    }[damage]
    with open(path, "wb") as fh:
        fh.write(data)
    assert _run(fresh(), archive)["X"] == 1
    assert compiles == ["zcmod", "zcmod"]


def test_untrusted_cache_dir_is_never_read(probe):
    """An entry is code the worker runs: an entry is read only from a
    directory that no one else can write."""
    archive, cache, fresh, compiles = probe
    _run(fresh(), archive)
    path = _entry(cache)
    with open(path, "rb") as fh:
        key = marshal.loads(fh.read()[4:])[0]
    modpath = os.path.join(archive, "zcmod.py")
    planted = _zipcache._MAGIC + marshal.dumps(
        (key, compile("X = 666\n", modpath, "exec"), False, modpath)
    )
    with open(path, "wb") as fh:
        fh.write(planted)
    assert _run(fresh(), archive)["X"] == 666  # a well-formed entry is read

    os.chmod(cache, 0o770)
    try:
        assert _run(fresh(), archive)["X"] == 1
        assert compiles == ["zcmod", "zcmod"]
        with open(path, "rb") as fh:
            assert fh.read() == planted  # nor written
    finally:
        os.chmod(cache, 0o700)


def test_unstatable_archive_uses_stock_compile(probe, tmp_path):
    archive, cache, fresh, compiles = probe
    wrapped = fresh()
    importer = zipimport.zipimporter(archive)
    os.rename(archive, str(tmp_path / "moved.zip"))
    with pytest.raises((OSError, ImportError)):
        wrapped(importer, "zcmod")  # the stock compile's own error
    assert compiles == ["zcmod"]
    assert not os.path.isdir(cache)


def test_boot_hook_installs_once_and_chains_the_next_sitecustomize(tmp_path):
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text(
        "import os\nos.environ['ZC_CHAINED'] = 'ran'\n"
    )
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join([BOOT, str(other)]),
        "MRIYA_SPARK_CACHE_DIR": str(tmp_path / "cache"),
    }
    script = (
        "import os, sys, zipimport\n"
        "before = zipimport._get_module_code\n"
        f"sys.path.insert(0, {os.path.dirname(os.path.dirname(BOOT))!r})\n"
        "import mriya_spark._zipcache\n"
        "print(os.environ.get('ZC_CHAINED'), sys.modules['sitecustomize'].__file__,"
        " zipimport._get_module_code.__module__, zipimport._get_module_code is before)\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], env=env, capture_output=True, text=True,
        check=True,
    ).stdout.split()
    assert out == [
        "ran", os.path.join(BOOT, "sitecustomize.py"), "mriya_spark._zipcache", "True",
    ]


def test_cache_root_matches_the_package(monkeypatch, tmp_path):
    """``_zipcache`` repeats ``cachedir.cache_root`` (a worker loads it
    before the package); the two must agree."""
    from mriya_spark import cachedir

    monkeypatch.delenv(cachedir._ENV_VAR, raising=False)
    assert _zipcache.cache_root() == cachedir.cache_root()
    monkeypatch.setenv(cachedir._ENV_VAR, str(tmp_path))
    assert _zipcache.cache_root() == cachedir.cache_root() == str(tmp_path)


def test_no_get_module_code_means_no_wrap(monkeypatch):
    monkeypatch.delattr(zipimport, "_get_module_code")
    _zipcache._install_code_cache()
    assert not hasattr(zipimport, "_get_module_code")


def test_session_puts_the_boot_hook_on_the_worker_path(spark):
    got = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert got.split(os.pathsep)[0] == BOOT


EXPECTED = "mriya_spark._zipcache|" + os.path.join(BOOT, "sitecustomize.py")


def test_udf_worker_boots_with_the_code_cache(spark):
    from pyspark.sql import functions as F

    def report() -> str:
        return f"{zipimport._get_module_code.__module__}|{sys.modules['sitecustomize'].__file__}"

    @F.pandas_udf("string")
    def boot(s: pd.Series) -> pd.Series:
        return s.map(lambda _: report())

    got = {
        r.b for r in spark.range(4, numPartitions=2)
        .select(boot(F.col("id").cast("string")).alias("b")).collect()
    }
    assert got == {EXPECTED}


def test_connector_planner_workers_boot_with_the_code_cache(spark, tmp_path):
    """The pushdown and plan-read planner calls of a ``salesforce_mock``
    read each run in their own Python daemon; both, and the executor
    that reads the page, report the hook."""
    from pyspark.sql import functions as F
    from pyspark.sql.datasource import InputPartition

    from mriya_spark.connector.salesforce import (
        SalesforceMockDataSource,
        SalesforceMockReader,
    )

    def report() -> str:
        return f"{zipimport._get_module_code.__module__}|{sys.modules['sitecustomize'].__file__}"

    class Seen(InputPartition):
        def __init__(self, seen):
            self.seen = seen

    class Reader(SalesforceMockReader):
        def pushFilters(self, filters):
            self.seen = {"pushdown": report()}
            return super().pushFilters(filters)

        def partitions(self):
            return [Seen({**getattr(self, "seen", {}), "plan_read": report()})]

        def read(self, partition):
            yield from {**partition.seen, "read": report()}.items()

    class Source(SalesforceMockDataSource):
        @classmethod
        def name(cls):
            return "salesforce_mock_bootprobe"

        def reader(self, schema):
            return Reader(schema, self.options)

    spark.dataSource.register(Source)
    rows = (
        spark.read.format("salesforce_mock_bootprobe")
        .schema("stage string, got string")
        .option("org_dir", str(tmp_path))
        .option("object", "Account")
        .load()
        .filter(F.col("stage") != "none")
        .collect()
    )
    assert {r.stage: r.got for r in rows} == dict.fromkeys(
        ["pushdown", "plan_read", "read"], EXPECTED
    )
