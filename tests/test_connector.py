import shutil
import uuid

import pytest
from pyspark.sql import functions as F

from mriya_spark.connector.salesforce import (
    CUSTOMER_DDL,
    DML_CHUNK_SIZE,
    MockTransport,
    SalesforceMockDataSource,
    read_object,
    seed_org_from_parquet,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def org(spark, tmp_path):
    spark.dataSource.register(SalesforceMockDataSource)
    org_dir = str(tmp_path / "org")
    seed_org_from_parquet(spark, org_dir, "Account", f"{SF}/customer.parquet")
    return org_dir


def test_scan_values_match_parquet(spark, org, catalog):
    got = read_object(spark, org, "Account", CUSTOMER_DDL)
    expected = catalog.table("customer")
    assert got.count() == expected.count()
    assert got.exceptAll(expected.select(*got.columns)).count() == 0


def test_filter_pushdown_reaches_transport(spark, org):
    df = read_object(spark, org, "Account", CUSTOMER_DDL, page_size=40)
    n = df.filter((F.col("c_acctbal") > 5000) & (F.col("c_nationkey") < 10)).count()
    assert n > 0
    pages = [c for c in MockTransport(org).calls() if c["op"] == "query_page"]
    pushed_cols = {f["col"] for f in pages[-1]["filters"]}
    assert {"c_acctbal", "c_nationkey"} <= pushed_cols
    # pagination: each page bounded by page_size
    assert all(p["limit"] == 40 for p in pages)


def test_unsupported_filter_handed_back(spark, org):
    df = read_object(spark, org, "Account", CUSTOMER_DDL)
    # endswith is not translated -> Spark must evaluate it post-scan
    n = df.filter(F.col("c_name").endswith("1")).count()
    expected = spark.read.parquet(f"{SF}/customer.parquet").filter(
        F.col("c_name").endswith("1")
    ).count()
    assert n == expected


def test_isin_pushdown(spark, org):
    df = read_object(spark, org, "Account", CUSTOMER_DDL)
    assert df.filter(F.col("c_custkey").isin([1, 2, 3])).count() == 3
    pages = [c for c in MockTransport(org).calls() if c["op"] == "query_page"]
    ops = {f["op"] for f in pages[-1]["filters"]}
    assert "in" in ops


def test_write_chunks_bounded(spark, org):
    src = read_object(spark, org, "Account", CUSTOMER_DDL)
    dst = org + f"/../dst_{uuid.uuid4().hex[:6]}"
    (
        src.write.format("salesforce_mock")
        .mode("append")
        .option("org_dir", dst)
        .option("object", "Out")
        .save()
    )
    calls = MockTransport(dst).calls()
    inserts = [c for c in calls if c["op"] == "insert"]
    assert inserts and all(c["n_rows"] <= DML_CHUNK_SIZE for c in inserts)
    commit = [c for c in calls if c["op"] == "commit"][-1]
    assert commit["n_rows"] == src.count()
    shutil.rmtree(dst, ignore_errors=True)


def test_overwrite_mode_rejected(spark, org):
    src = read_object(spark, org, "Account", CUSTOMER_DDL)
    with pytest.raises(Exception, match="append-only"):
        (
            src.write.format("salesforce_mock")
            .mode("overwrite")
            .option("org_dir", org)
            .option("object", "Account")
            .save()
        )


def test_fresh_load_isolates_pushdown(spark, org):
    # upstream gotcha: pushed filters stick to a reused DataFrame's plan
    n_filtered = read_object(spark, org, "Account", CUSTOMER_DDL).filter(
        "c_acctbal > 5000"
    ).count()
    n_full = read_object(spark, org, "Account", CUSTOMER_DDL).count()
    assert n_full > n_filtered


def test_read_object_leaves_pushdown_conf_alone(spark, org):
    """With pushdown off, ``read_object`` does not switch it on: Spark
    evaluates the filter over every page and returns the same rows."""
    key = "spark.sql.python.filterPushdown.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = read_object(spark, org, "Account", CUSTOMER_DDL, page_size=40).filter(
            F.col("c_acctbal") > 5000
        )
        expected = spark.read.parquet(f"{SF}/customer.parquet").filter(
            F.col("c_acctbal") > 5000
        )
        assert got.count() == expected.count() > 0
        assert got.exceptAll(expected.select(*got.columns)).count() == 0
        assert spark.conf.get(key) == "false"
        pages = [c for c in MockTransport(org).calls() if c["op"] == "query_page"]
        assert pages and not any(p["filters"] for p in pages)
    finally:
        spark.conf.set(key, before)


def test_stream_reader_pages_incrementally(spark, tmp_path):
    """The DSv2 stream reader must page the org in offset-sized
    micro-batches (queryMore-cursor shape): every wire call carries
    the batch limit, offsets advance monotonically, and the sink sees
    every row exactly once."""
    from mriya_spark import streaming as S
    from mriya_spark.connector.salesforce import (
        CUSTOMER_DDL,
        MockTransport,
        SalesforceMockDataSource,
        seed_org_from_parquet,
    )

    spark.dataSource.register(SalesforceMockDataSource)
    org = str(tmp_path / "org")
    seed_org_from_parquet(
        spark, org, "Account", "/root/testdata/sf0.001/customer.parquet"
    )
    stream = (
        spark.readStream.format("salesforce_mock")
        .schema(CUSTOMER_DDL)
        .option("org_dir", org)
        .option("object", "Account")
        .option("stream_batch_size", 60)
        .load()
    )
    out = S.run_until_idle(stream.select("c_custkey"))
    total = spark.read.parquet("/root/testdata/sf0.001/customer.parquet").count()
    got = [r.c_custkey for r in out.collect()]
    assert len(got) == total and len(set(got)) == total
    pages = [
        c for c in MockTransport(org).calls() if c["op"] == "query_page"
    ]
    offsets = [c["offset"] for c in pages]
    assert offsets == sorted(offsets)
    assert all(c["limit"] <= 60 for c in pages)
    assert len(pages) >= -(-total // 60)


def test_nested_schema_rejected_on_driver_before_job_launch():
    """r5 ADVICE: the flat-CSV wire can't carry nested types; the
    rejection must fire at reader CONSTRUCTION (driver side), not
    per-task on executors after a job already launched."""
    from pyspark.sql.types import StructType

    from mriya_spark.connector.salesforce import (
        SalesforceMockReader,
        SalesforceMockStreamReader,
    )

    nested = StructType.fromDDL("c_id long, tags array<string>")
    opts = {"org_dir": "/nonexistent", "object": "Account"}
    with pytest.raises(TypeError, match="flat CSV"):
        SalesforceMockReader(nested, opts)
    with pytest.raises(TypeError, match="flat CSV"):
        SalesforceMockStreamReader(nested, opts)


def test_paged_scan_uses_byte_cursors_not_full_reparse(spark, org):
    """Scale shape: partitions() computes one byte-cursor index pass
    (≙ queryLocator), and every page read seeks to its start_byte —
    the old offset-slicing re-parsed the whole object per partition
    (O(pages x rows))."""
    df = read_object(spark, org, "Account", CUSTOMER_DDL, page_size=40)
    n = df.filter(F.col("c_acctbal") > 5000).count()
    assert n > 0
    calls = MockTransport(org).calls()
    idx = [c for c in calls if c["op"] == "page_index"]
    assert idx and idx[-1]["page_size"] == 40
    assert {f["col"] for f in idx[-1]["filters"]} == {"c_acctbal"}
    pages = [c for c in calls if c["op"] == "query_page"]
    assert pages and all("start_byte" in p for p in pages)
    # cursors are strictly increasing: distinct non-overlapping slices
    sb = [p["start_byte"] for p in sorted(pages, key=lambda p: p["offset"])]
    assert sb == sorted(sb) and len(set(sb)) == len(sb)


def test_stale_byte_cursor_falls_back_to_offset_paging(org):
    """r6 ADVICE: byte cursors are computed at planning time; if the
    org file is rewritten before an executor's read (concurrent DML),
    seeks would land mid-line and return garbled rows. The read must
    detect the stale fingerprint and fall back to offset paging
    against the current file."""
    t = MockTransport(org)
    index = t.page_index("Account", [], 40)
    assert index and index[1]["start_byte"] > 0
    pg = index[1]
    fresh = t.query_page(
        "Account", ["c_custkey"], [], pg["offset"], 40,
        start_byte=pg["start_byte"], file_size=pg["file_size"],
        file_mtime_ns=pg["file_mtime_ns"],
    )
    # rewrite the org file: prepend one row, shifting every byte cursor
    import json as _json
    import os as _os

    p = _os.path.join(org, "Account.jsonl")
    with open(p) as f:
        lines = f.readlines()
    new_row = _json.loads(lines[0])
    new_row["c_custkey"] = -1
    with open(p, "w") as f:
        f.write(_json.dumps(new_row) + "\n")
        f.writelines(lines)
    stale = t.query_page(
        "Account", ["c_custkey"], [], pg["offset"], 40,
        start_byte=pg["start_byte"], file_size=pg["file_size"],
        file_mtime_ns=pg["file_mtime_ns"],
    )
    by_offset = t.query_page("Account", ["c_custkey"], [], pg["offset"], 40)
    assert stale == by_offset  # correct rows from the CURRENT file
    assert stale != fresh  # the prepended row shifted the page
    # and the stale call itself was logged as an offset read
    stale_call = [c for c in t.calls() if c["op"] == "query_page"][-2]
    assert "start_byte" not in stale_call
