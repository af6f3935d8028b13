import pytest
from pyspark.sql import functions as F

from mriya_spark.ops import relational as R


def test_project_prunes_scan(catalog):
    df = R.project(catalog.table("customer"), ["c_custkey", "c_name"])
    assert df.columns == ["c_custkey", "c_name"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "c_acctbal" not in plan  # pruned out of the scan


def test_filter_expr_pushdown(catalog):
    df = R.filter_expr(
        catalog.table("lineitem").select("l_orderkey", "l_quantity"),
        "l_quantity > 45",
    )
    assert df.count() > 0
    opt = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in opt and "l_quantity" in opt


def test_filter_isin_small_list(catalog):
    df = R.filter_isin(catalog.table("customer"), "c_custkey", [1, 2, 3])
    keys = {r.c_custkey for r in df.collect()}
    assert keys == {1, 2, 3}


def test_filter_isin_large_list_becomes_semijoin(catalog):
    big = list(range(R.ISIN_TO_SEMIJOIN_THRESHOLD + 5))
    df = R.filter_isin(catalog.table("customer"), "c_custkey", big)
    assert "Join LeftSemi" in df._jdf.queryExecution().optimizedPlan().toString()
    assert df.count() == catalog.table("customer").filter(
        F.col("c_custkey") <= big[-1]
    ).count()


def test_filter_isin_dataframe_values(catalog):
    ids = catalog.table("customer").filter("c_acctbal > 5000").select("c_custkey")
    df = R.filter_isin(catalog.table("orders"), "o_custkey", ids)
    assert df.count() > 0


def test_semi_anti_partition_orders(catalog):
    orders = catalog.table("orders")
    rich = (
        catalog.table("customer")
        .filter("c_acctbal > 5000")
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    semi = R.semi_join(orders, rich, "o_custkey").count()
    anti = R.anti_join(orders, rich, "o_custkey").count()
    assert semi + anti == orders.count()
    assert semi > 0 and anti > 0


def test_lookup_join_broadcasts(catalog):
    child = catalog.table("customer")
    parent = catalog.table("nation")
    out = R.lookup_join(
        child,
        parent,
        on=child["c_nationkey"] == parent["n_nationkey"],
        fields={"nation_name": parent["n_name"]},
    )
    assert "nation_name" in out.columns
    assert out.count() == child.count()  # left join keeps all children
    assert "BroadcastHashJoin" in out._jdf.queryExecution().executedPlan().toString()


def test_backfill_join(catalog):
    src = catalog.table("customer")
    created = src.select(
        F.col("c_custkey").alias("old_record_id"),
        F.concat(F.lit("DST-"), F.col("c_custkey")).alias("dst_id"),
    )
    out = R.backfill_join(
        src,
        created,
        src_key="c_custkey",
        created_src_key="old_record_id",
        backfill={"new_id": "dst_id"},
    )
    row = out.filter("c_custkey = 1").collect()[0]
    assert row.new_id == "DST-1"


def test_top_k_uses_take_ordered(catalog):
    df = R.top_k(
        catalog.table("orders"), [F.col("o_totalprice").desc(), "o_orderkey"], 10
    )
    assert "TakeOrderedAndProject" in df._jdf.queryExecution().executedPlan().toString()
    rows = df.collect()
    assert len(rows) == 10
    prices = [r.o_totalprice for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_set_ops(catalog):
    a = catalog.table("nation").filter("n_nationkey < 10")
    b = catalog.table("nation").filter("n_nationkey >= 5")
    assert R.union_all(a, b).count() == a.count() + b.count()
    assert R.union_distinct(a, b).count() == 25
    assert R.intersect(a, b).count() == 5
    assert R.except_(a, b).count() == 5


def test_salted_join_matches_plain_join(catalog):
    orders = catalog.table("orders").select("o_orderkey", "o_custkey")
    customers = catalog.table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    plain = orders.join(customers, on="o_custkey").select(
        "o_orderkey", "o_custkey", "c_name"
    )
    salted = R.salted_join(orders, customers, "o_custkey", salt_buckets=4).select(
        "o_orderkey", "o_custkey", "c_name"
    )
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salted_join_rejects_outer_modes(catalog):
    # right/full would emit unmatched right rows once per salt bucket
    import pytest

    orders = catalog.table("orders").select("o_orderkey", "o_custkey")
    customers = catalog.table("customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_name"
    )
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError, match="salted_join supports"):
            R.salted_join(orders, customers, "o_custkey", how=how)


def test_bucketed_write_enables_shuffle_free_join(spark, catalog, tmp_path):
    # bucketing: persist both sides bucketed by the join key -> the
    # later join plans without an Exchange on either side
    import uuid
    ta, tb = f"orders_b_{uuid.uuid4().hex[:6]}", f"lineitem_b_{uuid.uuid4().hex[:6]}"
    orders = catalog.table("orders").select("o_orderkey", "o_custkey", "o_totalprice")
    lineitem = catalog.table("lineitem").select("l_orderkey", "l_quantity")
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").format("parquet").saveAsTable(ta))
    (lineitem.withColumnRenamed("l_orderkey", "o_orderkey")
     .write.mode("overwrite").bucketBy(8, "o_orderkey")
     .sortBy("o_orderkey").format("parquet").saveAsTable(tb))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the bucketed sort-merge path is exercised
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(ta).join(spark.table(tb), on="o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, plan  # no shuffle
        assert "SortMergeJoin" in plan
        assert joined.count() == catalog.table("lineitem").count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_quarantine_splits_and_labels_violations(spark):
    from pyspark.sql import functions as F

    from mriya_spark.ops.quality import expectations_summary, quarantine

    df = spark.createDataFrame(
        [(1, 10.0, "a"), (2, -5.0, "b"), (3, None, None), (4, 7.0, "zz")],
        "id long, v double, tag string",
    )
    exp = {
        "v_positive": F.col("v") > 0,
        "tag_short": F.length("tag") <= 1,
    }
    good, bad = quarantine(df, exp)
    assert {r.id for r in good.collect()} == {1}
    labeled = {r.id: sorted(r["__failed"]) for r in bad.collect()}
    # null v and null tag both violate (failed-OR-null semantics)
    assert labeled == {
        2: ["v_positive"],
        3: ["tag_short", "v_positive"],
        4: ["tag_short"],
    }
    summ = {
        r.expectation: (r.n_violations, r.passed)
        for r in expectations_summary(df, exp).collect()
    }
    assert summ == {"v_positive": (2, False), "tag_short": (2, False)}


def test_table_diff_handles_null_values(spark):
    """NULL->NULL must be unchanged, NULL->value changed (null-safe
    compare), and presence is detected even when all compare columns
    are NULL."""
    from mriya_spark.ops.quality import table_diff

    old = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, None), (9, 1.0)], "k long, v double"
    )
    new = spark.createDataFrame(
        [(1, None), (2, 5.0), (3, 4.0), (7, None)], "k long, v double"
    )
    got = {r.k: r.status for r in table_diff(old, new, "k").collect()}
    assert got == {
        1: "unchanged",
        2: "unchanged",
        3: "changed",
        9: "removed",
        7: "added",
    }


def test_evolve_to_schema_conform_rules(spark):
    """Missing column -> typed NULL, present column cast to target
    type, extras dropped, output order = target order."""
    from mriya_spark.ops.transform import evolve_to_schema

    df = spark.createDataFrame(
        [(1, "x", 2.5, "junk")], "a int, b string, c double, zz string"
    )
    out = evolve_to_schema(df, "c double, a bigint, d date, b string")
    assert [f.name for f in out.schema.fields] == ["c", "a", "d", "b"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "double", "bigint", "date", "string"
    ]
    r = out.collect()[0]
    assert (r.c, r.a, r.d, r.b) == (2.5, 1, None, "x")
    assert "zz" not in out.columns


def test_evolve_to_schema_case_insensitive_match(spark):
    """Case drift across file eras (CustKey vs custkey) must conform,
    not silently become typed NULLs — Spark's own resolution is
    case-insensitive by default."""
    from mriya_spark.ops.transform import evolve_to_schema

    df = spark.createDataFrame([(7, "x")], "CustKey int, Name string")
    out = evolve_to_schema(df, "custkey bigint, name string")
    r = out.collect()[0]
    assert (r.custkey, r.name) == (7, "x")
    assert [f.name for f in out.schema.fields] == ["custkey", "name"]


def test_fuzzy_join_blocked_finds_near_names_not_far(spark):
    from mriya_spark.ops.relational import fuzzy_join_blocked

    a = spark.createDataFrame(
        [(1, "Acme Corporation"), (2, "Globex Industries"), (3, "Initech LLC")],
        ["id", "name"],
    )
    b = spark.createDataFrame(
        [(10, "Acme Corporatio"),    # 1 deletion
         (20, "Globex Industriez"),  # 1 substitution
         (30, "Umbrella Corp"),      # unrelated
         (40, "Acme Inc")],          # same prefix, too far
        ["id", "name"],
    )
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_join_blocked(
            a, b, col="name", id_col="id", max_dist=2, block_len=4
        ).collect()
    }
    assert got == {(1, 10): 1, (2, 20): 1}


def test_fuzzy_join_blocked_hot_block_cap(spark):
    """r13 judge directive 6: max_block drops blocks whose membership
    exceeds the cap on EITHER side (the zero-signal boilerplate block)
    while blocks at/under the cap are untouched, and max_block=None
    keeps the exact pre-cap behavior."""
    from mriya_spark.ops.relational import fuzzy_join_blocked

    # hot block: 3 identical 'boilerplate...' names per side (prefix
    # 'boil'); cold block: one close pair (prefix 'acme')
    a = spark.createDataFrame(
        [(1, "boilerplate x"), (2, "boilerplate y"), (3, "boilerplate z"),
         (4, "acme corp")],
        ["id", "name"],
    )
    b = spark.createDataFrame(
        [(10, "boilerplate x"), (20, "boilerplate q"), (30, "boilerplate r"),
         (40, "acme cord")],
        ["id", "name"],
    )
    kw = dict(col="name", id_col="id", max_dist=2, block_len=4)
    uncapped = {
        (r.id_a, r.id_b)
        for r in fuzzy_join_blocked(a, b, **kw).collect()
    }
    assert (4, 40) in uncapped and len(uncapped) == 10  # 3x3 hot + 1
    capped = {
        (r.id_a, r.id_b)
        for r in fuzzy_join_blocked(a, b, max_block=2, **kw).collect()
    }
    assert capped == {(4, 40)}  # hot block gone, cold pair intact
    # one-sided heat still drops the block (b side under cap)
    b_small = spark.createDataFrame(
        [(10, "boilerplate x"), (40, "acme cord")], ["id", "name"]
    )
    one_sided = {
        (r.id_a, r.id_b)
        for r in fuzzy_join_blocked(a, b_small, max_block=2, **kw).collect()
    }
    assert one_sided == {(4, 40)}


def test_table_profile_counts_and_extremes(spark):
    from mriya_spark.ops.quality import table_profile

    df = spark.createDataFrame(
        [(1, "b", None), (2, "a", 5.0), (2, None, 7.0)],
        "k long, s string, v double",
    )
    prof = {r.column: r for r in table_profile(df).collect()}
    assert prof["k"].n_nulls == 0 and prof["k"].n_distinct == 2
    assert prof["k"].min_str == "1" and prof["k"].max_str == "2"
    assert prof["s"].n_nulls == 1 and prof["s"].min_str == "a"
    assert prof["v"].n_nulls == 1 and prof["v"].n_distinct == 2


def test_table_profile_approx_within_tolerance(spark):
    """The HLL++ one-pass profile (approx_count_distinct) must agree
    with the exact profile on nulls/min/max EXACTLY and on distinct
    counts within the configured relative error (generous 3-sigma-ish
    bound: 3*rsd); the portable md5-HLL twin must land in the same
    band and report exact null/row counts."""
    from mriya_spark.ops.quality import (
        table_profile,
        table_profile_approx,
        table_profile_hll,
    )

    df = spark.range(5000).selectExpr(
        "id AS k",
        "CAST(id % 37 AS STRING) AS s",
        "CASE WHEN id % 10 = 0 THEN NULL ELSE id % 1000 END AS v",
        "CAST(NULL AS STRING) AS z",  # all-NULL column (r9 review)
    )
    exact = {r.column: r for r in table_profile(df).collect()}
    approx = {r.column: r for r in table_profile_approx(df, rsd=0.05).collect()}
    hll = {r.column: r for r in table_profile_hll(df).collect()}
    # the all-NULL column must keep its profile row in every variant,
    # with the empty-sketch state in the portable twin
    assert exact["z"].n_nulls == 5000 and exact["z"].n_distinct == 0
    assert approx["z"].n_nulls == 5000 and approx["z"].n_distinct_est == 0
    assert hll["z"].n_nulls == 5000 and hll["z"].est_distinct == 0.0
    assert hll["z"].n_empty == 256
    for c in ("k", "s", "v"):
        assert approx[c].n_nulls == exact[c].n_nulls
        assert approx[c].min_str == exact[c].min_str
        assert approx[c].max_str == exact[c].max_str
        true_d = exact[c].n_distinct
        assert abs(approx[c].n_distinct_est - true_d) <= max(3, 0.15 * true_d)
        assert abs(hll[c].est_distinct - true_d) <= max(3, 0.25 * true_d)
        assert hll[c].n_nulls == exact[c].n_nulls
        assert hll[c].n_rows == 5000


def test_fuzzy_join_blocked_edges(spark):
    """Empty sides and block-boundary edits: a pair whose single edit
    falls inside the block prefix is the documented single-pass recall
    loss (found by a second pass on a different key, not silently
    claimed)."""
    from mriya_spark.ops.relational import fuzzy_join_blocked

    a = spark.createDataFrame([(1, "abcdef")], ["id", "name"])
    b_hit = spark.createDataFrame([(2, "abcdeX")], ["id", "name"])   # edit after block
    b_miss = spark.createDataFrame([(3, "Xbcdef")], ["id", "name"])  # edit inside block
    empty = spark.createDataFrame([], "id long, name string")
    got = fuzzy_join_blocked(a, b_hit, col="name", id_col="id",
                             max_dist=1, block_len=4).collect()
    assert [(r.id_a, r.id_b, r.dist) for r in got] == [(1, 2, 1)]
    assert fuzzy_join_blocked(a, b_miss, col="name", id_col="id",
                              max_dist=1, block_len=4).count() == 0
    assert fuzzy_join_blocked(a, empty, col="name", id_col="id").count() == 0

    # the bounded verify's edge, through the one-pass and the multi-pass
    # form alike: a pair at exactly max_dist keeps its exact distance,
    # one at max_dist + 1 is dropped, and max_dist=0 keeps exact matches
    from mriya_spark.ops.relational import fuzzy_join_multiblock

    c = spark.createDataFrame([(1, "abcdefgh")], ["id", "name"])
    d = spark.createDataFrame(
        [(10, "abcdefgh"),     # exact (both passes block it)
         (11, "abcdefXh"),     # 1 substitution
         (12, "abcdeXYh"),     # 2 substitutions
         (13, "abcdXYZh"),     # 3 substitutions
         (14, "abcdefghij"),   # 2 insertions
         (15, "abcdefgXYZ")],  # 3 edits, inside the length band
        ["id", "name"],
    )
    for join in (fuzzy_join_blocked, fuzzy_join_multiblock):
        def got(max_dist):
            return {
                (r.id_a, r.id_b): r.dist
                for r in join(c, d, col="name", id_col="id",
                              max_dist=max_dist, block_len=4).collect()
            }

        assert got(2) == {(1, 10): 0, (1, 11): 1, (1, 12): 2, (1, 14): 2}, join
        assert got(1) == {(1, 10): 0, (1, 11): 1}, join
        assert got(0) == {(1, 10): 0}, join


def test_table_profile_empty_frame(spark):
    from mriya_spark.ops.quality import table_profile

    df = spark.createDataFrame([], "k long, s string")
    prof = {r.column: r for r in table_profile(df).collect()}
    assert prof["k"].n_nulls == 0 and prof["k"].n_distinct == 0
    assert prof["k"].min_str is None and prof["s"].max_str is None


def test_bloom_screen_no_false_negatives_and_scan_local(spark):
    """Bloom guarantee: every true member passes (false negatives are
    impossible); non-members mostly fail; and the screen itself adds
    NO exchange — it must stay a scan-local predicate."""
    import re

    from mriya_spark.ops.relational import bloom_build, bloom_screen

    ref = spark.range(100, 200).selectExpr("id AS key")
    probe = spark.range(0, 2000).selectExpr("id AS key")
    words = bloom_build(ref, "key")
    out = bloom_screen(probe, "key", words)
    passed = {r.key for r in out.filter("bloom_pass").collect()}
    assert set(range(100, 200)) <= passed  # no false negatives, ever
    fp = len(passed) - 100
    assert fp <= 40, f"implausible FP count {fp} for 300 set bits / 32768"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert not re.search(r"Exchange (?:hash|range|Single)", plan), plan


def test_bloom_size_bits_scales_with_keys():
    """Auto-sizing keeps ~16 bits/key (power-of-two, clamped): the
    fixed 32768-bit default stops pruning past ~10k keys (r8 advice),
    so growing reference sets must get a bigger filter, up to the
    inline-literal cap."""
    from mriya_spark.ops.relational import (
        BLOOM_AUTO_MAX_BITS,
        BLOOM_BITS,
        bloom_size_bits,
    )

    assert bloom_size_bits(0) == BLOOM_BITS
    assert bloom_size_bits(2000) == BLOOM_BITS  # fits the default
    assert bloom_size_bits(10_000) == 262144  # 16*10k -> next pow2
    assert bloom_size_bits(10**9) == BLOOM_AUTO_MAX_BITS  # clamped
    for n in (1, 5_000, 50_000):
        b = bloom_size_bits(n)
        assert b & (b - 1) == 0  # power of two


def test_bloom_autosized_build_screen_roundtrip(spark):
    """bloom_build/bloom_screen agree at a non-default auto size: no
    false negatives with n_bits threaded through both ends."""
    from mriya_spark.ops.relational import (
        bloom_build,
        bloom_screen,
        bloom_size_bits,
    )

    ref = spark.range(0, 50).selectExpr("id AS key")
    n_bits = bloom_size_bits(50)
    words = bloom_build(ref, "key", n_bits=n_bits)
    probe = spark.range(0, 500).selectExpr("id AS key")
    passed = {
        r.key
        for r in bloom_screen(probe, "key", words, n_bits=n_bits)
        .filter("bloom_pass")
        .collect()
    }
    assert set(range(50)) <= passed


def test_bloom_screen_rejects_mismatched_filter_size(spark):
    """A words list built for a different n_bits must be refused: probe
    positions taken mod the wrong modulus would silently break the
    no-false-negative guarantee (r8 review finding)."""
    import pytest

    from mriya_spark.ops.relational import bloom_build, bloom_screen

    ref = spark.range(0, 10).selectExpr("id AS key")
    words = bloom_build(ref, "key", n_bits=65536)
    probe = spark.range(0, 10).selectExpr("id AS key")
    with pytest.raises(ValueError, match="same .?n_bits"):
        bloom_screen(probe, "key", words)  # default n_bits=32768
    # matching n_bits: every true member passes
    ok = bloom_screen(probe, "key", words, n_bits=65536)
    assert ok.filter("bloom_pass").count() == 10


def test_outlier_iqr_flags_planted_outliers(spark):
    """Planted extremes are flagged, inliers are not, ungrouped mode
    works, and the fences bound the kept values."""
    from mriya_spark.ops.quality import outlier_iqr

    rows = [(i, "a", 100.0 + i) for i in range(20)]  # tight cluster
    rows += [(100, "a", 10_000.0), (101, "a", -5_000.0)]  # planted
    rows += [(200 + i, "b", 50.0) for i in range(10)]  # constant group
    df = spark.createDataFrame(rows, ["id", "grp", "v"])

    got = {r.id for r in outlier_iqr(df, value_col="v", group_col="grp").collect()}
    assert got == {100, 101}  # constant group: iqr 0, no outliers

    ungrouped = {r.id for r in outlier_iqr(df, value_col="v").collect()}
    assert {100, 101} <= ungrouped
    for r in outlier_iqr(df, value_col="v", group_col="grp").collect():
        assert r.v < r.fence_lo or r.v > r.fence_hi


def test_fuzzy_join_multiblock_recovers_prefix_misses(spark):
    """The two-pass (prefix + suffix) union recovers pairs whose edit
    lands inside the prefix block window — the recall class the
    single-pass docstring documents as lost — keeps single-pass pairs,
    and emits one row per pair with the best distance."""
    from mriya_spark.ops.relational import (
        fuzzy_join_blocked,
        fuzzy_join_multiblock,
    )

    a = spark.createDataFrame(
        [(1, "acme corporation"), (2, "globex industries")],
        ["id", "name"],
    )
    b = spark.createDataFrame(
        [(10, "acmo corporation"),   # edit IN the 4-char prefix
         (20, "globex industriez"),  # edit outside it
         (30, "unrelated name")],
        ["id", "name"],
    )
    kw = dict(col="name", id_col="id", max_dist=2, block_len=4)
    single = {
        (r.id_a, r.id_b) for r in fuzzy_join_blocked(a, b, **kw).collect()
    }
    assert single == {(2, 20)}  # prefix pass misses (1, 10)
    multi = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_join_multiblock(a, b, **kw).collect()
    }
    assert multi == {(1, 10): 1, (2, 20): 1}  # suffix pass recovers it


def test_fuzzy_join_multiblock_cap_is_per_pass(spark):
    """With max_block, a hot PREFIX block's mates survive through the
    suffix pass (distinct suffixes), while a key degenerate on both
    ends stays excluded — each pass caps independently."""
    from mriya_spark.ops.relational import fuzzy_join_multiblock

    # 3 rows share the prefix 'form' (hot at cap=2) but have distinct
    # suffixes; their b-side twins differ by one edit
    a = spark.createDataFrame(
        [(1, "form letter alpha"), (2, "form letter bravo"),
         (3, "form letter carol")],
        ["id", "name"],
    )
    b = spark.createDataFrame(
        [(10, "form letter alphq"), (20, "form letter bravq"),
         (30, "form letter carql")],
        ["id", "name"],
    )
    got = {
        (r.id_a, r.id_b)
        for r in fuzzy_join_multiblock(
            a, b, col="name", id_col="id", max_dist=2, block_len=4,
            max_block=2,
        ).collect()
    }
    # these b-side edits land INSIDE the suffix window, so the suffix
    # pass can't block them together either: hot prefix + end-edit is
    # a documented double miss (multi-pass recall needs the edit to
    # fall outside at least one pass's block window)
    assert got == set()
    # edits in the MIDDLE (outside both windows) survive the cap:
    b2 = spark.createDataFrame(
        [(10, "form lettex alpha"), (20, "form lettex bravo")],
        ["id", "name"],
    )
    got2 = {
        (r.id_a, r.id_b)
        for r in fuzzy_join_multiblock(
            a, b2, col="name", id_col="id", max_dist=2, block_len=4,
            max_block=2,
        ).collect()
    }
    assert got2 == {(1, 10), (2, 20)}


def test_fuzzy_join_middle_pass_recovers_double_ended_edits(spark):
    """r15: a pair with one edit near EACH end escapes both the prefix
    and suffix passes (each window contains one edit site); the middle
    pass recovers it because the centered window excludes both. Single
    edits stay covered by the classic two passes, and the middle pass
    must never add a false pair."""
    from pyspark.sql import functions as F

    from mriya_spark.ops.relational import fuzzy_join_multiblock

    # 24-char strings; blk=6 -> prefix 1-6, middle 10-15, suffix 19-24
    base = [(i, f"alpha beta gamma delta {chr(97 + i)}") for i in range(4)]
    a = spark.createDataFrame(base, ["id", "name"])
    s = base[0][1]
    # two edits, one near each end (positions 2 and len-1): escapes
    # the prefix AND suffix passes, recovered only by the middle pass
    dbl = s[:1] + "X" + s[2 : len(s) - 2] + "X" + s[len(s) - 1 :]
    b_rows = [(100, dbl), (101, s)]  # double-ended edit + exact twin
    b = spark.createDataFrame(b_rows, ["id", "name"])
    kw = dict(col="name", id_col="id", max_dist=2, block_len=6)
    two = {
        (r.id_a, r.id_b)
        for r in fuzzy_join_multiblock(a, b, **kw).collect()
    }
    three = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_join_multiblock(
            a, b, passes=("prefix", "suffix", "middle"), **kw
        ).collect()
    }
    assert (0, 100) not in two  # double-ended edit escapes both passes
    assert three[(0, 100)] == 2  # middle pass recovers it at dist 2
    assert three[(0, 101)] == 0  # exact twin still found
    assert set(three) - two == {(0, 100)}  # no false additions
    with pytest.raises(ValueError, match="passes"):
        fuzzy_join_multiblock(a, b, passes=("soundex",), **kw)


def test_fuzzy_join_threeblock_sql_replay_prevalidation(spark):
    """Pre-validates the r16 gate oracle for the three-pass fuzzy
    join: prefix + clamped suffix + centered middle window, each with
    the per-side hot-block cap, unioned with per-pair min(dist) —
    replayed in DuckDB pair-for-pair, including short-string rows
    that exercise the middle key's start clamp. NOTE: DuckDB `//`
    TRUNCATES toward zero ((-5)//2 = -2, verified) while Spark's
    floor() floors (-3) — they differ exactly on negative odd
    quotients, i.e. only when length < block_len, where the
    greatest(1, ...) clamp saturates both to 1; the clamp, not the
    operator, is what makes the recipe cross-engine. Never copy the
    `//` form into an UNCLAMPED oracle expression."""
    import duckdb
    import pandas as pd

    from mriya_spark.ops.relational import fuzzy_join_multiblock

    s = "alpha beta gamma delta x"
    dbl = s[:1] + "X" + s[2 : len(s) - 2] + "X" + s[len(s) - 1 :]
    names = (
        [(i, f"form letter body {i:03d} pad") for i in range(6)]  # hot
        + [(10, s), (11, "acme corporation north"),
           (12, "initech consulting gmbh"),
           (13, "ab"),   # shorter than blk: middle+suffix clamp to
           (14, "b")]    # the whole string on BOTH engines
    )
    b_names = (
        [(100 + i, f"form letter body {i:03d} pad") for i in range(6)]
        + [(110, dbl),                      # double-ended edit
           (111, "acme corporation norths"),  # suffix-window edit
           (112, "initech consulting gmbh"),  # exact
           (113, "ab"), (114, "ba")]
    )
    a = spark.createDataFrame(names, ["id", "name"])
    b = spark.createDataFrame(b_names, ["id", "name"])
    cap, blk, maxd = 4, 6, 2
    got = {
        (r.id_a, r.id_b): r.dist
        for r in fuzzy_join_multiblock(
            a, b, col="name", id_col="id", max_dist=maxd, block_len=blk,
            max_block=cap, passes=("prefix", "suffix", "middle"),
        ).collect()
    }
    assert got[(10, 110)] == 2  # the middle pass's unique recovery
    assert got[(13, 113)] == 0

    con = duckdb.connect()
    con.register("ta", pd.DataFrame(names, columns=["id", "name"]))
    con.register("tb", pd.DataFrame(b_names, columns=["id", "name"]))
    from mriya_spark.qchunks.c02_unicode_pretokenization_r12_judge_direct import (
        _fuzzy_pass_keys,
        _fuzzy_pass_sql,
    )

    keys = _fuzzy_pass_keys(blk)
    passes = [_fuzzy_pass_sql(keys[p], cap, maxd)
              for p in ("prefix", "suffix", "middle")]
    sql = ("SELECT id_a, id_b, CAST(min(dist) AS BIGINT) AS dist FROM ("
           + " UNION ALL ".join(passes) + ") GROUP BY 1, 2")
    want = {(r[0], r[1]): r[2] for r in con.execute(sql).fetchall()}
    assert got == want
