"""One chunk of the query registry, imported by queries.py in
registration order. Edit the query functions here."""

from __future__ import annotations

from mriya_spark.qregistry import (  # noqa: F401
    Catalog,
    DataFrame,
    F,
    SparkSession,
    _cat,
    _os,
    register,
)



# ---------------------------------------------------------------------------
# §2.1 scans
# ---------------------------------------------------------------------------

@register("scan_table", "SELECT * FROM nation")
def scan_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 — full table scan (reference: `data_connector.py:55-69`
    ``fetch_all_data`` paginated SOAP scan; pagination ≙ partitioned
    parquet scan)."""
    return _cat(spark, sf_dir).table("nation")


# ---------------------------------------------------------------------------
# §2.2 projections / filters
# ---------------------------------------------------------------------------

@register(
    "project_columns",
    "SELECT c_custkey, c_name, c_acctbal FROM customer",
)
def project_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — column projection (`mapping_parser.py:31-41`). Pruned scan:
    ReadSchema shows only the three columns."""
    from mriya_spark.ops.relational import project

    return project(
        _cat(spark, sf_dir).table("customer"), ["c_custkey", "c_name", "c_acctbal"]
    )


@register(
    "filter_expr",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 45 AND l_returnflag = 'R'
    """,
)
def filter_expr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — WHERE pass-through (`mapping_parser.py:21,39-40`); predicate
    reaches the parquet scan as PushedFilters."""
    from mriya_spark.ops.relational import filter_expr, project

    df = _cat(spark, sf_dir).table("lineitem")
    df = filter_expr(df, "l_quantity > 45 AND l_returnflag = 'R'")
    return project(df, ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"])


_ISIN_KEYS = list(range(1, 200, 3))

@register(
    "filter_isin",
    f"""
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE c_custkey IN ({', '.join(str(k) for k in _ISIN_KEYS)})
    """,
)
def filter_isin_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — IN-list filter (`mapping_parser.py:56-82` OR-chain; chunked
    at 200 ids in `mriya.py:63-68`). Above 10k ids this op switches to
    a broadcast semi-join (see ops.relational.filter_isin)."""
    from mriya_spark.ops.relational import filter_isin, project

    df = _cat(spark, sf_dir).table("customer")
    return project(
        filter_isin(df, "c_custkey", _ISIN_KEYS),
        ["c_custkey", "c_name", "c_mktsegment"],
    )


# ---------------------------------------------------------------------------
# §2.5 limits / sorts
# ---------------------------------------------------------------------------

@register(
    "limit_rows",
    """
    SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
    ORDER BY l_orderkey, l_linenumber LIMIT 10000
    """,
)
def limit_rows_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1 — LIMIT 10000 (`mapping_parser.py:5`). Sorted first so the
    surviving row set is deterministic for the oracle; Spark plans this
    as TakeOrderedAndProject (per-partition top-k, no global sort)."""
    from mriya_spark.ops.relational import top_k

    df = _cat(spark, sf_dir).table("lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    return top_k(df, [F.col("l_orderkey"), F.col("l_linenumber")], 10_000)


@register(
    "orderby_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 100
    """,
)
def orderby_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5 — global top-k (absent in reference; declared surface)."""
    from mriya_spark.ops.relational import top_k

    df = _cat(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    return top_k(df, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 100)


# ---------------------------------------------------------------------------
# §2.3 joins
# ---------------------------------------------------------------------------

@register(
    "join_lookup",
    """
    SELECT c.c_custkey, c.c_name, n.n_name AS nation_name
    FROM customer c LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def join_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 — FK parent-relationship lookup join (`mapping_parser.py:34-36`
    dotted ``Parent.Field``). Broadcast hash join on the dimension."""
    from mriya_spark.ops.relational import lookup_join

    cat = _cat(spark, sf_dir)
    child = cat.table("customer").select("c_custkey", "c_name", "c_nationkey")
    parent = cat.table("nation")
    out = lookup_join(
        child,
        parent,
        on=child["c_nationkey"] == parent["n_nationkey"],
        fields={"nation_name": parent["n_name"]},
    )
    return out.select("c_custkey", "c_name", "nation_name")


@register(
    "join_semi",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
    WHERE EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)
    """,
)
def join_semi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2 — semi-join (reference: 200-id chunked IN-list probes,
    `mriya.py:62-77`; one left_semi join here)."""
    from mriya_spark.ops.relational import semi_join

    cat = _cat(spark, sf_dir)
    rich = (
        cat.table("customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return semi_join(
        cat.table("orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        rich,
        on="o_custkey",
    )


@register(
    "join_anti",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM customer c
                      WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)
    """,
)
def join_anti_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 — anti-join ("skip deletion" complement, `mriya.py:71-76`)."""
    from mriya_spark.ops.relational import anti_join

    cat = _cat(spark, sf_dir)
    rich = (
        cat.table("customer")
        .filter(F.col("c_acctbal") > 5000)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    return anti_join(
        cat.table("orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        rich,
        on="o_custkey",
    )


@register(
    "join_backfill",
    """
    SELECT s.c_custkey,
           c.dst_id AS backfilled_dst_id
    FROM customer s
    INNER JOIN (
        SELECT c_custkey AS old_record_id,
               'DST-' || CAST(c_custkey AS VARCHAR) AS dst_id
        FROM customer WHERE c_acctbal > 0
    ) c ON s.c_custkey = c.old_record_id
    """,
)
def join_backfill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 — key-backfill equi-join (`migration_engine.py:50-68`
    ``src_update``): join the created destination rows back onto the
    source and emit (src key, new dst id) update rows."""
    from mriya_spark.ops.relational import backfill_join

    cat = _cat(spark, sf_dir)
    src = cat.table("customer")
    created = (
        src.filter(F.col("c_acctbal") > 0)
        .select(
            F.col("c_custkey").alias("old_record_id"),
            F.concat(F.lit("DST-"), F.col("c_custkey").cast("string")).alias(
                "dst_id"
            ),
        )
    )
    return backfill_join(
        src,
        created,
        src_key="c_custkey",
        created_src_key="old_record_id",
        backfill={"backfilled_dst_id": "dst_id"},
    )


@register(
    "join_inner_multi",
    """
    SELECT o.o_orderkey,
           c.c_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, c.c_name
    """,
)
def join_inner_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-ish multi-join + agg (declared general surface).

    Join order is fact-side-streams: lineitem (the big table) never
    builds a hash map or rides a broadcast — the segment-filtered
    customer⋈orders projection (2 narrow columns, ~1/5 of orders) is
    the preferred broadcast side. Left to stats Catalyst broadcasts the
    pruned lineitem scan instead, which is backwards at any real scale
    and measured ~35% slower even at sf0.1 (hash-building 600k rows vs
    30k). But an explicit broadcast hint is honored UNCONDITIONALLY by
    Spark — it is never demoted past the threshold — so hinting a side
    that grows with the fact table is a driver OOM at 100 TB. The hint
    is therefore gated on a provable upper bound: the customer⋈orders
    output has at most one row per order and is projected narrower than
    the orders scan, so Catalyst's leaf estimate for ``orders`` bounds
    it. Under the session broadcast threshold -> hint (wins at bench
    scale); over it -> no hint, and AQE's runtime shuffle->broadcast
    conversion still catches the cases where the segment filter makes
    the side genuinely small.
    """
    from mriya_spark.ops.relational import (
        broadcast_threshold_bytes,
        estimated_size_bytes,
    )

    cat = _cat(spark, sf_dir)
    c = cat.table("customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = cat.table("orders")
    l = cat.table("lineitem")
    co = c.join(o, c["c_custkey"] == o["o_custkey"]).select("o_orderkey", "c_name")
    if estimated_size_bytes(o) <= broadcast_threshold_bytes(o):
        co = F.broadcast(co)
    return (
        l.join(co, l["l_orderkey"] == co["o_orderkey"])
        .groupBy("o_orderkey", "c_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


# ---------------------------------------------------------------------------
# §2.6 transforms
# ---------------------------------------------------------------------------

@register(
    "transform_rename",
    """
    SELECT c_custkey AS old_record_id, c_name AS name,
           c_acctbal AS acctbal, c_mktsegment AS segment
    FROM customer
    """,
)
def transform_rename_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 — rename-projection (`migration_engine.py:25-35`)."""
    from mriya_spark.ops.transform import rename_columns

    return rename_columns(
        _cat(spark, sf_dir).table("customer"),
        {
            "old_record_id": "c_custkey",
            "name": "c_name",
            "acctbal": "c_acctbal",
            "segment": "c_mktsegment",
        },
    )


@register(
    "transform_lit",
    """
    SELECT c_custkey AS old_record_id, c_name AS name,
           'ACME-HOLDING' AS company_name, 'customer_dst' AS type
    FROM customer
    """,
)
def transform_lit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 — constant column injection (`migration_engine.py:39-41`:
    hard-coded ``Company_Name__c`` FK + object-name ``type`` key)."""
    from mriya_spark.ops.transform import transform_pipeline

    return transform_pipeline(
        _cat(spark, sf_dir).table("customer"),
        rename={"old_record_id": "c_custkey", "name": "c_name"},
        constants={"company_name": "ACME-HOLDING", "type": "customer_dst"},
    )


# ---------------------------------------------------------------------------
# §2.4 aggregations
# ---------------------------------------------------------------------------

@register("agg_count", "SELECT COUNT(*) AS n_rows FROM lineitem")
def agg_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — total count (`data_connector.py:59` result size)."""
    from mriya_spark.ops.aggregate import count_rows

    return count_rows(_cat(spark, sf_dir).table("lineitem"))


@register(
    "agg_filtered_count",
    """
    SELECT CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_success,
           COUNT(*) AS n_total
    FROM events
    """,
)
def agg_filtered_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — success-ratio count (`project_utils.py:38-46`): one pass,
    conditional sum + total."""
    from mriya_spark.ops.aggregate import filtered_count

    return filtered_count(
        _cat(spark, sf_dir).table("events"), F.col("event_type") == "purchase"
    )


@register(
    "agg_groupby",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 4) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 4) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary (declared §2.4 general surface).

    Map-side partial aggregation + 2-key shuffle; the canonical bench
    headline query."""
    df = _cat(spark, sf_dir).table("lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        df.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 4).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# flagship: the migration pipeline as one query (SURVEY §3 stages 6-10)
# ---------------------------------------------------------------------------

FLAGSHIP_MAPPING = {
    "source_object": "customer",
    "destination_object": "customer_dst",
    "where_condition": "c_acctbal > 0",
    "mapping": [
        {
            "table_src": "customer",
            "column_src": "c_custkey",
            "table_dst": "customer_dst",
            "column_dst": "old_record_id",
            "operation": "upd_src",
            "column_type": "src_id",
        },
        {
            "table_src": "customer",
            "column_src": "c_name",
            "table_dst": "customer_dst",
            "column_dst": "name",
            "operation": "insert",
            "column_type": "regular",
        },
        {
            "table_src": "customer",
            "column_src": "c_acctbal",
            "table_dst": "customer_dst",
            "column_dst": "acctbal",
            "operation": "insert",
            "column_type": "regular",
        },
        {
            "table_src": "customer",
            "column_src": "c_mktsegment",
            "table_dst": "customer_dst",
            "column_dst": "segment",
            "operation": "insert",
            "column_type": "regular",
        },
        {
            "table_src": "nation",
            "column_src": "n_name",
            "table_dst": "customer_dst",
            "column_dst": "nation_name",
            "operation": "insert",
            "column_type": "regular",
        },
    ],
    "lookups": {
        "nation": {"table": "nation", "src_fk": "c_nationkey", "parent_key": "n_nationkey"}
    },
}


class _FrameCatalog:
    """Catalog adapter serving pinned DataFrames for some tables and
    delegating the rest — lets ``MappingSpec.extract`` (which reads
    ``catalog.table(source_object)``) run over a stream micro-batch or
    a connector read while lookup dims still come from parquet.
    ``fallback=None`` pins the whole universe: an unlisted table is
    then a caller bug and raises by name instead of an opaque
    NoneType error."""

    def __init__(self, frames: dict[str, DataFrame], fallback=None) -> None:
        self._frames = frames
        self._fallback = fallback

    def table(self, name: str) -> DataFrame:
        got = self._frames.get(name)
        if got is not None:
            return got
        if self._fallback is None:
            raise KeyError(
                f"table {name!r} not among the pinned frames "
                f"{sorted(self._frames)} and no fallback catalog given"
            )
        return self._fallback.table(name)


def _migration_frames(cat, spec) -> DataFrame:
    """The shared migration DAG: extract (scan+lookup+where+prune) ->
    transform (rename+lit) -> "load" (deterministic surrogate dst
    ids) -> backfill join -> destination rows + backfill
    confirmation. ONE definition run by the batch flagship
    (``run_migration``) and, per micro-batch, by the streaming twin
    (``stream_migration_pipeline``) — the two cannot drift."""
    extracted = spec.extract(cat)
    dst = spec.transform(extracted, constants={"company_name": "ACME-HOLDING"})
    created = dst.withColumn(
        "dst_id", F.concat(F.lit("DST-"), F.col("old_record_id").cast("string"))
    )
    backfilled = spec.backfill(cat.table(spec.source_object), created)
    return created.join(
        backfilled.select(
            F.col("c_custkey").alias("old_record_id"),
            F.col("c_custkey_dst_id").alias("src_backfilled_id"),
        ),
        on="old_record_id",
        how="left",
    )


def run_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole pipeline (`/root/reference/mriya.py` stages
    6-10) as one lazy DAG: extract (scan+lookup+where+prune) ->
    transform (rename+lit) -> "load" (materialize dst ids) -> backfill
    join. Returns the loaded destination table joined with its backfill
    state — every row proves extract/transform/load/backfill agree.
    """
    from mriya_spark.mapping import MappingSpec

    cat = Catalog(spark, sf_dir)
    spec = MappingSpec.from_obj(FLAGSHIP_MAPPING)
    return _migration_frames(cat, spec)


#: One oracle for BOTH migration twins: the batch flagship and the
#: incremental foreachBatch restatement must converge to the same
#: final state.
_MIGRATION_ORACLE_SQL = """
    SELECT c.c_custkey AS old_record_id,
           c.c_name AS name,
           c.c_acctbal AS acctbal,
           c.c_mktsegment AS segment,
           n.n_name AS nation_name,
           'ACME-HOLDING' AS company_name,
           'DST-' || CAST(c.c_custkey AS VARCHAR) AS dst_id,
           'DST-' || CAST(c.c_custkey AS VARCHAR) AS src_backfilled_id
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > 0
    """


@register("migration_pipeline", _MIGRATION_ORACLE_SQL)
def migration_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_migration(spark, sf_dir)


#: Multi-object mapping document: the reference's mapping file is a JSON
#: ARRAY (`/root/reference/mapping_parser.py:8-25`; `mriya.py:20` runs
#: only `[0]`) — this array exercises the full-document orchestrator.
#: The CHILD is deliberately FIRST: `run_mapping_array` must order by FK
#: dependency (`parent_fks`), not array position.
MULTI_MAPPING = [
    {
        "source_object": "customer",
        "destination_object": "customer_dst",
        "where_condition": "c_acctbal > 0",
        "mapping": [
            {
                "table_src": "customer",
                "column_src": "c_custkey",
                "table_dst": "customer_dst",
                "column_dst": "old_record_id",
                "operation": "upd_src",
                "column_type": "src_id",
            },
            {
                "table_src": "customer",
                "column_src": "c_name",
                "table_dst": "customer_dst",
                "column_dst": "name",
                "operation": "insert",
                "column_type": "regular",
            },
            {
                "table_src": "customer",
                "column_src": "c_acctbal",
                "table_dst": "customer_dst",
                "column_dst": "acctbal",
                "operation": "insert",
                "column_type": "regular",
            },
            {
                "table_src": "customer",
                "column_src": "c_nationkey",
                "table_dst": "customer_dst",
                "column_dst": "nation_ref",
                "operation": "insert",
                "column_type": "regular",
            },
        ],
        "parent_fks": {"c_nationkey": "nation"},
    },
    {
        "source_object": "nation",
        "destination_object": "nation_dst",
        "where_condition": "",
        "mapping": [
            {
                "table_src": "nation",
                "column_src": "n_nationkey",
                "table_dst": "nation_dst",
                "column_dst": "old_record_id",
                "operation": "upd_src",
                "column_type": "src_id",
            },
            {
                "table_src": "nation",
                "column_src": "n_name",
                "table_dst": "nation_dst",
                "column_dst": "name",
                "operation": "insert",
                "column_type": "regular",
            },
        ],
    },
]


#: One oracle for BOTH multi-object twins: the Catalog-plan form and
#: the through-the-connector e2e must produce the same final state.
_MULTI_MAPPING_ORACLE_SQL = """
    SELECT c.c_custkey AS old_record_id,
           c.c_name AS name,
           c.c_acctbal AS acctbal,
           'nation_dst-' || CAST(n.n_nationkey AS VARCHAR) AS nation_ref,
           'customer_dst-' || CAST(c.c_custkey AS VARCHAR) AS dst_id,
           'customer_dst-' || CAST(c.c_custkey AS VARCHAR)
               AS src_backfilled_id
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE c.c_acctbal > 0
    """


def _multi_mapping_result(
    child_rows: DataFrame, backfilled: DataFrame
) -> DataFrame:
    """Checked output shared by the two multi-object twins: the child
    destination rows joined with their backfill confirmation."""
    return child_rows.join(
        backfilled.select(
            F.col("c_custkey").alias("old_record_id"),
            F.col("c_custkey_dst_id").alias("src_backfilled_id"),
        ),
        on="old_record_id",
        how="left",
    ).select(
        "old_record_id",
        "name",
        "acctbal",
        "nation_ref",
        "dst_id",
        "src_backfilled_id",
    )


@register("migration_multi_mapping", _MULTI_MAPPING_ORACLE_SQL)
def migration_multi_mapping_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-object mapping orchestration (`mapping.run_mapping_array`):
    the WHOLE mapping array runs in FK dependency order — parent
    (nation -> nation_dst) first even though the document lists the
    child first, then the child (customer -> customer_dst) with its
    ``c_nationkey`` FK rewritten to the parent's freshly created dst id
    via one broadcast equi-join, then the child's upd_src backfill.
    The reference only ever ran element [0] (`mriya.py:20`); this is
    the product shape it was growing toward. The oracle replays both
    objects' surrogate id assignment and the FK resolution in one
    statement."""
    from mriya_spark.mapping import MappingSpec, run_mapping_array

    cat = Catalog(spark, sf_dir)
    specs = [MappingSpec.from_obj(o) for o in MULTI_MAPPING]
    created = run_mapping_array(cat, specs)
    child_spec = next(s for s in specs if s.source_object == "customer")
    backfilled = child_spec.backfill(
        cat.table("customer"), created["customer"]
    )
    return _multi_mapping_result(created["customer"], backfilled)


@register("migration_multi_e2e", _MULTI_MAPPING_ORACLE_SQL)
def migration_multi_e2e_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multi-object orchestration run END TO END through the
    connector: both source objects are bulk-inserted into a throwaway
    mock org (chunked ≤200-row DML), read back through the DSv2
    reader, run through ``run_mapping_array`` (parent first, child FK
    rewritten to the parent's fresh dst ids), and BOTH destination
    objects are bulk-loaded back into the org; the checked output
    joins the RE-READ child destination rows with the child's backfill
    updates. Proves the whole product shape — multi-object mapping +
    connector write/read fidelity both directions + backfill — in one
    hash-checked frame, sharing the Catalog-form twin's oracle."""
    import shutil as _shutil
    import uuid as _uuid

    from mriya_spark.connector.salesforce import (
        CUSTOMER_DDL,
        SalesforceMockDataSource,
        read_object,
    )
    from mriya_spark.mapping import MappingSpec, run_mapping_array

    spark.dataSource.register(SalesforceMockDataSource)
    _sweep_stale("org", "multi_")
    org = _os.path.join(
        _cache_subdir("org"), f"multi_{_uuid.uuid4().hex[:8]}"
    )
    nation_ddl = "n_nationkey int, n_name string"
    child_dst_ddl = (
        "old_record_id long, name string, acctbal double, "
        "nation_ref string, dst_id string"
    )
    try:
        cat = _cat(spark, sf_dir)
        # stage 1 — bulk insert BOTH source objects into the org
        for obj, df in (
            ("customer", cat.table("customer").select(
                "c_custkey", "c_name", "c_nationkey", "c_acctbal",
                "c_mktsegment",
            )),
            ("nation", cat.table("nation").select(
                "n_nationkey", "n_name"
            )),
        ):
            (
                df.write.format("salesforce_mock").mode("append")
                .option("org_dir", org).option("object", obj).save()
            )
        # stage 2 — read back through the connector; orchestrate
        frames = {
            "customer": read_object(spark, org, "customer", CUSTOMER_DDL),
            "nation": read_object(spark, org, "nation", nation_ddl),
        }
        specs = [MappingSpec.from_obj(o) for o in MULTI_MAPPING]
        created = run_mapping_array(_FrameCatalog(frames, None), specs)
        # stage 3 — bulk load BOTH destination objects into the org
        for obj, df in (
            ("nation_dst", created["nation"]),
            ("customer_dst", created["customer"]),
        ):
            (
                df.write.format("salesforce_mock").mode("append")
                .option("org_dir", org).option("object", obj).save()
            )
        # stage 4 — re-read the LOADED child dst; backfill against the
        # connector-read source; emit the checked frame
        loaded = read_object(spark, org, "customer_dst", child_dst_ddl)
        child_spec = next(
            s for s in specs if s.source_object == "customer"
        )
        # FRESH .load() for the backfill source: reusing
        # frames["customer"] would violate read_object's documented
        # one-loaded-DataFrame-per-predicate contract — the extract's
        # pushed WHERE could silently ride along into the unfiltered
        # backfill scan (r10 review)
        backfilled = child_spec.backfill(
            read_object(spark, org, "customer", CUSTOMER_DDL), loaded
        )
        return _multi_mapping_result(loaded, backfilled).localCheckpoint(
            eager=True
        )
    finally:
        _shutil.rmtree(org, ignore_errors=True)


# ---------------------------------------------------------------------------
# §2.1 sinks: CSV staging + DML merge semantics (S3-S10)
# ---------------------------------------------------------------------------

from mriya_spark.cachedir import cache_dir as _cache_subdir
from mriya_spark.cachedir import sweep_stale as _sweep_stale
from mriya_spark.cachedir import cache_root as _cache_root_dir

# user-scoped (r5 verdict: no shared predictable /tmp staging);
# created via cache_dir so the 0700 root is established by US even
# when a vanilla driver session touches this module first
_STAGE_DIR = _cache_subdir("stage")


@register(
    "sink_csv_roundtrip",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate FROM orders
    """,
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4+S3 — CSV export sink then schema-aware scan
    (`data_connector.py:86-111` export; `:364-366` DictReader scan).
    Values must survive the round trip bit-exactly (incl. timestamps)."""
    from mriya_spark import sinks

    df = _cat(spark, sf_dir).table("orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    path = f"{_STAGE_DIR}/orders_csv"
    sinks.write_csv(df, path)
    return sinks.read_csv(spark, path, df.schema)


@register(
    "scan_csv",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag FROM lineitem
    WHERE l_returnflag = 'A'
    """,
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — Bulk-API CSV query scan (`data_connector.py:246-268`):
    stage a filtered extract as CSV, scan it back with explicit schema
    (pushdown still applies to the parquet side of the stage)."""
    from mriya_spark import sinks

    df = (
        _cat(spark, sf_dir)
        .table("lineitem")
        .filter(F.col("l_returnflag") == "A")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )
    path = f"{_STAGE_DIR}/lineitem_csv"
    sinks.write_csv(df, path)
    return sinks.read_csv(spark, path, df.schema)


@register(
    "scan_jsonl",
    """
    SELECT doc_id, text, lang, n_chars FROM documents WHERE n_chars > 100
    """,
)
def scan_jsonl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source roundtrip — the interchange format most raw text
    corpora arrive in (and the mock org's wire format): stage a
    filtered extract as JSON-lines, scan it back with an explicit
    schema (schema-on-read, no inference job; JSON escaping covers
    embedded newlines/quotes in ``text``)."""
    docs = (
        _cat(spark, sf_dir)
        .table("documents")
        .filter(F.col("n_chars") > 100)
        .select("doc_id", "text", "lang", "n_chars")
    )
    path = f"{_STAGE_DIR}/documents_jsonl"
    docs.write.mode("overwrite").json(path)
    return spark.read.schema(docs.schema).json(path)


@register(
    "scan_orc",
    """
    SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en'
    """,
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source roundtrip — the other columnar lake format Spark
    reads natively (Hive estates): stage a filtered extract as ORC,
    scan it back. Predicate pushdown and column pruning apply to ORC
    scans exactly as to parquet."""
    docs = (
        _cat(spark, sf_dir)
        .table("documents")
        .filter(F.col("lang") == "en")
        .select("doc_id", "lang", "n_chars")
    )
    path = f"{_STAGE_DIR}/documents_orc"
    docs.write.mode("overwrite").orc(path)
    return spark.read.schema(docs.schema).orc(path)


@register(
    "sink_insert",
    """
    SELECT * FROM nation
    UNION ALL
    SELECT * FROM (VALUES (CAST(100 AS INTEGER), 'NEW_NATION_A', CAST(0 AS INTEGER)),
                          (CAST(101 AS INTEGER), 'NEW_NATION_B', CAST(1 AS INTEGER)))
           AS t(n_nationkey, n_name, n_regionkey)
    """,
)
def sink_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 — bulk insert (`data_connector.py:272-279`): append semantics."""
    from pyspark.sql import types as T

    from mriya_spark import sinks

    nation = _cat(spark, sf_dir).table("nation")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    new_rows = spark.createDataFrame(
        [(100, "NEW_NATION_A", 0), (101, "NEW_NATION_B", 1)], schema
    )
    return sinks.insert_rows(nation, new_rows)


@register(
    "sink_update_merge",
    """
    SELECT n_nationkey,
           CASE WHEN n_nationkey < 5 THEN 'UPDATED_' || n_name ELSE n_name END AS n_name,
           n_regionkey
    FROM nation
    """,
)
def sink_update_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — bulk update keyed by id (`data_connector.py:281-291`):
    MERGE WHEN MATCHED UPDATE; unmatched update rows dropped."""
    from mriya_spark import sinks

    nation = _cat(spark, sf_dir).table("nation")
    updates = (
        nation.filter(F.col("n_nationkey") < 5)
        .select(
            "n_nationkey",
            F.concat(F.lit("UPDATED_"), F.col("n_name")).alias("n_name"),
        )
    )
    return sinks.update_merge(nation, updates, key="n_nationkey")


@register(
    "sink_upsert_merge",
    """
    SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey >= 3
    UNION ALL
    SELECT * FROM (VALUES (CAST(0 AS INTEGER), 'UPSERTED_0', CAST(0 AS INTEGER)),
                          (CAST(1 AS INTEGER), 'UPSERTED_1', CAST(1 AS INTEGER)),
                          (CAST(2 AS INTEGER), 'UPSERTED_2', CAST(1 AS INTEGER)),
                          (CAST(200 AS INTEGER), 'INSERTED_200', CAST(2 AS INTEGER)))
           AS t(n_nationkey, n_name, n_regionkey)
    """,
)
def sink_upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 — upsert keyed by external id (`data_connector.py:301-310`):
    MERGE matched-update + not-matched-insert via anti-join + union."""
    from pyspark.sql import types as T

    from mriya_spark import sinks

    nation = _cat(spark, sf_dir).table("nation")
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    source = spark.createDataFrame(
        [
            (0, "UPSERTED_0", 0),
            (1, "UPSERTED_1", 1),
            (2, "UPSERTED_2", 1),
            (200, "INSERTED_200", 2),
        ],
        schema,
    )
    return sinks.upsert_merge(nation, source, key="n_nationkey")


@register(
    "sink_scd2_merge",
    """
    WITH t AS (
      SELECT c_custkey, c_acctbal,
             TIMESTAMP '2024-01-01' AS valid_from,
             CAST(NULL AS TIMESTAMP) AS valid_to
      FROM customer),
    u AS (
      SELECT c_custkey, round(c_acctbal + 100, 2) AS c_acctbal,
             TIMESTAMP '2024-06-01' AS valid_from
      FROM customer WHERE c_mktsegment = 'BUILDING')
    SELECT t.c_custkey, t.c_acctbal, t.valid_from,
           CASE WHEN u.c_custkey IS NOT NULL
                THEN TIMESTAMP '2024-06-01' END AS valid_to
    FROM t LEFT JOIN u ON t.c_custkey = u.c_custkey
    UNION ALL
    SELECT c_custkey, c_acctbal, valid_from, CAST(NULL AS TIMESTAMP)
    FROM u
    """,
)
def sink_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """History-preserving (SCD type-2) upsert: current versions of
    updated keys close at the update timestamp, updates append as the
    new open version — see ``sinks.scd2_merge``."""
    from mriya_spark import sinks

    cust = _cat(spark, sf_dir).table("customer")
    target = cust.select(
        "c_custkey",
        "c_acctbal",
        F.lit("2024-01-01").cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey",
        F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
        F.lit("2024-06-01").cast("timestamp").alias("valid_from"),
    )
    return sinks.scd2_merge(target, updates, key="c_custkey")


@register(
    "delete_by_predicate",
    """
    SELECT * FROM orders WHERE NOT (o_orderstatus = 'F')
    """,
)
def delete_by_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 — delete by predicate (`data_connector.py:294-298`): the
    engine-side anti-complement rewrite."""
    from mriya_spark import sinks

    return sinks.delete_where(
        _cat(spark, sf_dir).table("orders"), "o_orderstatus = 'F'"
    )


@register("generate_rows", None)  # random output -> rows-only check
def generate_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 — schema-driven generator (`test_data_generator.py:46-80`),
    seeded. Rows-only check: content is pseudorandom by design."""
    from mriya_spark.generator import gen_data

    return gen_data(spark, 1000, "Account", seed=42)


def _generate_rows_portable_oracle(n: int = 1000, seed: int = 42) -> str:
    """Oracle that REGENERATES the portable generator's rows in DuckDB
    by mirroring ``gen_data``'s per-column dispatch: sha256-hex strings
    (identical on both engines), md5-60bit uniforms for ints and
    timestamps. Built from the same ACCOUNT_* constants, so a schema
    change updates both sides together."""
    from mriya_spark.generator import (
        ACCOUNT_DEFAULTS,
        ACCOUNT_PREFIXES,
        ACCOUNT_STRUCT,
        DATE_MAX,
        DATE_MIN,
        INT_MAX,
        INT_MIN,
        OBJECT_NAME_MARKER,
        RAND_STR_LEN,
    )

    def u(col_seed: int) -> str:
        return (
            f"(('0x' || substr(md5('{col_seed}_' || CAST(i AS VARCHAR)), 1, 15))"
            f"::BIGINT / {float(1 << 60)!r})"
        )

    def rstr(col_seed: int) -> str:
        return (
            f"upper(substr(sha256(CAST(i AS VARCHAR) || '{col_seed}'), "
            f"1, {RAND_STR_LEN}))"
        )

    lo_s, hi_s = int(DATE_MIN.timestamp()), int(DATE_MAX.timestamp())
    cols = ['i AS "row_id"']
    for idx, (name, ctype) in enumerate(ACCOUNT_STRUCT.items()):
        cs = seed * 1000 + idx
        if ctype == OBJECT_NAME_MARKER:
            expr = "'Account'"
        elif name in ACCOUNT_DEFAULTS:
            expr = f"'{ACCOUNT_DEFAULTS[name]}'"
        elif name in ACCOUNT_PREFIXES:
            expr = f"'{ACCOUNT_PREFIXES[name]}' || {rstr(cs)}"
        elif ctype == "text":
            expr = rstr(cs)
        elif ctype == "int":
            expr = (
                f"CAST(floor({u(cs)} * {INT_MAX - INT_MIN}) AS BIGINT) + {INT_MIN}"
            )
        else:  # date
            expr = (
                f"make_timestamp((CAST(floor({u(cs)} * {hi_s - lo_s}) AS BIGINT)"
                f" + {lo_s}) * 1000000)"
            )
        cols.append(f'{expr} AS "{name}"')
    sel = ",\n           ".join(cols)
    return (
        f"WITH base AS (SELECT unnest(range(0, {n})) AS i)\n"
        f"    SELECT {sel}\n    FROM base"
    )


def _e2e_portable_oracle(n: int = 500, seed: int = 42) -> str:
    """Oracle for the FULL mriya pipeline run on the portable
    generator: regenerate the source rows via the same SQL as
    ``generate_rows_portable``'s oracle (one definition — the
    generator CTE is that oracle verbatim), then restate the
    deterministic suffix (transform consts + DST id assignment +
    backfill join) directly — the same restatement shape
    ``mriya_e2e_deterministic`` checks on customer-derived rows."""
    src = _generate_rows_portable_oracle(n=n, seed=seed)
    return f"""
    WITH src AS ({src})
    SELECT "row_id",
           'DST-' || CAST("row_id" AS VARCHAR) AS "row_id_dst_id",
           "Name", "Billing_City__c", "Billing_Zip_Code__c", "Website",
           '0013B000006M6zSQAS' AS "Company_Name__c"
    FROM src
    """


@register("generate_rows_portable", _generate_rows_portable_oracle())
def generate_rows_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1 in the engine-portable hash family: the same schema-driven
    generator with md5-derived int/timestamp draws, REGENERATED
    value-for-value by the DuckDB oracle — the generator's dispatch,
    seeding, and distribution plumbing are hash-checked, while the
    production twin (``generate_rows``) keeps Spark-native ``rand``
    and stays rows-only."""
    from mriya_spark.generator import gen_data

    return gen_data(spark, 1000, "Account", seed=42, portable=True)


# ---------------------------------------------------------------------------
# §2.4 extended aggregation surface: windows, rollup/cube, pivot, having
# ---------------------------------------------------------------------------

@register(
    "window_rank",
    """
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders) WHERE rn <= 3
    """,
)
def window_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer — ranked window, one shuffle on the
    group key (no global sort)."""
    from mriya_spark.ops.aggregate import window_rank

    df = _cat(spark, sf_dir).table("orders").select(
        "o_custkey", "o_orderkey", "o_totalprice"
    )
    ranked = window_rank(
        df, ["o_custkey"], [F.col("o_totalprice").desc(), F.col("o_orderkey")]
    )
    return ranked.filter(F.col("rn") <= 3)


@register(
    "window_running",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(CAST(l_quantity AS BIGINT)) OVER (
             PARTITION BY l_suppkey
             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS running_qty
    FROM lineitem
    """,
)
def window_running_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative per-key sum over an ordered frame. Quantities are
    integral in the fixture, so they are summed as BIGINT: exact in
    any engine. (Double prefix sums are NOT portable even over a total
    order — DuckDB evaluates running windows with a segment tree, so
    its float summation ORDER differs from Spark's sequential scan;
    at sf0.1 a row landed on a round(...,4) boundary — r6.)
    l_quantity is the final ORDER BY tiebreak: the fixture carries
    duplicate (l_orderkey, l_linenumber) pairs BY DESIGN (dedup
    family), so without it the order isn't total and tied rows'
    running values are assigned engine-arbitrarily."""
    from mriya_spark.ops.aggregate import running_agg

    df = _cat(spark, sf_dir).table("lineitem")
    out = running_agg(
        df,
        ["l_suppkey"],
        [F.col("l_shipdate"), F.col("l_orderkey"), F.col("l_linenumber"),
         F.col("l_quantity")],
        F.col("l_quantity").cast("long"),
        col_name="__run",
    )
    return out.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.col("__run").alias("running_qty"),
    )


@register(
    "agg_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mriya_spark.ops.aggregate import rollup_agg

    return rollup_agg(
        _cat(spark, sf_dir).table("lineitem"),
        ["l_returnflag", "l_linestatus"],
        [
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
        ],
    )


@register(
    "agg_cube",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_extendedprice), 4) AS sum_price, count(*) AS n
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mriya_spark.ops.aggregate import cube_agg

    return cube_agg(
        _cat(spark, sf_dir).table("lineitem"),
        ["l_returnflag", "l_linestatus"],
        [
            F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
            F.count(F.lit(1)).alias("n"),
        ],
    )


@register(
    "agg_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cat = _cat(spark, sf_dir)
    cat.table("orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@register(
    "distinct_values",
    "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT — partial-aggregate shuffle (§2.4 declared surface)."""
    return _cat(spark, sf_dir).table("customer").select(
        "c_mktsegment", "c_nationkey"
    ).distinct()


@register(
    "pivot_agg",
    """
    SELECT l_returnflag,
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'), 4) AS "O",
           round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4) AS "F"
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list (unlisted values would make the
    schema data-dependent — never acceptable at scale)."""
    return (
        _cat(spark, sf_dir)
        .table("lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 4))
    )


@register(
    "having_filter",
    """
    SELECT o_custkey, count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_spend
    FROM orders GROUP BY o_custkey HAVING count(*) >= 10
    """,
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cat(spark, sf_dir)
        .table("orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 10)
    )


@register(
    "count_distinct",
    """
    SELECT l_returnflag,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps
    FROM lineitem GROUP BY l_returnflag
    """,
)
def count_distinct_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _cat(spark, sf_dir)
        .table("lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


# ---------------------------------------------------------------------------
# scalar-function surface (§2.7): string / date / json / conditional
# ---------------------------------------------------------------------------

@register(
    "string_funcs",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           length(c_name) AS name_len,
           substring(c_name, 1, 8) AS name_prefix,
           regexp_replace(c_name, '[0-9]+', '#') AS name_masked,
           trim(concat('  ', c_mktsegment, ' ')) AS segment_trimmed
    FROM customer
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2/F4/F5-adjacent string surface (`test_data_generator.py:85-86`,
    `mapping_parser.py:73` — the reference's only string ops are random
    generation and template interpolation; this is the declared
    general-purpose set)."""
    c = _cat(spark, sf_dir).table("customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").cast("long").alias("name_len"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("name_masked"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias(
            "segment_trimmed"
        ),
    )


@register(
    "date_funcs",
    """
    SELECT date_trunc('month', o_orderdate) AS order_month,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS month_total
    FROM orders GROUP BY date_trunc('month', o_orderdate)
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3/F6-adjacent date surface (`test_data_generator.py:88-92`)."""
    return (
        _cat(spark, sf_dir)
        .table("orders")
        .groupBy(F.date_trunc("month", "o_orderdate").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("month_total"),
        )
    )


@register(
    "json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_extract_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.props JSON extraction (declared surface; SURVEY §1.4
    MapType note)."""
    ev = _cat(spark, sf_dir).table("events")
    return ev.groupBy("event_type").agg(
        F.sum(F.get_json_object("props", "$.k").cast("long")).alias("sum_k"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "case_when",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debt'
                WHEN c_acctbal < 5000 THEN 'standard'
                ELSE 'premium' END AS tier
    FROM customer
    """,
)
def case_when_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cat(spark, sf_dir).table("customer").select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debt")
        .when(F.col("c_acctbal") < 5000, "standard")
        .otherwise("premium")
        .alias("tier"),
    )


# ---------------------------------------------------------------------------
# set operations (§2.3 note: declared surface)
# ---------------------------------------------------------------------------

@register(
    "setop_union",
    """
    SELECT c_custkey AS key, c_name AS name FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION
    SELECT c_custkey AS key, c_name AS name FROM customer WHERE c_acctbal > 8000
    """,
)
def setop_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mriya_spark.ops.relational import union_distinct

    c = _cat(spark, sf_dir).table("customer")
    a = c.filter("c_mktsegment = 'BUILDING'").select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name")
    )
    b = c.filter("c_acctbal > 8000").select(
        F.col("c_custkey").alias("key"), F.col("c_name").alias("name")
    )
    return union_distinct(a, b)


@register(
    "setop_intersect",
    """
    SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000
    """,
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mriya_spark.ops.relational import intersect

    c = _cat(spark, sf_dir).table("customer")
    a = c.filter("c_mktsegment = 'BUILDING'").select(F.col("c_custkey").alias("key"))
    b = c.filter("c_acctbal > 5000").select(F.col("c_custkey").alias("key"))
    return intersect(a, b)


@register(
    "setop_except",
    """
    SELECT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'
    EXCEPT ALL
    SELECT c_custkey AS key FROM customer WHERE c_acctbal > 5000
    """,
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mriya_spark.ops.relational import except_

    c = _cat(spark, sf_dir).table("customer")
    a = c.filter("c_mktsegment = 'BUILDING'").select(F.col("c_custkey").alias("key"))
    b = c.filter("c_acctbal > 5000").select(F.col("c_custkey").alias("key"))
    return except_(a, b)


# ---------------------------------------------------------------------------
# temporal joins (§2.3 "absent in reference" surface + events pipeline)
# ---------------------------------------------------------------------------

@register(
    "join_asof",
    """
    SELECT p.event_id, p.user_id, p.ts, l.last_login_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN
         (SELECT user_id, ts AS last_login_ts FROM events WHERE event_type = 'login') l
    ON p.user_id = l.user_id AND p.ts >= l.last_login_ts
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: latest prior login per purchase (union+window, ONE
    shuffle — see ops.temporal.asof_join docstring for why not the
    naive inequality join)."""
    from mriya_spark.ops.temporal import asof_join

    ev = _cat(spark, sf_dir).table("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    logins = ev.filter(F.col("event_type") == "login").select(
        "user_id", F.col("ts").alias("login_ts")
    )
    return asof_join(
        purchases,
        logins,
        key="user_id",
        left_ts="ts",
        right_ts="login_ts",
        right_values={"last_login_ts": "login_ts"},
    )


@register(
    "join_asof_forward",
    """
    SELECT p.event_id, p.user_id, p.ts, l.next_login_ts
    FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN
         (SELECT user_id, ts AS next_login_ts FROM events WHERE event_type = 'login') l
    ON p.user_id = l.user_id AND p.ts <= l.next_login_ts
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: the EARLIEST login at-or-after each
    purchase — same union+window single-shuffle plan as the backward
    form, traversing event time descending."""
    from mriya_spark.ops.temporal import asof_join

    ev = _cat(spark, sf_dir).table("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    logins = ev.filter(F.col("event_type") == "login").select(
        "user_id", F.col("ts").alias("login_ts")
    )
    return asof_join(
        purchases,
        logins,
        key="user_id",
        left_ts="ts",
        right_ts="login_ts",
        right_values={"next_login_ts": "login_ts"},
        direction="forward",
    )


@register(
    "join_band",
    """
    SELECT c.c_custkey, s.s_suppkey
    FROM customer c JOIN supplier s
      ON c.c_acctbal BETWEEN s.s_acctbal - 100 AND s.s_acctbal + 100
    """,
)
def join_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/band join (BroadcastNestedLoopJoin with the dimension side
    broadcast)."""
    from mriya_spark.ops.temporal import band_join

    cat = _cat(spark, sf_dir)
    c = cat.table("customer").select("c_custkey", "c_acctbal")
    s = cat.table("supplier").select("s_suppkey", "s_acctbal")
    out = band_join(
        c,
        s,
        (c["c_acctbal"] >= s["s_acctbal"] - 100)
        & (c["c_acctbal"] <= s["s_acctbal"] + 100),
    )
    return out.select("c_custkey", "s_suppkey")


@register(
    "sessionize",
    """
    WITH tagged AS (
      SELECT user_id, ts,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), sess AS (
      SELECT user_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM tagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def sessionize_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (30-min gap) — lag + conditional cumsum;
    the batch twin of streaming session_window."""
    from mriya_spark.ops.temporal import sessionize

    ev = _cat(spark, sf_dir).table("events").select("user_id", "ts")
    s = sessionize(ev, key="user_id", ts="ts", gap_minutes=30)
    return s.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


@register(
    "events_retention",
    """
    WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    firstd AS (SELECT user_id, min(d) AS cohort_day FROM days GROUP BY 1),
    coh AS (SELECT user_id,
                   CAST(date_trunc('week', cohort_day) AS DATE) AS cohort_wd
            FROM firstd),
    j AS (SELECT days.user_id, d, cohort_wd FROM days JOIN coh USING (user_id))
    SELECT CAST(cohort_wd AS TIMESTAMP) AS cohort_week,
           CAST((d - cohort_wd) // 7 AS BIGINT) AS week_offset,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM j GROUP BY 1, 2
    """,
)
def events_retention_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts — the canonical product-analytics
    rollup: users bucketed by first-seen week (Monday-start in both
    engines), then distinct active users per (cohort, week offset).
    Plan: distinct user-days (1 shuffle), first-seen agg (reuses the
    same user partitioning), broadcast cohort map back, final
    count-distinct agg — nothing proportional to raw events after the
    first distinct."""
    ev = _cat(spark, sf_dir).table("events").select("user_id", "ts")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    first = days.groupBy("user_id").agg(F.min("d").alias("cohort_day"))
    # cohort_week stays TIMESTAMP (Spark date_trunc's native type) —
    # the cross-engine-stable rendering for truncated dates (the
    # date_funcs convention; a date-typed Spark cell would canonicalize
    # differently from DuckDB's pandas datetime64)
    coh = first.select(
        "user_id", F.date_trunc("week", "cohort_day").alias("cohort_week")
    )
    j = days.join(coh, on="user_id")
    return j.groupBy(
        "cohort_week",
        F.floor(F.datediff("d", "cohort_week") / 7).cast("long").alias("week_offset"),
    ).agg(F.count_distinct("user_id").cast("long").alias("n_users"))


#: Shared by the 3-join form (events_funnel) and the single-scan
#: window form (events_funnel_singlescan) — identical semantics
#: (strict succession), two independent Spark plans checked against
#: one oracle.
_FUNNEL_ORACLE_SQL = """
    WITH s1 AS (
      SELECT user_id, min(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY 1),
    s2 AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN s1 USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
    s3 AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN s2 USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1)
    SELECT 1::BIGINT AS step, 'view' AS step_name,
           CAST(count(*) AS BIGINT) AS n_users FROM s1
    UNION ALL
    SELECT 2::BIGINT, 'click', CAST(count(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT 3::BIGINT, 'purchase', CAST(count(*) AS BIGINT) FROM s3
    """


@register("events_funnel", _FUNNEL_ORACLE_SQL)
def events_funnel_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase, strict succession):
    per step, users whose earliest qualifying event follows their
    previous step's time. Three user-keyed aggregates whose joins
    reuse the same hash partitioning (AQE coalesces the exchanges);
    each stage's input shrinks to the previous stage's survivors."""
    ev = _cat(spark, sf_dir).table("events").select(
        "user_id", "event_type", "ts"
    )

    def step(prev, etype, tcol_prev, tcol):
        e = ev.filter(F.col("event_type") == etype)
        if prev is None:
            return e.groupBy("user_id").agg(F.min("ts").alias(tcol))
        return (
            e.join(prev, on="user_id")
            .filter(F.col("ts") > F.col(tcol_prev))
            .groupBy("user_id")
            .agg(F.min("ts").alias(tcol))
        )

    s1 = step(None, "view", None, "t1")
    s2 = step(s1, "click", "t1", "t2")
    s3 = step(s2, "purchase", "t2", "t3")
    rows = [
        s1.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(1).cast("long").alias("step"),
            F.lit("view").alias("step_name"), "n_users"),
        s2.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(2).cast("long").alias("step"),
            F.lit("click").alias("step_name"), "n_users"),
        s3.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(3).cast("long").alias("step"),
            F.lit("purchase").alias("step_name"), "n_users"),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


@register("events_funnel_singlescan", _FUNNEL_ORACLE_SQL)
def events_funnel_singlescan_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The same ordered funnel as ``events_funnel``, computed in ONE
    scan (``ops.temporal.funnel_steps``): k chained min-if window
    aggregates over a single user-hash partitioning instead of k
    join-backs to the event log. Same oracle, different physical
    plan: 2 shuffles total for any step count (vs 7 for the 3-join
    form — the plan comparison is pinned in tests/test_plans.py and
    PLANS.md). At 100 TB the event log is the big thing; reading it
    once instead of k times is the difference that matters."""
    from mriya_spark.ops.temporal import funnel_steps

    ev = _cat(spark, sf_dir).table("events").select(
        "user_id", "event_type", "ts"
    )
    return funnel_steps(ev, ["view", "click", "purchase"])


@register(
    "agg_histogram",
    """
    SELECT CAST(floor(o_totalprice / 25000.0) AS BIGINT) AS bin,
           floor(o_totalprice / 25000.0) * 25000.0 AS bin_lo,
           CAST(count(*) AS BIGINT) AS n
    FROM orders GROUP BY 1, 2
    """,
)
def agg_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram (25k-wide bins of order totals) — the
    profiling primitive behind every distribution dashboard. One
    partial-agg shuffle on the bin id; bin assignment is a single
    float divide + floor, identical doubles in both engines."""
    o = _cat(spark, sf_dir).table("orders").select("o_totalprice")
    b = F.floor(F.col("o_totalprice") / 25000.0)
    return o.groupBy(
        b.cast("long").alias("bin"), (b * 25000.0).alias("bin_lo")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))


@register(
    "stats_corr",
    """
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
           round(covar_samp(l_quantity, l_extendedprice), 2) AS covar_qty_price,
           round(stddev_samp(l_quantity), 4) AS sd_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stats_corr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped bivariate statistics (Pearson corr, sample covariance,
    stddev) — single-pass partial-aggregated moments, one tiny-output
    shuffle. Rounded (4dp / 2dp) on both sides: the engines' moment
    summation orders differ at ~1e-14 relative, ten orders of
    magnitude inside the rounding quantum."""
    li = _cat(spark, sf_dir).table("lineitem").select(
        "l_returnflag", "l_quantity", "l_extendedprice"
    )
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias("corr_qty_price"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 2).alias("covar_qty_price"),
        F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
    )


@register(
    "events_gapfill",
    """
    WITH c AS (
      SELECT event_type,
             time_bucket(INTERVAL '10 minutes', CAST(ts AS TIMESTAMP)) AS window_start,
             count(*) AS n
      FROM events GROUP BY 1, 2),
    r AS (SELECT event_type, min(window_start) AS mn, max(window_start) AS mx
          FROM c GROUP BY 1),
    g AS (SELECT event_type,
                 unnest(generate_series(mn, mx, INTERVAL 10 minutes)) AS window_start
          FROM r)
    SELECT g.event_type, g.window_start, coalesce(c.n, 0) AS n
    FROM g LEFT JOIN c USING (event_type, window_start)
    """,
)
def events_gapfill_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 10-min bucket counts per event type, empty buckets as 0 —
    the time_bucket_gapfill / hypertable-rollup shape; the dense axis
    is generated from per-key spans, never scanned
    (``ops.temporal.gap_fill_counts``)."""
    from mriya_spark.ops.temporal import gap_fill_counts

    ev = _cat(spark, sf_dir).table("events").select("event_type", "ts")
    return gap_fill_counts(ev, key="event_type", ts="ts", minutes=10)


# ---------------------------------------------------------------------------
# north-star: text analysis (ops.text)
# ---------------------------------------------------------------------------

@register(
    "text_stats",
    r"""
    SELECT doc_id,
           length(text) AS n_chars_calc,
           len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
           round((length(text) - len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) + 1)
                 / greatest(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')), 1), 4) AS avg_token_len,
           round(len(regexp_extract_all(text, '[^\w\s]')) / greatest(length(text), 1), 4) AS punct_ratio,
           round(len(regexp_extract_all(text, '[0-9]')) / greatest(length(text), 1), 4) AS digit_ratio
    FROM documents
    """,
)
def text_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token/char statistics (whitespace + BPE-ish regex
    tokenizers) — scan-speed, no shuffle."""
    from mriya_spark.ops.text import text_stats

    return text_stats(_cat(spark, sf_dir).table("documents"))


@register(
    "text_quality",
    r"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS n_tokens,
             length(text) AS n_chars,
             len(regexp_extract_all(lower(text), '\b(the|and|of|to|a)\b')) AS stop_hits,
             len(regexp_extract_all(text, '[^\w\s]')) AS n_sym
      FROM documents)
    SELECT doc_id, n_tokens,
           round( (CASE WHEN n_tokens BETWEEN 10 AND 100000 THEN 0.25 ELSE 0.0 END)
                + (CASE WHEN n_chars / greatest(n_tokens,1) BETWEEN 3 AND 12 THEN 0.25 ELSE 0.0 END)
                + least(stop_hits / greatest(n_tokens,1) * 2.5, 0.25)
                + (CASE WHEN n_sym / greatest(n_chars,1) <= 0.1 THEN 0.25 ELSE 0.0 END), 4)
             AS quality_score
    FROM t
    """,
)
def text_quality_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality score — the cheap pre-filter stage of a
    training-data pipeline."""
    from mriya_spark.ops.text import quality_score

    return quality_score(_cat(spark, sf_dir).table("documents"))


@register(
    "text_lang_id",
    r"""
    WITH h AS (
      SELECT doc_id, lang AS lang_label,
             len(regexp_extract_all(lower(text), '\b(the|and|of|to|a)\b'))    AS n_en,
             len(regexp_extract_all(lower(text), '\b(der|die|und|das|ein)\b')) AS n_de,
             len(regexp_extract_all(lower(text), '\b(el|la|los|que|una)\b'))   AS n_es,
             len(regexp_extract_all(lower(text), '\b(le|les|des|une|est)\b'))  AS n_fr
      FROM documents)
    SELECT doc_id, lang_label,
           CASE WHEN n_en + n_de + n_es + n_fr = 0 THEN 'und'
                WHEN n_de >= n_en AND n_de >= n_es AND n_de >= n_fr THEN 'de'
                WHEN n_en >= n_es AND n_en >= n_fr THEN 'en'
                WHEN n_es >= n_fr THEN 'es'
                ELSE 'fr' END AS lang_pred
    FROM h
    """,
)
def text_lang_id_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-anchor language ID (argmax, ties -> alphabetical)."""
    from mriya_spark.ops.text import lang_id

    return lang_id(_cat(spark, sf_dir).table("documents"))


@register(
    "text_fingerprint",
    r"""
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint,
           substring(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 2) AS shard_key
    FROM documents
    """,
)
def text_fingerprint_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized md5 fingerprint + 256-way shard key (the dedup
    partition column at scale)."""
    from mriya_spark.ops.text import fingerprint

    return fingerprint(_cat(spark, sf_dir).table("documents"))


@register(
    "lang_group_stats",
    r"""
    SELECT lang, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars,
           round(avg(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))), 4) AS avg_tokens
    FROM documents GROUP BY lang
    """,
)
def lang_group_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mriya_spark.ops.text import lang_group_stats

    return lang_group_stats(_cat(spark, sf_dir).table("documents"))


@register(
    "text_chunking",
    r"""
    WITH words AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
      FROM documents),
    st AS (
      SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 40)) AS s
      FROM words)
    SELECT doc_id,
           s // 40 AS chunk_idx,
           array_to_string(list_slice(w, s + 1, s + 50), ' ') AS chunk_text,
           len(list_slice(w, s + 1, s + 50)) AS n_chunk_tokens
    FROM st WHERE s < len(w)
    """,
)
def text_chunking_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (50-token windows, 10-token
    overlap) — the LLM-ingest flat-map; see ``ops.text.chunk_tokens``."""
    from mriya_spark.ops.text import chunk_tokens

    return chunk_tokens(_cat(spark, sf_dir).table("documents"))


@register(
    "text_gopher_signals",
    r"""
    WITH base AS (
      SELECT doc_id,
             list_filter(list_transform(string_split(text, chr(10)), l -> trim(l)),
                         l -> l <> '') AS lines,
             list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS words,
             text
      FROM documents),
    sig AS (
      SELECT doc_id,
             round((len(lines) - len(list_distinct(lines))) / greatest(len(lines), 1), 6) AS dup_line_frac,
             round(len(list_filter(lines, l -> regexp_matches(l, '^[-*•]'))) / greatest(len(lines), 1), 6) AS bullet_line_frac,
             round(len(list_filter(lines, l -> l LIKE '%...')) / greatest(len(lines), 1), 6) AS ellipsis_line_frac,
             round(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) / greatest(len(words), 1), 6) AS alpha_word_frac,
             round((len(regexp_extract_all(text, '#')) + len(regexp_extract_all(text, '\.\.\.')))
                   / greatest(len(words), 1), 6) AS symbol_word_ratio
      FROM base)
    SELECT *,
           (dup_line_frac > 0.30 OR bullet_line_frac > 0.90
            OR ellipsis_line_frac > 0.30 OR alpha_word_frac < 0.80
            OR symbol_word_ratio > 0.10) AS gopher_flagged
    FROM sig
    """,
)
def text_gopher_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4 repetition + composition cut signals (dup lines,
    bullet/ellipsis shapes, non-alpha words, symbol noise) — the
    standard pre-training quality filters, one scan-local projection."""
    from mriya_spark.ops.text import repetition_signals

    return repetition_signals(_cat(spark, sf_dir).table("documents"))


# ---------------------------------------------------------------------------
# north-star: dedup family (ops.dedup)
# ---------------------------------------------------------------------------
# Fixture corpora are dup-free at small SF, so dedup queries operate on
# documents UNION a deterministically re-keyed/perturbed sample — real
# duplicates with known structure, identical construction on both sides.

def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _cat(spark, sf_dir).table("documents")
    copies = docs.filter(F.col("doc_id") < 100).withColumn(
        "doc_id", F.col("doc_id") + 1_000_000
    )
    return docs.unionByName(copies)


_DUP_CORPUS_SQL = """
      SELECT * FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text, lang, source, n_chars
      FROM documents WHERE doc_id < 100
"""


@register(
    "dedup_exact",
    f"""
    WITH corpus AS ({_DUP_CORPUS_SQL})
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           min(doc_id) AS kept_doc_id,
           count(*) AS n_copies
    FROM corpus GROUP BY 1
    """,
)
def dedup_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on a corpus with 100 planted duplicates: one
    fingerprint shuffle, keep min doc_id."""
    from mriya_spark.ops.dedup import exact_dedup

    return exact_dedup(_dup_corpus(spark, sf_dir))


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents (id<300) + near-dup copies of id<100 docs with the
    first word dropped — known high-Jaccard pairs."""
    docs = _cat(spark, sf_dir).table("documents").filter(F.col("doc_id") < 300)
    perturbed = (
        _cat(spark, sf_dir)
        .table("documents")
        .filter(F.col("doc_id") < 100)
        .select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"),
            F.ltrim(F.regexp_replace(F.col("text"), r"^\S+\s*", "")).alias("text"),
        )
    )
    return docs.select("doc_id", "text").unionByName(perturbed)


_NEARDUP_CORPUS_SQL = r"""
      SELECT doc_id, text FROM documents WHERE doc_id < 300
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             ltrim(regexp_replace(text, '^\S+\s*', '')) AS text
      FROM documents WHERE doc_id < 100
"""


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
    words AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w FROM corpus),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                  ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
             END) AS shingles
      FROM words),
    inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 6) AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 6) >= 0.5
    """,
)
def dedup_ngram_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (inverted-index join) — the
    oracle-checkable ground truth for the MinHash-LSH path."""
    from mriya_spark.ops.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _neardup_corpus(spark, sf_dir), text_col="text", n=3, threshold=0.5
    )


@register(
    "dedup_clusters",
    rf"""
    WITH RECURSIVE corpus AS ({_NEARDUP_CORPUS_SQL}),
    words AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM corpus),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                  ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
             END) AS shingles
      FROM words),
    inv AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
    sizes AS (SELECT doc_id, len(shingles) AS n_sh FROM sh),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    pairs AS (
      SELECT doc_a, doc_b FROM shared
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE round(n_shared / (sa.n_sh + sb.n_sh - n_shared), 6) >= 0.5),
    edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION SELECT doc_b, doc_a FROM pairs),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
    comp AS (SELECT u AS doc_id, least(u, min(v)) AS comp FROM reach GROUP BY u)
    SELECT doc_id, comp FROM comp
    """,
)
def dedup_clusters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS resolved into clusters (connected components,
    smallest reachable doc_id as the component label) — the step that
    turns pairwise output into keep-one-per-group survivors. Spark:
    iterative min-label propagation; oracle: recursive-CTE transitive
    closure over the identical exact pair set."""
    from mriya_spark.caching import cache_scope
    from mriya_spark.ops.dedup import connected_components, ngram_jaccard_pairs

    # ONE scope around both stages: connected_components opening its
    # own OUTERMOST scope would evict the pair stage's shingle cache
    # first, and its edges materialization would re-run the whole
    # tokenize->hash->join pipeline (r10: 17s -> ~2s at sf0.1)
    with cache_scope():
        pairs = ngram_jaccard_pairs(
            _neardup_corpus(spark, sf_dir), text_col="text", n=3,
            threshold=0.5,
        )
        return connected_components(pairs)


@register("dedup_minhash_lsh", None)  # LSH recall < 1 by design -> rows-only
def dedup_minhash_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16x4 banded LSH near-dup pairs, Jaccard-verified.
    Deterministic (seeded) but probabilistic recall -> rows-only check;
    recall vs the exact ngram query is asserted in tests."""
    from mriya_spark.ops.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(
        _neardup_corpus(spark, sf_dir), text_col="text", n=3, threshold=0.5
    )


# Engine-portable MinHash family: permuted shingle hash i is
# md5('<i>:' || shingle)[:15 hex] — identical in Spark (conv) and
# DuckDB ('0x'||...). The oracle brute-forces all pairs and keeps
# those agreeing on >= 1 of the 16 bands, then applies the same exact
# Jaccard filter — banding is deterministic, so blocked Spark output
# must equal it exactly.
_MINHASH_PORTABLE_PERMS = ",\n             ".join(
    f"list_min(list_transform(shingles, s -> "
    f"('0x' || substr(md5('{i}:' || s), 1, 15))::BIGINT))"
    for i in range(64)
)
_MINHASH_BAND_MATCH = " OR ".join(
    "(" + " AND ".join(
        f"a.sig[{b * 4 + r + 1}] = b.sig[{b * 4 + r + 1}]" for r in range(4)
    ) + ")"
    for b in range(16)
)


@register(
    "dedup_minhash_lsh_portable",
    rf"""
    WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
    words AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
      FROM corpus),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                  ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
             END) AS shingles
      FROM words),
    sig AS (
      SELECT doc_id, shingles,
             [{_MINHASH_PORTABLE_PERMS}] AS sig
      FROM sh),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.shingles, b.shingles)) AS inter,
             len(a.shingles) AS la, len(b.shingles) AS lb
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      WHERE {_MINHASH_BAND_MATCH})
    SELECT doc_a, doc_b,
           round(inter::DOUBLE / (la + lb - inter), 6) AS jaccard
    FROM cand
    WHERE round(inter::DOUBLE / (la + lb - inter), 6) >= 0.5
    """,
)
def dedup_minhash_lsh_portable_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(64) + 16x4 banded LSH in the engine-portable md5 hash
    family: signatures, band buckets, candidates, and the exact-Jaccard
    verify all reproduce bit-for-bit in DuckDB, so the banded pipeline
    is hash-checked end to end (``ops.dedup.minhash_lsh_pairs_portable``;
    the xxhash64 production twin ``dedup_minhash_lsh`` stays rows-only
    by the nature of its hash family, with recall pinned in tests)."""
    from mriya_spark.ops.dedup import minhash_lsh_pairs_portable

    return minhash_lsh_pairs_portable(
        _neardup_corpus(spark, sf_dir), text_col="text", n=3, threshold=0.5
    )


# Engine-portable SimHash signature: 60 bits, per-shingle hash =
# first 15 hex chars of md5(gram string) — identical in Spark
# (conv(substr(md5(g),1,15),16,10)) and DuckDB ('0x'||...)::BIGINT.
# The oracle is BRUTE-FORCE all-pairs hamming; Spark uses pigeonhole
# blocking, whose recall at hamming <= max is GUARANTEED (Manku), so
# the two result sets are equal exactly, not approximately.
_SIMHASH_SIG_TERMS = " + ".join(
    f"(CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) > 0 "
    f"THEN (1::BIGINT << {j}) ELSE 0::BIGINT END)"
    for j in range(60)
)


@register(
    "dedup_simhash",
    rf"""
    WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
    words AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
      FROM corpus),
    sh AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 2 THEN [array_to_string(w, ' ')]
                  ELSE [array_to_string(w[i:i+1], ' ') FOR i IN range(1, len(w))]
             END) AS shingles
      FROM words),
    hashed AS (
      SELECT doc_id, ('0x' || substr(md5(unnest(shingles)), 1, 15))::BIGINT AS h
      FROM sh),
    sig AS (SELECT doc_id, {_SIMHASH_SIG_TERMS} AS simhash
            FROM hashed GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming <= 3, 4-block pigeonhole
    blocking, ``ops.dedup.simhash_candidates``) in the engine-portable
    60-bit md5 signature form: the DuckDB oracle brute-forces ALL
    pairs, and because multi-block blocking guarantees recall at the
    hamming budget, the blocked Spark result must match it exactly —
    a hash-green correctness row for a blocked candidate generator."""
    from mriya_spark.ops.dedup import simhash_pairs

    return simhash_pairs(
        _neardup_corpus(spark, sf_dir), text_col="text",
        hash_mode="md5_portable", n_bits=60,
    ).select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))


@register(
    "dedup_substring",
    rf"""
    WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
    words AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
      FROM corpus),
    pos0 AS (
      SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
      FROM words WHERE len(w) >= 8),
    grams AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
      FROM pos0),
    m AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id),
    isl AS (
      SELECT doc_a, doc_b, pa, pb, pa - pb AS diag,
             pa - row_number() OVER (PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS island
      FROM m)
    SELECT doc_a, doc_b,
           CAST(min(pa) AS BIGINT) AS start_a,
           CAST(min(pb) AS BIGINT) AS start_b,
           CAST(max(pa) - min(pa) + 8 AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_a, doc_b, diag, island
    """,
)
def dedup_substring_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level exact-substring dedup (Lee et al. 2022 semantics,
    blocked-join shape): maximal shared runs of >= 8 tokens across
    document pairs, with exact token offsets. The perturbed corpus
    plants one (len-1)-token span per (original, copy) pair; natural
    8-gram repeats in the synthetic text exercise the island grouping.
    Oracle: identical gram join on the gram STRINGS (Spark joins on
    xxhash64 of the words — identity-preserving up to 64-bit
    collisions)."""
    from mriya_spark.ops.dedup import substring_span_pairs

    return substring_span_pairs(_neardup_corpus(spark, sf_dir), k=8)


@register(
    "dedup_substring_self",
    r"""
    WITH corpus AS (
      SELECT doc_id, text || ' ' || text AS text
      FROM documents WHERE doc_id < 100),
    words AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
      FROM corpus),
    pos0 AS (
      SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
      FROM words WHERE len(w) >= 8),
    grams AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
      FROM pos0),
    m AS (
      SELECT a.doc_id, a.pos AS pa, b.pos AS pb
      FROM grams a JOIN grams b
        ON a.gram = b.gram AND a.doc_id = b.doc_id AND a.pos < b.pos),
    isl AS (
      SELECT doc_id, pa, pb, pb - pa AS diag,
             pa - row_number() OVER (PARTITION BY doc_id, pb - pa ORDER BY pa) AS island
      FROM m)
    SELECT doc_id,
           CAST(min(pa) AS BIGINT) AS start_a,
           CAST(min(pb) AS BIGINT) AS start_b,
           CAST(max(pa) - min(pa) + 8 AS BIGINT) AS span_tokens
    FROM isl GROUP BY doc_id, diag, island
    """,
)
def dedup_substring_self_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated spans (the within-doc half of span
    dedup): each doc is doubled (text || text), planting one full-length
    self-repeat per doc; natural internal repeats surface too
    (``ops.dedup.substring_self_spans``)."""
    from mriya_spark.ops.dedup import substring_self_spans

    docs = _cat(spark, sf_dir).table("documents").filter(F.col("doc_id") < 100)
    doubled = docs.select(
        "doc_id", F.concat("text", F.lit(" "), "text").alias("text")
    )
    return substring_self_spans(doubled, k=8)


@register(
    "dedup_span_surgery",
    r"""
    WITH corpus AS (
      SELECT doc_id, text || ' ' || text AS text
      FROM documents WHERE doc_id < 100),
    words AS (
      SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w
      FROM corpus),
    grams AS (
      SELECT doc_id, i - 1 AS pos, array_to_string(w[i:i+7], ' ') AS gram
      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
            FROM words WHERE len(w) >= 8)),
    m AS (
      SELECT a.doc_id, a.pos AS pa, b.pos AS pb
      FROM grams a JOIN grams b
        ON a.gram = b.gram AND a.doc_id = b.doc_id AND a.pos < b.pos),
    isl AS (
      SELECT doc_id, pa, pb, pb - pa AS diag,
             pa - row_number() OVER (PARTITION BY doc_id, pb - pa ORDER BY pa) AS island
      FROM m),
    spans AS (
      SELECT doc_id, min(pb) AS sb, max(pa) - min(pa) + 8 AS len
      FROM isl GROUP BY doc_id, diag, island
      HAVING max(pa) - min(pa) + 8 >= 8),
    mask AS (
      SELECT DISTINCT doc_id, unnest(range(sb, sb + len)) AS pos FROM spans),
    toks AS (
      SELECT doc_id, i - 1 AS pos, w[i] AS tok
      FROM (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM words)),
    kept AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM toks t LEFT JOIN mask k ON t.doc_id = k.doc_id AND t.pos = k.pos
      WHERE k.doc_id IS NULL),
    reb AS (
      SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS clean_text,
             count(*) AS nk
      FROM kept GROUP BY doc_id),
    nt AS (SELECT doc_id, len(w) AS n FROM words)
    SELECT nt.doc_id,
           coalesce(reb.clean_text, '') AS clean_text,
           CAST(nt.n - coalesce(reb.nk, 0) AS BIGINT) AS n_removed_tokens
    FROM nt LEFT JOIN reb USING (doc_id)
    """,
)
def dedup_span_surgery_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span SURGERY (Lee et al. 2022's actual operation): delete the
    later copy of every within-doc repeated run of >= 8 tokens and
    rebuild the text — each doubled document collapses back to ~one
    copy (``ops.dedup.remove_repeated_spans``)."""
    from mriya_spark.ops.dedup import remove_repeated_spans

    docs = _cat(spark, sf_dir).table("documents").filter(F.col("doc_id") < 100)
    doubled = docs.select(
        "doc_id", F.concat("text", F.lit(" "), "text").alias("text")
    )
    return remove_repeated_spans(doubled, k=8)


@register(
    "pipeline_decontaminate_ngram",
    _DECON_NGRAM_ORACLE_SQL := r"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    ref AS (
      SELECT doc_id, ltrim(regexp_replace(text, '^\S+\s*', '')) AS text
      FROM documents WHERE doc_id % 10 = 0),
    wc AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM corpus),
    wr AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM ref),
    gc AS (
      SELECT doc_id, array_to_string(w[i:i+7], ' ') AS gram
      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i
            FROM wc WHERE len(w) >= 8)),
    gr AS (
      SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS gram
      FROM (SELECT w, unnest(range(1, len(w) - 6)) AS i
            FROM wr WHERE len(w) >= 8)),
    dirty AS (SELECT DISTINCT doc_id FROM gc JOIN gr USING (gram))
    SELECT c.doc_id, c.text FROM corpus c
    LEFT JOIN dirty d USING (doc_id) WHERE d.doc_id IS NULL
    """,
)
def pipeline_decontaminate_ngram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style decontamination (Brown et al. 2020 App. C): drop
    corpus docs sharing ANY 8-token gram with the (perturbed-copy)
    reference set — the strictest leak scrub, fully deterministic and
    hash-checked (``ops.dedup.decontaminate_ngram``)."""
    from mriya_spark.ops.dedup import decontaminate_ngram

    docs = _cat(spark, sf_dir).table("documents")
    corpus = docs.select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.ltrim(F.regexp_replace("text", r"^\S+\s*", "")).alias("text"),
    )
    return decontaminate_ngram(corpus, ref, k=8)


@register(
    "decontaminate_report",
    r"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    ref AS (
      SELECT doc_id, ltrim(regexp_replace(text, '^\S+\s*', '')) AS text
      FROM documents WHERE doc_id % 10 = 0),
    wc AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM corpus),
    wr AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM ref),
    gc AS (
      SELECT doc_id, array_to_string(w[i:i+12], ' ') AS gram
      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 11)) AS i
            FROM wc WHERE len(w) >= 13)),
    gr AS (
      SELECT doc_id, array_to_string(w[i:i+12], ' ') AS gram
      FROM (SELECT doc_id, w, unnest(range(1, len(w) - 11)) AS i
            FROM wr WHERE len(w) >= 13)),
    hits AS (
      SELECT gr.doc_id AS ref_doc_id, gc.doc_id AS corpus_doc_id
      FROM gc JOIN gr USING (gram)
      GROUP BY 1, 2)
    SELECT ref_doc_id,
           CAST(count(*) AS BIGINT) AS n_leaking_docs
    FROM hits
    GROUP BY ref_doc_id
    """,
)
def decontaminate_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIT half of decontamination — before scrubbing, report
    which reference (eval-set) items leak and how widely: per ref doc,
    the number of distinct corpus docs sharing a 13-token gram. The
    operational step that tells you whether an eval suite is burned
    before you decide what to drop. Same inverted-gram equi-join shape
    as the scrub; output is bounded by the reference size."""
    from mriya_spark.ops.dedup import kgram_positions

    docs = _cat(spark, sf_dir).table("documents")
    corpus = docs.select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.ltrim(F.regexp_replace("text", r"^\S+\s*", "")).alias("text"),
    )
    gc = kgram_positions(corpus, text_col="text", k=13).select(
        F.col("doc_id").alias("corpus_doc_id"), "gram"
    )
    gr = kgram_positions(ref, text_col="text", k=13).select(
        F.col("doc_id").alias("ref_doc_id"), "gram"
    )
    hits = (
        gc.join(gr, on="gram")
        .select("ref_doc_id", "corpus_doc_id")
        .distinct()
    )
    return hits.groupBy("ref_doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_leaking_docs")
    )


@register(
    "split_leakage_check",
    r"""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN ('0x' || substr(md5('42_' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                       / 1152921504606846976.0 < 0.8
                  THEN 'train' ELSE 'holdout' END AS part
      FROM documents),
    w AS (SELECT doc_id, part, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM split),
    g AS (
      SELECT doc_id, part, array_to_string(w[i:i+12], ' ') AS gram
      FROM (SELECT doc_id, part, w, unnest(range(1, len(w) - 11)) AS i
            FROM w WHERE len(w) >= 13)),
    leaks AS (
      SELECT t.doc_id AS train_doc, h.doc_id AS holdout_doc
      FROM g t JOIN g h ON t.gram = h.gram
      WHERE t.part = 'train' AND h.part = 'holdout'
      GROUP BY 1, 2)
    SELECT CAST(count(*) AS BIGINT) AS n_leaked_pairs,
           CAST(count(DISTINCT holdout_doc) AS BIGINT) AS n_burned_holdout_docs
    FROM leaks
    """,
)
def split_leakage_check_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/holdout leakage QA: after the deterministic md5 split,
    count (train, holdout) doc pairs sharing a 13-token gram and the
    distinct burned holdout docs — the check a training pipeline runs
    BEFORE trusting its eval numbers (should be ~0 after span-level
    dedup; nonzero means the split leaked through near-duplicates the
    split hash cannot see). One inverted-gram equi-join between the
    two split sides; scalar output."""
    from mriya_spark.ops.dedup import kgram_positions
    from mriya_spark.portable import md5_uniform

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "text")
    is_train = md5_uniform(42, F.col("doc_id")) < 0.8
    t = kgram_positions(docs.filter(is_train), text_col="text", k=13).select(
        F.col("doc_id").alias("train_doc"), "gram"
    )
    h = kgram_positions(docs.filter(~is_train), text_col="text", k=13).select(
        F.col("doc_id").alias("holdout_doc"), "gram"
    )
    leaks = t.join(h, on="gram").select("train_doc", "holdout_doc").distinct()
    return leaks.agg(
        F.count(F.lit(1)).cast("long").alias("n_leaked_pairs"),
        F.count_distinct("holdout_doc").cast("long").alias(
            "n_burned_holdout_docs"
        ),
    )


@register("pipeline_decontaminate_ngram_bloom", _DECON_NGRAM_ORACLE_SQL)
def pipeline_decontaminate_ngram_bloom_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The GPT-3-style n-gram scrub with a Bloom pre-screen
    (``ops.dedup.decontaminate_ngram_bloom``): corpus grams are
    pruned scan-locally against a 4 KB md5-family filter of the
    reference grams BEFORE any shuffle; the exact verify join then
    removes the filter's false positives, so the result is
    IDENTICAL to ``pipeline_decontaminate_ngram`` — the two entries
    share one oracle, and what differs (and what PLANS.md shows) is
    that the clean-corpus majority never leaves its scan task."""
    from mriya_spark.ops.dedup import decontaminate_ngram_bloom

    docs = _cat(spark, sf_dir).table("documents")
    corpus = docs.select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.ltrim(F.regexp_replace("text", r"^\S+\s*", "")).alias("text"),
    )
    return decontaminate_ngram_bloom(corpus, ref, k=8)


@register(
    "sample_group_quota",
    """
    WITH ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY md5('42_' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
             ) AS grp_rank
      FROM documents)
    SELECT doc_id, lang, CAST(grp_rank AS BIGINT) AS grp_rank
    FROM ranked WHERE grp_rank <= 30
    """,
)
def sample_group_quota_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language quota sampling (the domain-mixing
    cap of corpus curation): at most 30 docs per lang, chosen by md5
    hash order — reproducible across runs and engines, one hash
    exchange, no global sort (``ops.quality.per_group_quota``)."""
    from mriya_spark.ops.quality import per_group_quota

    docs = _cat(spark, sf_dir).table("documents").select("doc_id", "lang")
    return per_group_quota(
        docs, group_col="lang", key_col="doc_id", quota=30, seed=42
    )


@register(
    "pipeline_decontaminate",
    r"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    ref AS (
      SELECT doc_id, ltrim(regexp_replace(text, '^\S+\s*', '')) AS text
      FROM documents WHERE doc_id % 10 = 0),
    wc AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM corpus),
    wr AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM ref),
    shc AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                  ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
             END) AS shingles
      FROM wc),
    shr AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                  ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
             END) AS shingles
      FROM wr),
    ia AS (SELECT doc_id, unnest(shingles) AS shingle FROM shc),
    ib AS (SELECT doc_id, unnest(shingles) AS shingle FROM shr),
    shared AS (
      SELECT ia.doc_id AS doc_a, ib.doc_id AS doc_b, count(*) AS n_shared
      FROM ia JOIN ib USING (shingle) GROUP BY 1, 2),
    dirty AS (
      SELECT DISTINCT s.doc_a AS doc_id
      FROM shared s
      JOIN (SELECT doc_id, len(shingles) AS n FROM shc) sa ON sa.doc_id = s.doc_a
      JOIN (SELECT doc_id, len(shingles) AS n FROM shr) sb ON sb.doc_id = s.doc_b
      WHERE round(s.n_shared / (sa.n + sb.n - s.n_shared), 6) >= 0.5)
    SELECT c.doc_id, c.text FROM corpus c
    LEFT JOIN dirty d USING (doc_id) WHERE d.doc_id IS NULL
    """,
)
def pipeline_decontaminate_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (exact ground-truth form): drop
    corpus docs near-duplicating any reference doc (here: perturbed
    copies of the first 50 docs stand in for a leaked eval set) —
    ``ops.dedup.decontaminate(method='exact')``."""
    from mriya_spark.ops.dedup import decontaminate

    docs = _cat(spark, sf_dir).table("documents")
    corpus = docs.select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.ltrim(F.regexp_replace("text", r"^\S+\s*", "")).alias("text"),
    )
    return decontaminate(corpus, ref, threshold=0.5, method="exact")


@register(
    "pipeline_decontaminate_lsh_portable",
    rf"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    ref AS (
      SELECT doc_id, ltrim(regexp_replace(text, '^\S+\s*', '')) AS text
      FROM documents WHERE doc_id % 10 = 0),
    wc AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM corpus),
    wr AS (SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS w FROM ref),
    shc AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                  ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
             END) AS shingles
      FROM wc),
    shr AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(w) < 3 THEN [array_to_string(w, ' ')]
                  ELSE [array_to_string(w[i:i+2], ' ') FOR i IN range(1, len(w) - 1)]
             END) AS shingles
      FROM wr),
    sigc AS (SELECT doc_id, shingles, [{_MINHASH_PORTABLE_PERMS}] AS sig FROM shc),
    sigr AS (SELECT doc_id, shingles, [{_MINHASH_PORTABLE_PERMS}] AS sig FROM shr),
    cand AS (
      SELECT a.doc_id AS doc_a,
             len(list_intersect(a.shingles, b.shingles)) AS inter,
             len(a.shingles) AS la, len(b.shingles) AS lb
      FROM sigc a JOIN sigr b ON ({_MINHASH_BAND_MATCH})),
    dirty AS (
      SELECT DISTINCT doc_a AS doc_id FROM cand
      WHERE round(inter::DOUBLE / (la + lb - inter), 6) >= 0.5)
    SELECT c.doc_id, c.text FROM corpus c
    LEFT JOIN dirty d USING (doc_id) WHERE d.doc_id IS NULL
    """,
)
def pipeline_decontaminate_lsh_portable_q(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bipartite MinHash-LSH decontamination, engine-portable md5 hash
    family: the banded candidate join, Jaccard verify, and anti-join
    reproduce exactly in DuckDB (brute-force band-match oracle) —
    hash-green proof of the scale path's mechanics
    (``ops.dedup.decontaminate_minhash_portable``)."""
    from mriya_spark.ops.dedup import decontaminate_minhash_portable

    docs = _cat(spark, sf_dir).table("documents")
    corpus = docs.select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.ltrim(F.regexp_replace("text", r"^\S+\s*", "")).alias("text"),
    )
    return decontaminate_minhash_portable(corpus, ref, threshold=0.5)


@register("pipeline_decontaminate_lsh", None)  # LSH recall < 1 -> rows-only
def pipeline_decontaminate_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for ``pipeline_decontaminate``: banded MinHash
    on both sides, candidates from the (band, bucket) equi-join —
    reference-side index broadcastable — exact-Jaccard verified.
    Recall vs the exact form asserted in tests."""
    from mriya_spark.ops.dedup import decontaminate

    docs = _cat(spark, sf_dir).table("documents")
    corpus = docs.select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id",
        F.ltrim(F.regexp_replace("text", r"^\S+\s*", "")).alias("text"),
    )
    return decontaminate(corpus, ref, threshold=0.5, method="minhash_lsh")


@register(
    "dedup_embedding_cosine",
    """
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0) AS v
      FROM embeddings WHERE vec_id < 20)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine_sim
    FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.99
    """,
)
def dedup_embedding_cosine_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs on a corpus with 20 planted
    scaled copies (cosine == 1.0)."""
    from mriya_spark.ops.vector import cosine_near_dup_pairs

    emb = _cat(spark, sf_dir).table("embeddings")
    base = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 2.0).alias(
            "embedding"
        ),
    )
    corpus = base.unionByName(copies)
    return cosine_near_dup_pairs(corpus, threshold=0.99)


def _emb_lsh_oracle_sql() -> str:
    """Oracle for the sign-bit-LSH embedding dedup: the 4x8 seeded
    hyperplanes are DETERMINISTIC floats, inlined as SQL literals, so
    DuckDB recomputes the identical sign-bit buckets (a sign flip
    would need |dot| ~ 1e-16 — ten orders below any real projection),
    brute-forces pairs agreeing on >= 1 table, and applies the same
    rounded exact-cosine filter. The blocked Spark result equals it
    exactly."""
    from mriya_spark.ops.vector import hyperplanes

    tables = [hyperplanes(64, 8, 42 + 7919 * t) for t in range(4)]
    bucket_cols = []
    for t, planes in enumerate(tables):
        bits = " + ".join(
            "(CASE WHEN list_dot_product(v, ["
            + ", ".join(repr(x) for x in plane)
            + f"]) > 0 THEN {1 << i} ELSE 0 END)"
            for i, plane in enumerate(planes)
        )
        bucket_cols.append(f"{bits} AS b{t}")
    band_match = " OR ".join(f"a.b{t} = c.b{t}" for t in range(4))
    return f"""
    WITH corpus AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000 AS vec_id,
             list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2.0) AS v
      FROM embeddings WHERE vec_id < 20),
    bkt AS (SELECT vec_id, v, {", ".join(bucket_cols)} FROM corpus)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_cosine_similarity(a.v, c.v), 6) AS cosine_sim
    FROM bkt a JOIN bkt c ON a.vec_id < c.vec_id AND ({band_match})
    WHERE round(list_cosine_similarity(a.v, c.v), 6) >= 0.99
    """


@register("dedup_embedding_cosine_lsh", _emb_lsh_oracle_sql())
def dedup_embedding_cosine_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale path for ``dedup_embedding_cosine``: multi-table
    sign-bit LSH blocking + exact cosine verify within buckets (same
    planted-copies corpus). Hash-checked since r7: the seeded
    hyperplanes inline into the oracle as literals, so the bucketed
    candidate set reproduces exactly in DuckDB
    (``_emb_lsh_oracle_sql``); planted-pair recall additionally pinned
    in tests."""
    from mriya_spark.ops.vector import cosine_near_dup_pairs_blocked

    emb = _cat(spark, sf_dir).table("embeddings")
    base = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    copies = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 2.0).alias(
            "embedding"
        ),
    )
    corpus = base.unionByName(copies)
    return cosine_near_dup_pairs_blocked(corpus, threshold=0.99)
