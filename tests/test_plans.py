"""Physical-plan regression tests: the scale properties of §2 operators.

Correctness is the oracle gate's job; these tests pin the *plan shape*
— the properties that decide whether an operator survives a 100x
scale-up:

- filters and column pruning reach the parquet scan (no full-table
  reads feeding a 2-column projection),
- dimension joins broadcast instead of shuffling the fact side,
- aggregations do a map-side partial pass (one shuffle, not raw rows),
- top-k never runs a global sort,
- pure filters/projections stay exchange-free.

The reference achieved the same goals by hand-compiling predicates and
column lists into SOQL strings (`/root/reference/mapping_parser.py:31-41`,
`:39-40`); here Catalyst must do it, and a refactor that silently breaks
pushdown would pass every value check while 100x-ing the IO. Hence plan
assertions.
"""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entry_mod

SF = "/root/testdata/sf0.001"  # plan shape is scale-invariant; use tiny


@pytest.fixture(scope="module")
def queries():
    return entry_mod.queries()


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def n_shuffles(plan: str) -> int:
    """Count shuffle exchanges (broadcast exchanges excluded)."""
    return len(re.findall(r"Exchange (?:hash|range|Single)", plan))


def test_filter_pushdown_reaches_scan(spark, queries):
    plan = formatted(queries["filter_expr"](spark, SF))
    m = re.search(r"PushedFilters: \[(.*?)\]", plan)
    assert m, plan
    assert "GreaterThan" in m.group(1) or "LessThan" in m.group(1), m.group(1)


def test_column_pruning_reaches_scan(spark, queries):
    plan = formatted(queries["project_columns"](spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    # projection selects a strict subset of customer's 5+ columns
    assert 1 <= len(m.group(1).split(",")) <= 3, m.group(1)


def test_pure_filter_and_project_are_exchange_free(spark, queries):
    for name in ("filter_expr", "filter_isin", "project_columns", "limit_rows"):
        assert n_shuffles(executed_plan(queries[name](spark, SF))) == 0, name


def test_dimension_lookup_join_broadcasts(spark, queries):
    plan = executed_plan(queries["join_lookup"](spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert n_shuffles(plan) == 0  # fact side flows through unshuffled


def test_semi_and_anti_join_broadcast_the_id_side(spark, queries):
    for name in ("join_semi", "join_anti"):
        plan = executed_plan(queries[name](spark, SF))
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_groupby_agg_is_partial_then_final_one_shuffle(spark, queries):
    plan = executed_plan(queries["agg_groupby"](spark, SF))
    # two HashAggregates (map-side partial + reduce-side final)...
    assert len(re.findall(r"HashAggregate", plan)) >= 2
    # ...around exactly one shuffle on the grouping keys
    assert n_shuffles(plan) == 1, plan


def test_exact_dedup_is_single_shuffle(spark, queries):
    plan = executed_plan(queries["dedup_exact"](spark, SF))
    assert len(re.findall(r"HashAggregate", plan)) >= 2
    assert n_shuffles(plan) == 1, plan


def test_topk_uses_take_ordered_not_global_sort(spark, queries):
    plan = executed_plan(queries["orderby_topk"](spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert n_shuffles(plan) == 0


def test_agg_count_reads_no_columns(spark, queries):
    plan = formatted(queries["agg_count"](spark, SF))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and m.group(1).strip() == "", "count(*) should scan zero columns"


def test_multi_join_broadcast_hint_is_size_gated(spark, queries):
    """join_inner_multi's broadcast of the customer⋈orders side must be
    conditional: Spark honors explicit hints unconditionally (never
    demoted past the threshold), so an unconditional hint on a
    fact-derived side is a driver OOM at scale. Simulate 'orders is too
    big to broadcast' by zeroing the threshold and assert the hint
    comes off."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "-1")
        plan = executed_plan(queries["join_inner_multi"](spark, SF))
        assert "BroadcastHashJoin" not in plan, plan
    finally:
        spark.conf.set(key, saved)
    # at test scale (orders « threshold) the hint is on: lineitem
    # streams, the dimension-bounded side builds the broadcast map
    plan = executed_plan(queries["join_inner_multi"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_migration_pipeline_whole_stage_codegen(spark, queries):
    """The flagship ETL DAG stays inside codegen (no interpreted
    row-at-a-time stages — the reference's whole execution model,
    `migration_engine.py:25-41`, is what this engine must not recreate)."""
    df = queries["migration_pipeline"](spark, SF)
    # AQE finalizes (and codegens) the plan only on execution; collect
    # drives THIS DataFrame's QueryExecution (a write would plan its own)
    df.collect()
    plan = executed_plan(df)
    assert "isFinalPlan=true" in plan
    # codegen'd operators print as "*(n) Op" in the executed plan
    assert re.search(r"\*\(\d+\)", plan), plan


def test_blocked_neardup_candidates_are_equi_joins(spark, queries):
    """The LSH/SimHash/cosine blocking exists to turn all-pairs compare
    into bucket equi-joins — if a refactor drops the equi-keys, Spark
    silently degrades to BroadcastNestedLoopJoin/Cartesian and the op
    is O(n^2) again. Only the exact oracle twin (dedup_embedding_cosine,
    dedup_ngram_jaccard's shared-shingle join) may keep a theta join."""
    for name in ("dedup_minhash_lsh", "dedup_simhash",
                 "dedup_embedding_cosine_lsh", "dedup_substring",
                 "pipeline_decontaminate_ngram",
                 "dedup_minhash_lsh_portable"):
        plan = executed_plan(queries[name](spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_ivf_probe_is_equi_join_on_cell(spark, queries):
    plan = executed_plan(queries["similarity_ann_ivf"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_write_enables_partition_pruning(spark, tmp_path):
    """Hive-partitioned layout + a partition-column filter must prune
    at the directory level: the scan's PartitionFilters carry the
    predicate and non-matching partitions never become input splits —
    at 100 TB this is the difference between scanning one language and
    scanning the corpus."""
    from mriya_spark.catalog import Catalog

    docs = Catalog(spark, SF).table("documents").select("doc_id", "lang", "n_chars")
    path = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(path)
    scan = spark.read.parquet(path).filter("lang = 'en'").select("doc_id")
    plan = formatted(scan)
    assert re.search(r"PartitionFilters: \[.*lang.*\]", plan), plan
    n_en = docs.filter("lang = 'en'").count()
    assert scan.count() == n_en


def test_scd2_merge_broadcasts_update_batch_no_target_shuffle(spark, queries):
    # the (small) update batch pays a lead-window + min-agg shuffle;
    # the TARGET side must stay shuffle-free with the per-key-min
    # broadcast onto it
    plan = executed_plan(queries["sink_scd2_merge"](spark, SF))
    assert n_shuffles(plan) <= 2, plan
    assert "BroadcastHashJoin" in plan


def test_chunking_is_scan_local(spark, queries):
    plan = executed_plan(queries["text_chunking"](spark, SF))
    assert n_shuffles(plan) == 0, plan


def test_curation_recipe_single_shuffle(spark, queries):
    # quality/lang filters are scan-local; the one shuffle is the
    # exact-dedup fingerprint window
    plan = executed_plan(queries["curation_recipe"](spark, SF))
    assert n_shuffles(plan) == 1, plan


def test_bigvocab_classifier_broadcasts_instead_of_inlining(spark, queries):
    """r10 judge directive 6 'done' condition: at production vocabulary
    size the scorer's plan must carry the weights through a
    BroadcastExchange (one broadcast hash join against the generated
    weight table), NOT as an inlined literal array — a 65536-element
    constant would put a multi-hundred-KB literal in every task's
    plan and seconds of driver-side expression build."""
    df = queries["text_classifier_score_bigvocab"](spark, SF)
    plan = executed_plan(df)
    assert "BroadcastExchange" in plan, plan
    # no giant folded array constant: the literal path's plan embeds
    # thousands of comma-separated ints; the broadcast path must not
    assert not re.search(r"(-?\d+,\s*){1000,}", plan)
    # the 4096-bucket literal twin stays shuffle-free (map-only scoring)
    lit_plan = executed_plan(queries["text_classifier_score"](spark, SF))
    assert n_shuffles(lit_plan) == 0, lit_plan


def test_gate_order_is_staleness_first():
    """The driver's gate records a capped number of entries per round, so
    __spark_entry__.queries() must yield (1) never-officially-recorded
    queries first, then (2) queries whose newest official row failed,
    then (3) green queries from stalest to freshest round — so every
    query's newest official row stays at most a couple of rounds old.
    The ordering is harness policy and lives in the entry module; the
    library registry stays in registration order."""
    import __spark_entry__ as entry_mod
    from mriya_spark.queries import REGISTRY

    history = entry_mod._gate_history()
    names = list(entry_mod.queries())
    assert set(names) == set(REGISTRY)
    # the library itself must NOT reorder (gate policy != semantics)
    from mriya_spark.queries import queries as lib_queries

    assert list(lib_queries()) == list(REGISTRY)

    from mriya_spark.queries import oracle_sql as lib_oracles

    oracles = lib_oracles()
    reg_index = {n: i for i, n in enumerate(REGISTRY)}
    stored = entry_mod._gate_digests()
    live = {
        n: entry_mod._query_digest(fn, oracles.get(n))
        for n, fn in lib_queries().items()
    }
    current = max((r for _, r, _ in history.values()), default=0) + 1
    keys = [
        entry_mod._gate_sort_key(
            n, history, oracles, reg_index, stored, live, current
        )[:2]
        for n in names
    ]
    assert keys == sorted(keys), (
        "queries() must order by (never-recorded/upgraded, failed, "
        f"stalest-green) but got keys {keys}"
    )
    # with r1+r2 history present, both tiers must actually occur
    if any(t == (2, 1) for t in keys) and any(t == (2, 2) for t in keys):
        assert keys.index((2, 2)) > keys.index((2, 1))


def test_gate_history_tiers_from_synthetic_files(tmp_path):
    """Direct tier-assignment check against hand-built CORRECTNESS
    files (the prior test only verified sort-vs-history consistency):
    green-then-failed must DEMOTE to the failed tier, failed-then-green
    must promote, and round files must be ordered numerically (r10
    after r9) rather than lexicographically."""
    import json

    import __spark_entry__ as entry_mod

    def row(green: bool):
        return {
            "rows_match": green, "schema_match": green, "hash_match": green,
            "spark_rows": 5, "oracle_rows": 5 if green else None,
            "err": None if green else "hash_mismatch",
        }

    no_oracle = {"rows_match": None, "schema_match": None, "hash_match": None,
                 "spark_rows": 7, "oracle_rows": None, "err": "no_oracle"}

    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "green_then_failed": row(True),
        "failed_then_green": row(False),
        "green_only": row(True),
        "rows_only": no_oracle,
    }))
    # round 10: lexicographically "r10" < "r2" — numeric order must win
    (tmp_path / "CORRECTNESS_r10.json").write_text(json.dumps({
        "green_then_failed": row(False),
        "failed_then_green": row(True),
    }))

    hist = entry_mod._gate_history(root=tmp_path)
    assert hist["green_then_failed"] == (1, 10, False)  # regressed -> failed
    assert hist["failed_then_green"] == (2, 10, False)  # recovered -> green
    assert hist["green_only"] == (2, 2, False)
    assert hist["rows_only"] == (2, 2, True)  # no_oracle green, flagged
    assert "never_recorded" not in hist
    # a rows-only query that GAINS an oracle sorts with the
    # never-recorded tier (its hash-green flip needs a slot); without
    # an oracle it stays a stale-green tier-2 entry
    reg_index = {"rows_only": 0, "green_only": 1}
    assert entry_mod._gate_sort_key(
        "rows_only", hist, {"rows_only": "SELECT 1"}, reg_index, {}, {}
    )[0] == 0
    # rows-only BY DESIGN (r10 judge directive 7): green but
    # deprioritized BELOW fresh greens — slots go to hash-checkable rows
    assert entry_mod._gate_sort_key(
        "rows_only", hist, {}, reg_index, {}, {}
    )[0] == 3
    # ... unless its record is >= 8 rounds stale (r17 judge directive
    # 6, anti-starvation): then it re-enters the normal green pool so
    # the no-oracle harness path re-executes at least every 8 rounds
    assert entry_mod._gate_sort_key(
        "rows_only", hist, {}, reg_index, {}, {}, current_round=10
    )[0] == 2
    assert entry_mod._gate_sort_key(
        "rows_only", hist, {}, reg_index, {}, {}, current_round=9
    )[0] == 3
    # an oracled green (digest unchanged) stays tier 2
    assert entry_mod._gate_sort_key(
        "green_only", hist, {"green_only": "SELECT 2"}, reg_index, {}, {}
    )[0] == 2


def test_gate_reprioritizes_materially_changed_queries():
    """r10 judge directive 2: a green official row describing RETIRED
    code must not let an edited query coast. A digest-sidecar mismatch
    (oracle edited, sidecar not yet refreshed) or a sidecar 'since'
    round newer than the official row both re-sort the query with the
    never-recorded tier."""
    import __spark_entry__ as entry_mod

    hist = {"q": (2, 9, False)}
    reg_index = {"q": 0}
    oracles = {"q": "SELECT 1"}
    dig = entry_mod._query_digest(lambda s, d: None, "SELECT 1")
    # digest matches, recorded after since -> normal stale-green tier
    assert entry_mod._gate_sort_key(
        "q", hist, oracles, reg_index,
        {"q": {"digest": dig, "since": 0}}, {"q": dig},
    )[0] == 2
    # changed after the official row (since > recorded round)
    assert entry_mod._gate_sort_key(
        "q", hist, oracles, reg_index,
        {"q": {"digest": dig, "since": 10}}, {"q": dig},
    )[0] == 0
    # live digest no longer matches the sidecar (edit, sidecar stale)
    assert entry_mod._gate_sort_key(
        "q", hist, oracles, reg_index,
        {"q": {"digest": "dead", "since": 0}}, {"q": dig},
    )[0] == 0
    # no sidecar at all (fresh checkout): no re-prioritization
    assert entry_mod._gate_sort_key(
        "q", hist, oracles, reg_index, {}, {"q": dig}
    )[0] == 2
    # a materially changed ROWS-ONLY query also re-records promptly
    ro_hist = {"r": (2, 9, True)}
    assert entry_mod._gate_sort_key(
        "r", ro_hist, {}, {"r": 0},
        {"r": {"digest": "dead", "since": 0}}, {"r": "live"},
    )[0] == 0
    assert entry_mod._gate_sort_key(
        "r", ro_hist, {}, {"r": 0},
        {"r": {"digest": "live", "since": 0}}, {"r": "live"},
    )[0] == 3


def test_gate_digest_sidecar_matches_live_digests():
    """GATE_DIGESTS.json must describe the code as committed: a query
    whose live ``_query_digest`` differs from its sidecar entry burns a
    capped gate slot every round until the sidecar is refreshed
    (``python tools/update_gate_digests.py``)."""
    from mriya_spark.queries import oracle_sql, queries

    stored = entry_mod._gate_digests()
    oracles = oracle_sql()
    stale = sorted(
        name
        for name, fn in queries().items()
        if stored.get(name, {}).get("digest")
        != entry_mod._query_digest(fn, oracles.get(name))
    )
    assert stale == [], (
        f"{len(stale)} stale GATE_DIGESTS.json entries {stale}: run "
        "python tools/update_gate_digests.py"
    )


def test_query_digest_sees_constants_not_docstrings():
    """r11 advice: co_code alone is identical across constant-only
    edits (a threshold/batch-size tweak leaves the bytecode untouched
    — the constant lives in co_consts), so such edits escaped the
    changed-query gate re-priority. The digest must now change on a
    constant edit (including one inside a nested function) and still
    NOT change on a docstring-only edit; set/frozenset constants must
    digest identically across processes (hash-seed-independent)."""
    import __spark_entry__ as entry_mod

    def q1(spark, sf):
        """v1 docs."""
        return max_batch(6)  # noqa: F821

    def q1_docs_only(spark, sf):
        """v2 docs, same code and constants."""
        return max_batch(6)  # noqa: F821

    def q1_const_edit(spark, sf):
        """v1 docs."""
        return max_batch(7)  # noqa: F821

    def q_nested_a(spark, sf):
        def inner(x):
            return x + 12

        return inner

    def q_nested_b(spark, sf):
        def inner(x):
            return x + 13

        return inner

    d = entry_mod._query_digest
    assert d(q1, None) == d(q1_docs_only, None)
    assert d(q1, None) != d(q1_const_edit, None)
    assert d(q_nested_a, None) != d(q_nested_b, None)

    def q_set(spark, sf):
        return {"alpha", "beta", "gamma", "delta"}

    # frozenset iteration order is hash-seed-dependent per process;
    # the digest sorts members, so two computations agree (the real
    # cross-process guarantee is exercised every round when the gate
    # compares live digests against the GATE_DIGESTS.json sidecar)
    assert d(q_set, None) == d(q_set, None)


def test_query_digest_sees_module_level_constants():
    """r12 judge directive 6: a constant referenced via LOAD_GLOBAL
    (module-level ``_ISIN_KEYS`` / ``_BPE_MERGES``) lives in neither
    co_code nor co_consts — a Spark-side-only edit to one must still
    move the digest so the gate re-records the query. Shared CODE
    globals (functions, modules, classes) stay out of scope: editing
    an op a query calls must NOT burn a gate slot (those edits
    re-verify via tests and tri-SF sweeps instead)."""
    import types

    import __spark_entry__ as entry_mod

    d = entry_mod._query_digest

    # a fake module namespace so the test controls __globals__
    def make_fn(const_val, helper):
        ns = {"_LIMIT_KEYS": const_val, "helper_op": helper, "types": types}
        code = compile(
            "def q(spark, sf):\n"
            "    return helper_op(_LIMIT_KEYS)\n",
            "<gate-digest-test>",
            "exec",
        )
        exec(code, ns)
        return ns["q"]

    h1, h2 = (lambda x: x), (lambda x: x + 1 if isinstance(x, int) else x)
    base = make_fn([1, 2, 3], h1)
    const_edit = make_fn([1, 2, 4], h1)
    helper_edit = make_fn([1, 2, 3], h2)
    assert d(base, None) != d(const_edit, None), (
        "a module-constant edit must move the digest"
    )
    assert d(base, None) == d(helper_edit, None), (
        "a shared-op (callable global) edit must NOT move the digest"
    )

    # nested code objects' globals count too (constants read inside
    # an inner pandas UDF), and non-literal objects digest by type
    # name, never by a repr that could embed a memory address
    def make_nested(const_val):
        ns = {"_THRESH": const_val}
        code = compile(
            "def q(spark, sf):\n"
            "    def inner(x):\n"
            "        return x + _THRESH\n"
            "    return inner\n",
            "<gate-digest-test>",
            "exec",
        )
        exec(code, ns)
        return ns["q"]

    assert d(make_nested(5), None) != d(make_nested(6), None)

    class Opaque:
        pass

    ns_obj_a = make_fn(Opaque(), h1)
    ns_obj_b = make_fn(Opaque(), h1)
    assert d(ns_obj_a, None) == d(ns_obj_b, None), (
        "non-literal globals must digest by type, not object identity"
    )


def test_bucketed_join_has_no_exchange_on_either_side(spark):
    """The co-located join contract: two tables bucketed 8 ways on the
    same key, joined on that key, must plan a per-bucket sort-merge
    join with ZERO shuffle exchanges (broadcast disabled to force the
    merge path — broadcast would also be shuffle-free but wouldn't
    prove co-location). The scan must report the bucketed layout."""
    from mriya_spark.ops.bucketing import bucketed_join, write_bucketed

    left = spark.range(0, 2000).selectExpr("id AS k", "id * 2 AS a")
    right = spark.range(0, 2000).selectExpr("id AS k", "id % 7 AS b")
    for t in ("bkt_plan_left", "bkt_plan_right"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    write_bucketed(left, "bkt_plan_left", buckets=8, bucket_cols=["k"],
                   sort_cols=["k"])
    write_bucketed(right, "bkt_plan_right", buckets=8, bucket_cols=["k"],
                   sort_cols=["k"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = bucketed_join(spark, "bkt_plan_left", "bkt_plan_right", on=["k"])
        plan = executed_plan(j)
        fmt = formatted(j)
        assert "SortMergeJoin" in plan
        assert n_shuffles(plan) == 0, plan
        assert "Bucketed: true" in fmt
        assert j.count() == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        for t in ("bkt_plan_left", "bkt_plan_right"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_join_bucketed_query_matches_plain_join(spark, queries):
    """Registered query smoke: bucketed result == plain parquet join
    (layout must never change results)."""
    import __spark_entry__ as m

    sf = "/root/testdata/sf0.001"
    got = {
        (r.o_orderpriority): (r.revenue, r.n_items)
        for r in queries["join_bucketed"](spark, sf).collect()
    }
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    from pyspark.sql import functions as F

    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(li.l_extendedprice * (1 - li.l_discount)), 2).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    want = {r.o_orderpriority: (r.rev, r.n) for r in plain.collect()}
    assert got == want


def test_headline_queries_have_no_row_python(spark, queries):
    """No bench headline query may contain a row-at-a-time Python eval
    node (BatchEvalPython): Python in the data path is only sanctioned
    through Arrow-batched forms (ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas). Guards against a future op accidentally
    registering a plain @udf."""
    from bench import HEADLINE

    sf = "/root/testdata/sf0.001"
    audited = 0
    for name in HEADLINE:
        if name not in queries:
            continue
        df = queries[name](spark, sf)
        # audited WITHOUT executing (r20, suite-wall item): AQE
        # re-optimization never introduces or removes Python eval
        # nodes — BatchEvalPython vs ArrowEvalPython is decided at
        # physical planning — so the pre-execution plan is
        # authoritative for THIS audit (the exchange-count ceilings,
        # which AQE does change, still execute in their own tests).
        # Skipping the 59 collects cut ~90 s from the suite.
        plan = executed_plan(df)
        assert "BatchEvalPython" not in plan, f"{name} has row-wise Python"
        audited += 1
    assert audited >= 14


def test_r15_queries_shuffle_ceilings(spark, queries):
    """Pin the r15 additions' exchange budgets. Ceilings use THIS
    file's raw plan-string count, which (unlike PLANS.md's walker:
    4/5/2 distinct shuffles at the tip) also counts the exchanges a
    persisted/reused subtree reprints inline — measured 8/10/4 at the
    r15 tip, pinned exactly. A regression that re-derives the shared
    vseg, loses a broadcast to a shuffle join, or adds a global sort
    shows up here as a ceiling break, not as a silent bench drift."""
    sf = "/root/testdata/sf0.001"
    ceilings = {
        "tokenizer_pack_bestfit": 8,
        "join_fuzzy_multiblock": 10,
        "tokenizer_vocab_topk": 4,
    }
    for name, cap in ceilings.items():
        df = queries[name](spark, sf)
        df.collect()  # finalize AQE
        got = n_shuffles(executed_plan(df))
        assert got <= cap, f"{name}: {got} shuffles > ceiling {cap}"


def test_fuzzy_join_verify_is_bounded_and_single_pass_unaggregated(
    spark, queries
):
    """Every Levenshtein evaluation in the blocked fuzzy joins is the
    banded form bounded at max_dist (``Some(2)``), never the unbounded
    ``None`` form — Catalyst pushes the ``dist`` filter into the join
    condition and recomputes ``dist`` above it, so an unbounded call
    would run the full quadratic DP twice per candidate. The one-pass
    join emits each pair once, so it must carry no per-pair Aggregate
    over (id_a, id_b); the multi-pass join must keep it."""
    for name, want_agg in (
        ("join_fuzzy_blocked", False),
        ("join_fuzzy_multiblock", True),
    ):
        plan = (
            queries[name](spark, SF)._jdf.queryExecution()
            .optimizedPlan().toString()
        )
        calls = re.findall(r"levenshtein\((?:[^()]|\([^()]*\))*\)", plan)
        assert calls, f"{name}: no levenshtein in the optimized plan"
        assert all(c.endswith(", Some(2))") for c in calls), (name, calls)
        has_agg = bool(re.search(r"Aggregate \[id_a#\d+L?, id_b#\d+L?\]", plan))
        assert has_agg == want_agg, (name, plan)


def test_zorder_layout_shrinks_rowgroup_rectangles(spark, tmp_path):
    """The point of the Morton layout: with rows z-ordered on (a, b),
    every parquet row group covers a small RECTANGLE in (a, b) space,
    so min/max stats prune range predicates on EITHER column. Compare
    against an a-sorted layout: equally good on a, useless on b."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from mriya_spark.ops.layout import write_zordered

    n = 1 << 14  # uniform 128x128 grid
    grid = spark.range(n).select(
        (F.col("id") % 128).alias("a"),
        F.floor(F.col("id") / 128).alias("b"),
        F.col("id").alias("payload"),
    )
    zpath, spath = str(tmp_path / "z"), str(tmp_path / "s")
    write_zordered(grid, zpath, "a", "b", block_bytes=32 * 1024)
    (
        grid.orderBy("a", "b").write.mode("overwrite")
        .option("parquet.block.size", 32 * 1024).parquet(spath)
    )

    def avg_extent(path, col):
        import glob
        import os

        spans, total = [], 0
        for f in glob.glob(os.path.join(path, "part-*.parquet")):
            meta = pq.ParquetFile(f).metadata
            for g in range(meta.num_row_groups):
                idx = [
                    i for i in range(meta.num_columns)
                    if meta.row_group(g).column(i).path_in_schema == col
                ][0]
                st = meta.row_group(g).column(idx).statistics
                spans.append(st.max - st.min)
                total += 1
        assert total >= 8, f"too few row groups ({total}) to compare"
        return sum(spans) / len(spans)

    # z-order: BOTH dims bounded well below the 0..127 full range
    assert avg_extent(zpath, "a") < 64
    assert avg_extent(zpath, "b") < 64
    # lexicographic: b's extent is ~the full domain (no pruning power)
    assert avg_extent(spath, "b") > 100


def test_shard_shuffle_one_hash_exchange_no_global_sort(spark, queries):
    """The reshard op is exactly one hash exchange on the shard id
    plus an in-partition sort for the row_number — no range exchange
    (global sort) anywhere."""
    plan = executed_plan(queries["shard_shuffle"](spark, SF))
    assert n_shuffles(plan) == 1, plan
    assert "Exchange hashpartitioning(shard" in plan, plan
    assert "Exchange rangepartitioning" not in plan, plan


def test_shard_shuffle_deterministic_and_balanced(spark):
    from mriya_spark.ops.layout import shard_shuffle

    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = shard_shuffle(df, key_col="doc_id", num_shards=8, seed=1)
    b = shard_shuffle(df, key_col="doc_id", num_shards=8, seed=1)
    rows_a = sorted((r.doc_id, r.shard, r.pos) for r in a.collect())
    rows_b = sorted((r.doc_id, r.shard, r.pos) for r in b.collect())
    assert rows_a == rows_b  # reproducible run to run
    by_shard = {}
    for _, s, p in rows_a:
        by_shard.setdefault(s, []).append(p)
    assert set(by_shard) == set(range(8))
    for ps in by_shard.values():
        assert sorted(ps) == list(range(len(ps)))  # dense 0-based pos
        # balanced to within ~4x of ideal at n=2000 (md5 uniformity)
        assert 2000 / 8 / 2 < len(ps) < 2000 / 8 * 2
    # a different seed produces a different assignment
    c = shard_shuffle(df, key_col="doc_id", num_shards=8, seed=2)
    rows_c = sorted((r.doc_id, r.shard, r.pos) for r in c.collect())
    assert rows_c != rows_a


def _audit(df):
    import importlib.util
    import os as _os

    path = _os.path.join(_os.path.dirname(__file__), "..", "tools", "plan_audit.py")
    spec = importlib.util.spec_from_file_location("plan_audit", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.audit_plan(df)


def test_pinned_shuffle_counts_on_expensive_pipelines(spark, queries):
    """Pin the TRUE shuffle-stage count (distinct executed exchange
    instances; cache builds once, Reused* zero — tools/plan_audit.py)
    of the most expensive pipelines. A refactor that adds an Exchange
    to any of these fails here before it costs a full-corpus shuffle
    at 100 TB."""
    expected = {
        "dedup_minhash_lsh": 1,
        "pipeline_decontaminate_lsh": 3,
        "pipeline_corpus_curation_lsh": 4,
        # the md5 oracle twins run the same band join and verify
        "dedup_minhash_lsh_portable": 1,
        "pipeline_decontaminate_lsh_portable": 3,
        "search_bm25": 6,
        # 9 -> 7 (r9): the sparse side reads the materialized BM25
        # index instead of re-exploding the corpus per query
        "search_hybrid_rrf": 7,
        "migration_pipeline": 2,
    }
    got = {
        name: _audit(queries[name](spark, SF))["shuffles"]
        for name in expected
    }
    assert got == expected


def test_pinned_shuffle_counts_on_r9_ops(spark, queries):
    """r9 pins. text_classifier_score is SCAN-LOCAL by design (the
    whole point: quality filtering priced as a map-only pass);
    events_funnel_singlescan must hold its 2-shuffle shape for a
    3-step funnel — one user-hash exchange feeding the chained
    window min-ifs + per-user rollup, one final counter rollup —
    vs 7 for the 3-join form it twins."""
    expected = {
        "text_classifier_score": 0,
        "events_funnel_singlescan": 2,
    }
    got = {
        name: _audit(queries[name](spark, SF))["shuffles"]
        for name in expected
    }
    assert got == expected


def test_pinned_shuffle_counts_on_r11_ops(spark, queries):
    """r11 pins. The big-vocab scorer pays exactly the 2 exchanges its
    design budgets (explode->per-doc re-aggregate, join-back to the
    doc row) — the price of broadcasting the weight TABLE instead of
    inlining a multi-MB literal; weights arrive via BroadcastExchange
    (pinned separately). The BPE pack capstone is bounded at 3:
    per-doc regroup, join-back to the doc row, shard window — the
    word->ids table is one UDF projection over the checkpointed
    segmented vocabulary and arrives broadcast, so no vocab-sized
    exchange is left in the plan. A 4th exchange means someone broke
    partitioning reuse, un-broadcast the word table, or moved
    symbol-id assignment into a vocab-sized join or regroup."""
    expected = {
        "text_classifier_score_bigvocab": 2,
        "tokenizer_bpe_pack": 3,
    }
    got = {
        name: _audit(queries[name](spark, SF))["shuffles"]
        for name in expected
    }
    assert got == expected


def test_bpe_pack_bcast_ships_symbols_broadcast_not_inlined(spark, queries):
    """In the pack capstone ``tokenizer_bpe_pack`` the word->ids table
    must arrive as a BroadcastExchange, NOT a folded map literal — a
    30k-merge production vocab as a map literal costs 60+s of driver
    plan build and a multi-MB constant per task (measured r12: a
    string-valued map literal took 0.4s at 4096 entries, 2s at 16384,
    62s at 65536). Budget: 3 exchanges on the audited frame (encode
    has one path at every vocabulary size; the old past-the-gate path
    paid 5). A 4th exchange or a vanished BroadcastExchange means the
    word table stopped being a broadcast."""
    audit = _audit(queries["tokenizer_bpe_pack"](spark, SF))
    assert audit["shuffles"] == 3
    assert audit["broadcasts"] >= 1
    plan = executed_plan(queries["tokenizer_bpe_pack"](spark, SF))
    assert "element_at(map(" not in plan


def test_pinned_shuffle_counts_on_r8_ops(spark, queries):
    """Same pin for the r8 families. The load-bearing zeros:
    sample_oversample and the bloom screen are SCAN-LOCAL by design —
    any exchange appearing there is a regression of the whole point;
    the bloom-prescreened scrub must not exceed the exact scrub's
    shuffle budget by more than the filter-build aggregate."""
    expected = {
        "sample_oversample": 0,
        "percentile_sampled": 1,
        "agg_histogram": 1,
        "sketch_hll_portable": 3,
        "pipeline_decontaminate_ngram_bloom": 3,
        "similarity_ann_ivf_portable": 1,
    }
    got = {
        name: _audit(queries[name](spark, SF))["shuffles"]
        for name in expected
    }
    assert got == expected


def test_exact_jaccard_explode_keeps_tokenizer_out_of_scan_filters(spark):
    """r10 regression guard for the InferFiltersFromGenerate trap:
    Catalyst infers `size(shingles) > 0` from explode(shingles) and —
    when the array is built in an unpersisted projection — pushes it
    into the parquet scan with the tokenize->hash expression inlined
    once per array reference, re-tokenizing every doc dozens of times
    per pass (measured 40x on pair generation). The shingled frame is
    now scope-persisted; no scan filter may contain the tokenizer."""
    from mriya_spark.ops.dedup import ngram_jaccard_pairs
    from mriya_spark.qchunks.c00_2_1_scans import _neardup_corpus

    pairs = ngram_jaccard_pairs(
        _neardup_corpus(spark, SF), text_col="text", n=3, threshold=0.5
    )
    plan = executed_plan(pairs)
    for line in plan.split("\n"):
        if "FileScan" in line or (
            "Filter" in line and "InMemory" not in line
        ):
            assert "split(" not in line, line[:400]


def test_classifier_training_pass_has_one_exchange(spark):
    """r10: a perceptron training pass must be map-only except the
    <= n_buckets-group gradient aggregate — margins come from a
    scan-local aggregate() over the packed per-doc feature arrays, so
    the feature corpus is never re-shuffled per pass."""
    from pyspark.sql import functions as F

    from mriya_spark.catalog import Catalog
    from mriya_spark.ops.text import classifier_features

    cat = Catalog(spark, SF)
    docs = cat.table("documents").select(
        "doc_id",
        "text",
        F.when(F.col("lang") == "en", 1).otherwise(-1).cast("long").alias("y"),
    )
    feats = classifier_features(docs, label_col="y", n_buckets=32)
    wtxt = "array(" + ",".join(["0L"] * 32) + ")"
    margin = F.expr(
        f"aggregate(f, 0L, (acc, x) -> "
        f"acc + x.cnt * element_at({wtxt}, x.bucket + 1))"
    )
    mis = feats.withColumn("__s", margin).filter(F.col("y") * F.col("__s") <= 0)
    grad = (
        mis.select("y", F.explode("f").alias("x"))
        .groupBy("x.bucket")
        .agg(F.sum(F.col("y") * F.col("x.cnt")).alias("g"))
    )
    assert n_shuffles(executed_plan(grad)) == 1


def test_registry_outputs_are_primitive_only(spark, queries):
    """r11 red-row regression guard (r11 judge directive 2c): the
    driver's canonicalizer row-sorts results with pandas
    ``sort_values``, which crashes on nested cells (``TypeError:
    unhashable type: 'list'`` — the `tokenizer_bpe_pack` r11 FAIL).
    Every registered query's Spark output schema must therefore be
    primitive-only: no ArrayType/MapType/StructType at the top level.
    Sequences ship serialized (``array_join``), like the pack
    capstone's token_ids. This builds all ~200 DataFrames at sf0.001
    (the streaming queries execute their micro-batches), so it is the
    suite's slowest single test — deliberately: it is the only guard
    that sees the SPARK side of every output schema."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    # r20 suite-wall item (guide §2.6 — overlap independent jobs):
    # this test is the suite's whale because every builder's EAGER
    # setup (trainer collects, artifact writes) runs serially. Pure
    # batch builders are independent driver work, so they run on a
    # small thread pool; gates with session-global side effects stay
    # SERIAL: streams/sinks (conf clamps via _bounded_drain,
    # checkpoint machinery), the on-disk IVF/BM25 index caches (two
    # concurrent builders of one content-keyed index could race), and
    # the e2e pipelines that compose them. The BPE trainers change no
    # session conf (they learn merges on the driver), the shard sinks'
    # checksum aggregate runs under the caller's conf and writes none,
    # and the catalog's nanosAsLong set is idempotent, so the threaded
    # gates are safe. Session conf is snapshotted and checked after, so
    # a leaked clamp would fail HERE, not flake downstream.
    from concurrent.futures import ThreadPoolExecutor

    conf_before = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.adaptive.enabled",
            "spark.sql.shuffle.partitions",
        )
    }
    serial_markers = (
        "stream", "sink_", "connector", "mriya_e2e", "similarity_",
        "dedup_semantic", "search_bm25_indexed", "multimodal",
        "migration",
    )
    serial = {
        n: fn for n, fn in queries.items()
        if any(m in n for m in serial_markers)
    }
    threaded = {n: fn for n, fn in queries.items() if n not in serial}

    bad = []

    def check(item):
        name, fn = item
        out = []
        schema = fn(spark, SF).schema
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                out.append((name, field.name, str(field.dataType)))
        return out

    with ThreadPoolExecutor(max_workers=4) as pool:
        for found in pool.map(check, threaded.items()):
            bad.extend(found)
    for item in serial.items():
        bad.extend(check(item))
    assert not bad, (
        "nested output columns would crash the driver's canonicalizer "
        f"(serialize them): {bad}"
    )
    conf_after = {k: spark.conf.get(k) for k in conf_before}
    assert conf_after == conf_before, (
        "a builder leaked a session-conf mutation", conf_before, conf_after
    )


def test_oracle_declared_types_are_primitive_only():
    """The DuckDB half of the same guard: every oracle's DECLARED
    column types (LIMIT-0 cursor description — catches widenings like
    HUGEINT that pandas hides) must be in the engine-native primitive
    set; LIST/ARRAY/MAP/STRUCT are rejected outright (the r11
    `tokenizer_bpe_pack` lesson — tools/check_oracle_types.py's old
    "LIST/ARRAY thereof" allowance is gone)."""
    import duckdb

    from tools.check_oracle_types import TABLES, bad_types

    oracles = entry_mod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF}/{t}.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    bad = {}
    for name, sql in oracles.items():
        rel = con.sql(sql)
        found = bad_types(list(zip(rel.columns, (str(t) for t in rel.types))))
        if found:
            bad[name] = found
    assert not bad, f"non-primitive oracle output types: {bad}"


def test_float_cell_audit_probes_discriminate_null_nan_negzero(spark):
    """Pins tools/check_nan.py's probe semantics on known cells — the
    two detector bugs its first cut shipped with: (1) a ``1.0/c`` sign
    probe trips ANSI DIVIDE_BY_ZERO on every legitimate +0.0 cell
    (Spark 4 default), so -0.0 must be found via the string cast; (2)
    a pandas fetch of the oracle folds SQL NULL into float NaN, so the
    DuckDB side must aggregate IN SQL where isnan(NULL) is false.
    Either regression would silently blind (or crash) the audit that
    keeps the NaN/negative-zero replica/driver divergence class
    pinned vacuous."""
    import duckdb

    from tools.check_nan import duckdb_probe_sql, spark_float_probes

    df = spark.createDataFrame(
        [(-0.0,), (0.0,), (1.5,), (None,), (float("nan"),)], "v double"
    )
    row = df.agg(*spark_float_probes(["v"])).collect()[0]
    assert (int(row["nan__v"]), int(row["negz__v"])) == (1, 1)

    con = duckdb.connect()
    oracle = (
        "WITH t(v) AS (VALUES (-0.0::DOUBLE), (0.0), (1.5), (NULL),"
        " ('nan'::DOUBLE)) SELECT v FROM t ORDER BY v"
    )
    nan_n, negz_n = con.sql(duckdb_probe_sql(oracle, ["v"])).fetchone()
    assert (int(nan_n), int(negz_n)) == (1, 1)


def test_pagerank_iteration_serves_invariant_from_pinned_cache(spark):
    """r11 judge directive 6: the r11 invariant-rederivation waste
    (every round re-deriving the edge set: 2 extra scans+exchanges per
    iteration) was INVISIBLE to the final-plan audit because eager
    checkpoints hide what they materialize — only explaining one
    round's actual frame showed it. This pins, via pagerank's _probe
    instrumentation on the REAL loop: (1) the per-round contribs join
    reads the edge invariant from an InMemoryRelation (persist
    removed -> no InMemoryTableScan -> fail), (2) the cached plan
    carries the deliberate hashpartitioning(src) pin
    (REPARTITION_BY_COL — repartition dropped -> fail), and (3) the
    round's own frames never touch a FileScan (re-derivation from
    source tables -> fail)."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)], "src long, dst long"
    )
    from mriya_spark.ops.graph import pagerank

    probe = []
    pagerank(edges, iters=2, _probe=probe)
    contribs = [df for name, df in probe if name == "contribs"]
    assert len(contribs) == 2
    for df in contribs:
        plan = executed_plan(df)
        assert "InMemoryTableScan" in plan, plan
        assert re.search(
            r"Exchange hashpartitioning\(src#\d+L?, \d+\), REPARTITION_BY_COL",
            plan,
        ), plan
        assert "FileScan" not in plan, plan


def test_label_prop_iteration_keeps_skew_axis_unpinned(spark):
    """The other side of the r11 iterative-loop trade (judge directive
    6): connected_components' per-round join key v is the SKEW AXIS of
    a near-dup graph (near-cliques = hot vertices), so its edge
    invariant must stay cached WITHOUT a pinned single-column
    partitioning — the distinct()'s (u,v) spread plus a live per-round
    exchange is what lets AQE skew-split at scale (measured r11: the
    pin was 0-12% slower locally AND scale-risky, so it was reverted).
    Pins via _probe on the real loop: the invariant IS cached
    (InMemoryRelation), and NO REPARTITION_BY_COL appears anywhere in
    the round's plan — a silently (re)added repartition(v) or
    repartition(u) flips the documented trade and fails here."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    from mriya_spark.ops.dedup import connected_components

    probe = []
    connected_components(pairs, _probe=probe)
    assert probe, "no iterations ran"
    plan = executed_plan(probe[0][1])
    assert "InMemoryTableScan" in plan, plan
    # the per-round ENSURE_REQUIREMENTS exchanges (join on v, groupBy
    # u) are WANTED — they are the shuffle stages AQE skew-splits; the
    # forbidden shape is a deliberate repartition pin on the cached
    # invariant, which prints as REPARTITION_BY_COL
    assert "REPARTITION_BY_COL" not in plan, plan


def test_r16s2_queries_shuffle_ceilings(spark, queries):
    """Pin the r16 session-2 additions' exchange budgets (raw
    plan-string counts, persisted-subtree reprints included — same
    convention as test_r15_queries_shuffle_ceilings). Every sequence
    encoder is one segment-keyed encode pass (regroup per segment,
    left join back to the segments, regroup per doc), so sft_chat,
    dpo_pairs and chat_multiturn all measure 6 whatever their column
    or turn count (the template projection and the mask construction
    add NO exchange); pack_chat 10 (multiturn + shard shuffle + FFD
    grouped-map + window aggregate). A regression that re-derives the
    shared vseg, loses a broadcast, or adds a pass breaks the ceiling
    here."""
    sf = "/root/testdata/sf0.001"
    ceilings = {
        "tokenizer_sft_chat": 6,
        "tokenizer_dpo_pairs": 6,
        "tokenizer_chat_multiturn": 6,
        "tokenizer_pack_chat": 10,
        # the complete varlen batch: pack_chat's exchanges exactly —
        # the two metadata arrays are scan-local off the member list
        "tokenizer_pack_chat_attention": 10,
        # strided chunking: the ENCODE's two exchanges and nothing
        # else — the window explosion itself is scan-local (zero
        # exchanges), which is its whole trade vs FFD packing
        "tokenizer_chunk_strided": 2,
        # masked chunking: the SFT masks encode's exchanges exactly
        # (the dual-array window explosion adds zero); mixed turn
        # counts: the fixed-count multiturn ceiling exactly (the op
        # is turn-count-agnostic, which this pin makes enforceable)
        "tokenizer_chunk_masked": 6,
        "tokenizer_chat_varturns": 6,
    }
    for name, cap in ceilings.items():
        df = queries[name](spark, sf)
        df.collect()  # finalize AQE
        got = n_shuffles(executed_plan(df))
        assert got <= cap, f"{name}: {got} shuffles > ceiling {cap}"


def test_sequence_encoders_plan_one_word_posexplode(spark):
    """sft_encode_masks, dpo_encode_pairs and chat_encode_multiturn
    tokenize every text column (or turn part) in ONE keyed encode
    pass: each optimized plan holds exactly one word-level posexplode
    (chat's turn posexplode is not word-level)."""
    from mriya_spark.ops.text import (
        chat_encode_multiturn,
        dpo_encode_pairs,
        sft_encode_masks,
    )

    merges = [("l", "o", 1)]
    pairs = spark.createDataFrame(
        [(1, "low", "lower", "slow")],
        "doc_id long, prompt string, chosen string, rejected string",
    )
    chats = spark.createDataFrame(
        [(1, [("user", "low"), ("assistant", "lower")])],
        "doc_id long, turns array<struct<role:string,text:string>>",
    )
    for name, df in (
        ("sft", sft_encode_masks(pairs, merges, completion_col="chosen")),
        ("dpo", dpo_encode_pairs(pairs, merges)),
        ("chat", chat_encode_multiturn(chats, merges)),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        got = len(re.findall(r"posexplode\(filter\(split\(", plan))
        assert got == 1, f"{name}: {got} word-level posexplodes\n{plan}"


def test_r17_queries_shuffle_ceilings(spark, queries):
    """Pin the r17 additions' exchange budgets (AQE-final plans, same
    convention as the r15/r16 ceilings). Measured at the registration
    tip: sink_packed_shards 0 — the gate's returned frame is the
    VERIFIED READ-BACK of the delivered shards, and delivery reads
    must stay exchange-free (a training loader's epoch scan);
    shard_shuffle_epoch 4 — two epochs x the single-epoch op's 2
    (hash exchange for the per-shard window + the AQE reprint), i.e.
    the epoch keying adds NO exchange over the legacy draw (asserted
    directly below); stream_decode_fixed_vocab 0 — the n_words join
    broadcasts at fixture scale, and losing that broadcast would
    surface here."""
    sf = "/root/testdata/sf0.001"
    ceilings = {
        "sink_packed_shards": 0,
        "shard_shuffle_epoch": 4,
        "stream_decode_fixed_vocab": 0,
    }
    for name, cap in ceilings.items():
        df = queries[name](spark, sf)
        df.collect()  # finalize AQE
        got = n_shuffles(executed_plan(df))
        assert got <= cap, f"{name}: {got} shuffles > ceiling {cap}"

    # the epoch keying itself must add no exchange over the legacy
    # (seed, key) draw — both forms are ONE hash exchange per epoch
    from mriya_spark.ops.layout import shard_shuffle

    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id")
    def n(ep):
        df = shard_shuffle(
            docs, key_col="doc_id", num_shards=16, seed=42, epoch=ep
        )
        df.collect()
        return n_shuffles(executed_plan(df))
    assert n(1) == n(None), "epoch keying changed the exchange count"


def test_r18_queries_shuffle_ceilings(spark, queries):
    """Pin the r18 additions' exchange budgets (AQE-final plans, same
    convention as the r15-r17 ceilings). Measured at the registration
    tip: sink_shards_resume 0 — the resumed read is a partition-pruned
    scan + suffix filter over the verified shards, and resume must stay
    exchange-free (it IS the training loader's restart path);
    sink_packed_shards_attention 0 — the verified read-back of the
    four-payload delivery, same contract as sink_packed_shards;
    sample_epoch_plan 4 — two materialized epochs x shard_shuffle's
    single hash exchange (+AQE reprint), i.e. composing the
    oversampling copy explode adds NO exchange (it is scan-local)."""
    sf = "/root/testdata/sf0.001"
    ceilings = {
        "sink_shards_resume": 0,
        "sink_packed_shards_attention": 0,
        "sample_epoch_plan": 4,
    }
    for name, cap in ceilings.items():
        df = queries[name](spark, sf)
        df.collect()  # finalize AQE
        got = n_shuffles(executed_plan(df))
        assert got <= cap, f"{name}: {got} shuffles > ceiling {cap}"


def test_auto_salt_switches_at_both_regimes(spark):
    """r19 verdict item 6: ``write_training_shards`` defaults
    ``salt_chars="auto"`` so 100 TB exports don't depend on the caller
    remembering the knob. The resolver must (a) return 0 at gate scale
    (pinned single-exchange write plans), (b) engage for a scan-shaped
    input whose estimate exceeds ~1 M rows/shard, and (c) refuse to
    trust estimates through join/grouped-map DAGs, where Catalyst's
    non-CBO sizeInBytes is off by orders of magnitude (measured
    1.7e6x on the pack capstone —
    benchlogs/probe_r20_salt_estimates.json)."""
    from pyspark.sql import functions as F

    from mriya_spark.ops.layout import resolve_auto_salt_chars

    # (a) gate scale: a small parquet scan stays unsalted
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id")
    assert resolve_auto_salt_chars(docs, 16) == 0

    # (b) big regime, scan-shaped: spark.range is a leaf whose byte
    # estimate is proportional to rows (no files written — the
    # resolver reads plan stats only)
    big = spark.range(200_000_000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).alias("lang")
    )
    k = resolve_auto_salt_chars(big, 16)
    assert k >= 1, k

    # (c) the same scale behind a join: estimate untrusted -> 0
    joined = big.join(
        big.select(F.col("doc_id"), F.lit(1).alias("w")), "doc_id"
    )
    assert resolve_auto_salt_chars(joined, 16) == 0

    # and the public write path resolves "auto" to the unsalted plan
    # at gate scale: same single hash exchange + window as salt_chars=0
    from mriya_spark.ops.layout import shard_shuffle

    auto_like = shard_shuffle(
        docs, key_col="doc_id", num_shards=4, seed=3,
        salt_chars=resolve_auto_salt_chars(docs, 4),
    )
    auto_like.collect()
    plan = executed_plan(auto_like)
    assert "__salt" not in plan, plan


def test_auto_salt_treats_missing_stats_as_unknown(spark):
    """An RDD-backed frame has no statistics: Catalyst reports
    ``sizeInBytes = Long.MaxValue``, which the resolver used to read as
    ~1e17 rows and answer with the maximum salt (8). It is "estimate
    unavailable", so the answer is 0."""
    from mriya_spark.ops.layout import resolve_auto_salt_chars

    rdd = spark.sparkContext.parallelize([(i,) for i in range(10)])
    df = spark.createDataFrame(rdd, "doc_id long")
    size = int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    assert size == 2**63 - 1, size
    assert resolve_auto_salt_chars(df, 16) == 0


def test_salted_shard_shuffle_no_whole_shard_sort(spark):
    """The salted path must never cluster a whole shard into one
    partition: the data-path exchange hashes on (shard, salt) — small
    per-bucket sorts instead of the spill-prone per-shard sort — the
    offsets side is a bounded aggregate joined back as a BROADCAST,
    and no range exchange (global sort) appears anywhere."""
    from mriya_spark.ops.layout import shard_shuffle

    df = spark.range(0, 5000).withColumnRenamed("id", "doc_id")
    out = shard_shuffle(
        df, key_col="doc_id", num_shards=4, seed=3, salt_chars=2
    )
    out.collect()
    plan = executed_plan(out)
    assert "Exchange hashpartitioning(shard" in plan, plan
    assert "__salt" in plan.split("Exchange hashpartitioning(shard", 1)[1][:80], plan
    assert "Exchange rangepartitioning" not in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" not in plan, plan
