"""Physical-plan audit for the headline queries: the 100 TB facts.

For each bench headline query this prints (and with ``--write``
records to PLANS.md; with ``--check`` exits 1 when the committed
PLANS.md differs from what it prints) the plan properties that decide
whether the query survives a 1000-executor scale-up:

- shuffle exchanges (each one is a full-data network pass at scale)
- broadcast exchanges (dimension joins that correctly avoid a shuffle)
- parquet pushdown (PushedFilters reaching the scan)
- whole-stage-codegen spans (JVM-compiled expression pipelines)
- Python eval nodes: ArrowEvalPython / FlatMapGroupsInPandas /
  MapInPandas are the sanctioned Arrow-batched paths; BatchEvalPython
  (row-at-a-time pickle) must NEVER appear — asserted in
  tests/test_plans.py::test_headline_queries_have_no_row_python.

Usage: python tools/plan_audit.py [--sf DIR] [--write | --check]
"""

from __future__ import annotations

import difflib
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT_SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


_ARROW_NODES = (
    "ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
    "FlatMapGroupsInPandasWithState", "PythonMapInArrow", "MapInBatch",
)


def _walk_nodes(spark, root) -> list[str]:
    """Distinct physical-node class names across the EXECUTED DAG.

    The old string count over ``executedPlan().toString()`` overcounted
    badly: a persisted subtree reprints its whole build plan inline
    (as innerChildren) under every InMemoryTableScan that reads it, so
    a pipeline persisting one frame read four times reported the build
    plan's exchanges 4x. Tree traversal over ``children()`` skips
    innerChildren naturally; cache-build plans are then added back by
    recursing through ``InMemoryTableScanExec.relation().cachedPlan()``
    exactly ONCE per distinct relation (JVM identity), which is exactly
    once per materialization at runtime. AQE wrappers
    (AdaptiveSparkPlanExec, *QueryStageExec) unwrap to the final plan;
    ReusedExchange/ReusedSubquery subtrees are not re-entered (they
    re-read another stage's output — no new stage runs).
    """
    ident = spark._jvm.java.lang.System.identityHashCode
    seen_caches: set[int] = set()
    acc: list[str] = []

    def walk(node) -> None:
        cls = node.getClass().getSimpleName()
        acc.append(cls)
        if cls == "AdaptiveSparkPlanExec":
            walk(node.executedPlan())
            return
        if cls.endswith("QueryStageExec"):
            walk(node.plan())
            return
        if cls.startswith("Reused"):
            return
        if cls == "InMemoryTableScanExec":
            rel = node.relation()
            key = ident(rel.cacheBuilder())
            if key not in seen_caches:
                seen_caches.add(key)
                walk(rel.cachedPlan())
            return
        # expression-side subquery plans (scalar/IN subqueries) run as
        # their own jobs but are NOT in children() — walk them too so
        # their exchanges count as paid-for stages
        try:
            sit = node.subqueries().iterator()
            while sit.hasNext():
                walk(sit.next())
        except Exception:
            pass
        it = node.children().iterator()
        while it.hasNext():
            walk(it.next())

    walk(root)
    return acc


def audit_plan(df) -> dict:
    """Plan-shape facts for one DataFrame (see module docstring)."""
    # AQE finalizes (and codegens) the plan only on execution; drive
    # this DataFrame's own QueryExecution so the audit reads the plan
    # that actually ran, not the pre-adaptive sketch
    df.collect()
    nodes = _walk_nodes(df.sparkSession, df._jdf.queryExecution().executedPlan())
    fmt = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", fmt)

    def n(*prefixes: str) -> int:
        return sum(1 for c in nodes if c.startswith(prefixes))

    return {
        "shuffles": n("ShuffleExchangeExec"),
        "broadcasts": n("BroadcastExchangeExec"),
        "codegen_spans": n("WholeStageCodegenExec"),
        "pushed_filters": sum(1 for p in pushed if p.strip()),
        "arrow_python": n(*_ARROW_NODES),
        "row_python": n("BatchEvalPython"),
        "sort_merge_joins": n("SortMergeJoinExec"),
        "broadcast_joins": n("BroadcastHashJoinExec"),
    }


def main() -> int:
    write = "--write" in sys.argv
    check = "--check" in sys.argv
    sf = DEFAULT_SF
    if "--sf" in sys.argv:
        sf = sys.argv[sys.argv.index("--sf") + 1]

    import __spark_entry__ as entry_mod
    from bench import HEADLINE
    from mriya_spark.session import get_spark

    # scale-relevant queries outside the bench headline set
    extra = [
        "join_bucketed", "pack_sequences", "variant_shred",
        "sketch_topk_freq", "split_train_holdout", "text_pii_redact",
        "embedding_quantize_int8", "join_salted", "join_asof",
        "search_bm25", "quality_expectations", "table_diff",
        "search_hybrid_rrf", "zorder_curve", "schema_evolution",
        "dedup_substring", "shard_shuffle", "sample_group_quota",
        "pipeline_decontaminate_ngram", "graph_pagerank",
        "similarity_ann_ivf_portable", "join_bloom_screen",
        "sketch_hll_portable", "pipeline_decontaminate_ngram_bloom",
        "sample_oversample", "curation_recipe_epochs",
        "events_retention", "events_funnel", "agg_histogram",
        "stats_corr", "sink_training_shards", "pipeline_training_export",
        "percentile_sampled",
        "text_classifier_score", "events_funnel_singlescan",
        "table_profile_hll", "curation_domain_quota",
        "search_bm25_indexed", "quality_outlier_iqr",
        "migration_multi_mapping", "text_classifier_train_score",
        "sketch_quantile_portable", "sketch_quantile_estimate",
        "stream_migration_pipeline", "sketch_quantile_grouped",
        "stream_sketch_quantile", "text_classifier_eval",
        "migration_multi_e2e", "tokenizer_bpe_train",
        "tokenizer_bpe_encode", "tokenizer_bpe_encode_unicode",
        "tokenizer_pack_from_artifact", "tokenizer_approx_roundtrip",
        "text_classifier_score_unicode",
        "tokenizer_roundtrip_unicode", "join_fuzzy_blocked_capped",
    ]

    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()

    cols = ["shuffles", "broadcasts", "codegen_spans", "pushed_filters",
            "arrow_python", "row_python", "sort_merge_joins", "broadcast_joins"]
    lines = [
        "# PLANS — headline physical-plan audit",
        "",
        f"Generated by `python tools/plan_audit.py --write` at sf dir `{sf}`.",
        "Row-wise Python (`row_python`, BatchEvalPython) must be 0 everywhere —",
        "enforced by `tests/test_plans.py::test_headline_queries_have_no_row_python`.",
        "Streaming entries are audited post-run (the plan of the result frame),",
        "as are ops that execute eagerly inside the query function",
        "(pipeline_training_export, table_profile_hll) — their rows show the",
        "returned frame's plan; the build-side shape is pinned in their",
        "docstrings and tests instead.",
        "Counts are DISTINCT executed plan-node instances (tree traversal, AQE",
        "final plan): each persisted subtree's build plan counts once per",
        "materialization — not once per InMemoryTableScan reprint — and Reused",
        "exchanges/subqueries count zero. `shuffles` therefore equals the number",
        "of shuffle map stages the run actually paid for; per-query ceilings for",
        "the most expensive pipelines are pinned in tests/test_plans.py.",
        "",
        "| query | " + " | ".join(cols) + " |",
        "|---|" + "---|" * len(cols),
    ]
    for name in HEADLINE + [e for e in extra if e not in HEADLINE]:
        if name not in qs:
            continue
        try:
            facts = audit_plan(qs[name](spark, sf))
        except Exception as e:  # streaming queries execute inside fn
            lines.append(f"| {name} | audit failed: {type(e).__name__} |")
            continue
        lines.append(
            f"| {name} | " + " | ".join(str(facts[c]) for c in cols) + " |"
        )
        print(lines[-1])
    out = "\n".join(lines) + "\n"
    plans = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PLANS.md")
    if write:
        with open(plans, "w") as fh:
            fh.write(out)
        print("wrote PLANS.md")
    if check:
        with open(plans) as fh:
            committed = fh.read().splitlines()
        drift = list(difflib.unified_diff(
            committed, out.splitlines(), "PLANS.md", "plan_audit", lineterm=""))
        print("\n".join(drift) or "PLANS.md is current")
        return 1 if drift else 0
    return 0


if __name__ == "__main__":
    sys.exit(main())
