import json

import pytest

from mriya_spark.mapping import MappingRule, MappingSpec
from mriya_spark.qchunks.c00_2_1_scans import FLAGSHIP_MAPPING, run_migration


def test_mapping_requires_rules():
    with pytest.raises(ValueError):
        MappingSpec("a", "b", "", [])


def test_invalid_column_type_rejected():
    with pytest.raises(ValueError):
        MappingRule("a", "x", "b", "y", column_type="bogus")


def test_load_json_array():
    spec = MappingSpec.load(json.dumps([FLAGSHIP_MAPPING]))
    assert spec.source_object == "customer"
    assert spec.src_id_rule.column_src == "c_custkey"
    assert [r.column_dst for r in spec.backfill_rules] == ["old_record_id"]


def test_where_condition_soql_rejected_at_load():
    # a real Salesforce mapping pasted in verbatim must fail at load
    # time with a rewrite hint, not deep in the analyzer
    for cond in (
        "Account_Birthday__c > TODAY",
        "CreatedDate >= LAST_N_DAYS:7",
        "Interests__c INCLUDES ('golf')",
    ):
        spec = dict(FLAGSHIP_MAPPING, where_condition=cond)
        with pytest.raises(ValueError, match="SOQL-only"):
            MappingSpec.from_obj(spec)


def test_where_condition_syntax_error_rejected_at_load(spark):
    spec = dict(FLAGSHIP_MAPPING, where_condition="c_acctbal >== 3")
    with pytest.raises(ValueError, match="not a valid Spark SQL"):
        MappingSpec.from_obj(spec)


def test_where_condition_ansi_accepted():
    spec = dict(FLAGSHIP_MAPPING, where_condition="c_date >= date_sub(current_date(), 7)")
    assert MappingSpec.from_obj(spec).where_condition.startswith("c_date")


def test_extract_resolves_lookup(spark, catalog):
    spec = MappingSpec.from_obj(FLAGSHIP_MAPPING)
    df = spec.extract(catalog)
    assert set(df.columns) == {"c_custkey", "c_name", "c_acctbal", "c_mktsegment", "n_name"}
    # WHERE applied
    assert df.filter("c_acctbal <= 0").count() == 0


def test_transform_renames_and_injects(spark, catalog):
    spec = MappingSpec.from_obj(FLAGSHIP_MAPPING)
    df = spec.transform(spec.extract(catalog), constants={"company_name": "ACME"})
    assert set(df.columns) == {
        "old_record_id", "name", "acctbal", "segment", "nation_name", "company_name",
    }
    assert df.select("company_name").distinct().collect()[0][0] == "ACME"


def test_full_migration_pipeline(spark):
    out = run_migration(spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) > 0
    for r in rows[:20]:
        assert r.dst_id == f"DST-{r.old_record_id}"
        assert r.src_backfilled_id == r.dst_id  # backfill agrees with load


def test_missing_lookup_spec_raises(spark, catalog):
    bad = dict(FLAGSHIP_MAPPING, lookups={})
    spec = MappingSpec.from_obj(bad)
    with pytest.raises(ValueError, match="lookup"):
        spec.extract(catalog)


# -- multi-object orchestration (run_mapping_array) -------------------------


def _mini_specs():
    from mriya_spark.mapping import MappingSpec

    child = MappingSpec.from_obj({
        "source_object": "customer",
        "destination_object": "customer_dst",
        "where_condition": "",
        "mapping": [
            {"table_src": "customer", "column_src": "c_custkey",
             "table_dst": "customer_dst", "column_dst": "old_record_id",
             "operation": "upd_src", "column_type": "src_id"},
            {"table_src": "customer", "column_src": "c_nationkey",
             "table_dst": "customer_dst", "column_dst": "nation_ref",
             "operation": "insert", "column_type": "regular"},
        ],
        "parent_fks": {"c_nationkey": "nation"},
    })
    parent = MappingSpec.from_obj({
        "source_object": "nation",
        "destination_object": "nation_dst",
        "where_condition": "",
        "mapping": [
            {"table_src": "nation", "column_src": "n_nationkey",
             "table_dst": "nation_dst", "column_dst": "old_record_id",
             "operation": "upd_src", "column_type": "src_id"},
        ],
    })
    return child, parent


def test_migration_order_resolves_dependencies():
    from mriya_spark.mapping import migration_order

    child, parent = _mini_specs()
    # child listed FIRST: ordering must come from parent_fks, not index
    ordered = migration_order([child, parent])
    assert [s.source_object for s in ordered] == ["nation", "customer"]
    # already-ordered document keeps its order (stable)
    ordered2 = migration_order([parent, child])
    assert [s.source_object for s in ordered2] == ["nation", "customer"]


def test_migration_order_rejects_cycle_and_missing_parent():
    from mriya_spark.mapping import MappingSpec, migration_order

    child, parent = _mini_specs()
    with pytest.raises(ValueError, match="not present"):
        migration_order([child])  # parent missing from array
    a = MappingSpec.from_obj({
        "source_object": "a", "destination_object": "a_dst",
        "where_condition": "",
        "mapping": [{"table_src": "a", "column_src": "k",
                     "table_dst": "a_dst", "column_dst": "old_record_id",
                     "operation": "upd_src", "column_type": "src_id"},
                    {"table_src": "a", "column_src": "b_fk",
                     "table_dst": "a_dst", "column_dst": "b_ref",
                     "operation": "insert", "column_type": "regular"}],
        "parent_fks": {"b_fk": "b"},
    })
    b = MappingSpec.from_obj({
        "source_object": "b", "destination_object": "b_dst",
        "where_condition": "",
        "mapping": [{"table_src": "b", "column_src": "k",
                     "table_dst": "b_dst", "column_dst": "old_record_id",
                     "operation": "upd_src", "column_type": "src_id"},
                    {"table_src": "b", "column_src": "a_fk",
                     "table_dst": "b_dst", "column_dst": "a_ref",
                     "operation": "insert", "column_type": "regular"}],
        "parent_fks": {"a_fk": "a"},
    })
    with pytest.raises(ValueError, match="cycle"):
        migration_order([a, b])


def test_parent_fk_must_be_mapped():
    from mriya_spark.mapping import MappingSpec

    with pytest.raises(ValueError, match="exactly one"):
        MappingSpec.from_obj({
            "source_object": "customer",
            "destination_object": "customer_dst",
            "where_condition": "",
            "mapping": [
                {"table_src": "customer", "column_src": "c_custkey",
                 "table_dst": "customer_dst", "column_dst": "old_record_id",
                 "operation": "upd_src", "column_type": "src_id"},
            ],
            "parent_fks": {"c_nationkey": "nation"},
        })


def test_run_mapping_array_rewrites_child_fk(spark, catalog):
    from mriya_spark.mapping import run_mapping_array

    child, parent = _mini_specs()
    created = run_mapping_array(catalog, [child, parent])
    assert set(created) == {"customer", "nation"}
    rows = created["customer"].limit(20).collect()
    assert rows
    for r in rows:
        # FK rewritten to the PARENT's created dst id
        assert r.nation_ref.startswith("nation_dst-")
        assert r.dst_id == f"customer_dst-{r.old_record_id}"


def test_run_mapping_array_orphan_fk_yields_null(spark):
    """A child row pointing at a parent key the parent migration
    filtered out surfaces as NULL nation_ref (LEFT join), not a
    dropped row."""
    from mriya_spark.catalog import Catalog
    from mriya_spark.mapping import MappingSpec, run_mapping_array

    child, _ = _mini_specs()
    parent = MappingSpec.from_obj({
        "source_object": "nation",
        "destination_object": "nation_dst",
        "where_condition": "n_nationkey < 5",  # drop most parents
        "mapping": [
            {"table_src": "nation", "column_src": "n_nationkey",
             "table_dst": "nation_dst", "column_dst": "old_record_id",
             "operation": "upd_src", "column_type": "src_id"},
        ],
    })
    cat = Catalog(spark, "/root/testdata/sf0.001")
    created = run_mapping_array(cat, [child, parent])
    out = created["customer"]
    n_null = out.filter("nation_ref IS NULL").count()
    n_total = out.count()
    assert 0 < n_null < n_total  # orphans kept, flagged as NULL


def test_parent_fk_rejects_ambiguous_and_dstid_carriers():
    """r10 review: a parent_fks column carried by two rules (which dst
    column should the rewrite hit?) or only by a dst_id-typed rule
    (transform drops it) is a mapping-document error at LOAD time, not
    an unresolved-column error mid-plan."""
    from mriya_spark.mapping import MappingSpec

    base = {
        "source_object": "customer",
        "destination_object": "customer_dst",
        "where_condition": "",
        "parent_fks": {"c_nationkey": "nation"},
    }
    sid = {"table_src": "customer", "column_src": "c_custkey",
           "table_dst": "customer_dst", "column_dst": "old_record_id",
           "operation": "upd_src", "column_type": "src_id"}
    fk = {"table_src": "customer", "column_src": "c_nationkey",
          "table_dst": "customer_dst", "column_dst": "nation_ref",
          "operation": "insert", "column_type": "regular"}
    fk2 = dict(fk, column_dst="nation_ref_audit")
    with pytest.raises(ValueError, match="exactly one"):
        MappingSpec.from_obj(dict(base, mapping=[sid, fk, fk2]))
    fk_dst = dict(fk, column_type="dst_id")
    with pytest.raises(ValueError, match="exactly one"):
        MappingSpec.from_obj(dict(base, mapping=[sid, fk_dst]))
    # the well-formed single-carrier document still loads
    assert MappingSpec.from_obj(dict(base, mapping=[sid, fk]))


def test_parent_fk_rejects_src_id_carriers():
    """r10 advice: the src_id rule (or any rule aliased onto its
    destination column) must not be the parent_fks carrier — the FK
    rewrite would overwrite the row's own key carrier with the
    parent's dst id BEFORE dst_id derivation and the backfill join,
    garbling ids with no load-time error."""
    from mriya_spark.mapping import MappingSpec

    base = {
        "source_object": "customer",
        "destination_object": "customer_dst",
        "where_condition": "",
    }
    # the src_id rule itself reads the FK column → would be the carrier
    sid_on_fk = {"table_src": "customer", "column_src": "c_nationkey",
                 "table_dst": "customer_dst", "column_dst": "old_record_id",
                 "operation": "upd_src", "column_type": "src_id"}
    with pytest.raises(ValueError, match="src_id"):
        MappingSpec.from_obj(dict(
            base, parent_fks={"c_nationkey": "nation"},
            mapping=[sid_on_fk],
        ))
    # a regular rule aliased onto the src_id rule's destination column
    sid = {"table_src": "customer", "column_src": "c_custkey",
           "table_dst": "customer_dst", "column_dst": "old_record_id",
           "operation": "upd_src", "column_type": "src_id"}
    fk_onto_sid_dst = {
        "table_src": "customer", "column_src": "c_nationkey",
        "table_dst": "customer_dst", "column_dst": "old_record_id",
        "operation": "insert", "column_type": "regular"}
    with pytest.raises(ValueError, match="src_id"):
        MappingSpec.from_obj(dict(
            base, parent_fks={"c_nationkey": "nation"},
            mapping=[sid, fk_onto_sid_dst],
        ))
