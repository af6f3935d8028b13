"""Derived-artifact cache hygiene (r5 verdict item #2).

Artifacts that are trusted on re-read — the materialized IVF index,
streaming staging — must live under the user-scoped
``~/.cache/mriya_spark`` root (not shared predictable /tmp paths
another local user could pre-plant), and the IVF loader must verify
the on-disk index echoes its build params before trusting it:
anything stale, torn, or tampered retrains instead.
"""

from __future__ import annotations

import json
import os
import stat
import uuid

import pytest

from mriya_spark import cachedir
from mriya_spark.qchunks import (
    c01_north_star_similarity_search_ops_vector as IVF_MOD,
)
from mriya_spark.qchunks.c00_2_1_scans import _STAGE_DIR
from mriya_spark.queries import REGISTRY

SF_SMOKE = "/root/testdata/sf0.001"


def test_cache_root_is_user_scoped_and_0700(tmp_path, monkeypatch):
    monkeypatch.delenv(cachedir._ENV_VAR, raising=False)
    assert cachedir.cache_root().startswith(os.path.expanduser("~"))
    root = tmp_path / "fresh_root"
    monkeypatch.setenv(cachedir._ENV_VAR, str(root))
    d = cachedir.cache_dir("sub")
    assert d == str(root / "sub") and os.path.isdir(d)
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700


def test_cache_dir_does_not_chmod_preexisting_root(tmp_path, monkeypatch):
    """ADVICE r5: never tighten a directory we did not create — a
    deliberately group-readable root must keep its mode."""
    root = tmp_path / "shared_root"
    root.mkdir(mode=0o750)
    monkeypatch.setenv(cachedir._ENV_VAR, str(root))
    cachedir.cache_dir("sub")
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o750


def test_stream_staging_under_user_cache():
    import mriya_spark.streaming as S

    assert S._STAGE_ROOT.startswith(cachedir.cache_root())
    assert not S._STAGE_ROOT.startswith("/tmp/")


def test_stage_dir_and_org_under_user_cache():
    assert _STAGE_DIR.startswith(cachedir.cache_root())


@pytest.fixture()
def ivf_sandbox(tmp_path, monkeypatch):
    """Fresh cache root + cleared in-memory IVF cache + a call counter
    on the index builder."""
    monkeypatch.setenv(cachedir._ENV_VAR, str(tmp_path / "cache"))
    monkeypatch.setattr(IVF_MOD, "_IVF_INDEX_CACHE", {})
    import mriya_spark.ops.vector as V

    real = V.ivf_write_index
    calls = {"n": 0}

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(V, "ivf_write_index", counting)
    return calls


def test_ivf_index_built_under_cache_root_and_reused(spark, ivf_sandbox):
    path1, cents1 = IVF_MOD._ivf_index_for(spark, SF_SMOKE)
    assert path1.startswith(cachedir.cache_root())
    assert ivf_sandbox["n"] == 1
    assert os.path.isfile(os.path.join(path1, "_SUCCESS"))
    meta = json.load(open(os.path.join(path1, "_centroids.json")))
    assert meta["params"]["n_centroids"] == len(meta["centroids"]) == 16

    # warm in-memory reuse
    path2, cents2 = IVF_MOD._ivf_index_for(spark, SF_SMOKE)
    assert (path2, cents2) == (path1, cents1) and ivf_sandbox["n"] == 1

    # cross-process reuse: cleared in-memory cache, valid disk index
    IVF_MOD._IVF_INDEX_CACHE.clear()
    path3, cents3 = IVF_MOD._ivf_index_for(spark, SF_SMOKE)
    assert path3 == path1 and cents3 == cents1 and ivf_sandbox["n"] == 1


@pytest.mark.parametrize(
    "tamper",
    ["params_mismatch", "bad_centroids", "legacy_bare_list", "no_success",
     "no_data_files"],
)
def test_ivf_tampered_or_torn_index_retrains(spark, ivf_sandbox, tamper):
    """A planted/tampered/torn index must NOT be trusted: the loader
    verifies the params echo, centroid shape, and completed write, and
    falls back to a retrain on any mismatch (r5 'query-result
    poisoning' scenario)."""
    path, cents = IVF_MOD._ivf_index_for(spark, SF_SMOKE)
    meta_path = os.path.join(path, "_centroids.json")
    meta = json.load(open(meta_path))

    if tamper == "params_mismatch":
        meta["params"]["seed"] = 999  # index built with other params
        json.dump(meta, open(meta_path, "w"))
    elif tamper == "bad_centroids":
        meta["centroids"] = [[1.0, "poison"]]  # wrong shape/types
        json.dump(meta, open(meta_path, "w"))
    elif tamper == "legacy_bare_list":
        json.dump(cents, open(meta_path, "w"))  # pre-r6 format: no echo
    elif tamper == "no_success":
        os.remove(os.path.join(path, "_SUCCESS"))
    elif tamper == "no_data_files":
        for root, _dirs, files in os.walk(path):
            if os.path.basename(root).startswith("cell="):
                for f in files:
                    os.remove(os.path.join(root, f))

    IVF_MOD._IVF_INDEX_CACHE.clear()
    path2, cents2 = IVF_MOD._ivf_index_for(spark, SF_SMOKE)
    assert ivf_sandbox["n"] == 2, f"{tamper}: tampered index was trusted"
    assert path2 == path and cents2 == cents  # deterministic retrain
    # and the rebuilt index verifies again without a third build
    IVF_MOD._IVF_INDEX_CACHE.clear()
    IVF_MOD._ivf_index_for(spark, SF_SMOKE)
    assert ivf_sandbox["n"] == 2


def test_ivf_index_with_old_cell_numbering_is_rebuilt(spark, ivf_sandbox):
    """An index written before cells were numbered from 1 holds
    ``cell=0..k-1`` directories and a params echo without
    ``first_cell``. Probing it with 1-based ids would silently miss
    cell 0, so the loader must refuse it and rebuild."""
    path, cents = IVF_MOD._ivf_index_for(spark, SF_SMOKE)
    meta_path = os.path.join(path, "_centroids.json")
    meta = json.load(open(meta_path))
    assert meta["params"]["first_cell"] == 1
    del meta["params"]["first_cell"]  # the old echo
    json.dump(meta, open(meta_path, "w"))
    old_cells = sorted(
        int(d[5:]) for d in os.listdir(path) if d.startswith("cell=")
    )
    for c in old_cells:  # ascending, so each target name is free
        os.rename(
            os.path.join(path, f"cell={c}"), os.path.join(path, f"cell={c - 1}")
        )

    IVF_MOD._IVF_INDEX_CACHE.clear()
    path2, cents2 = IVF_MOD._ivf_index_for(spark, SF_SMOKE)
    assert ivf_sandbox["n"] == 2, "old-numbering index was trusted"
    assert path2 == path and cents2 == cents
    cells = sorted(
        int(d[5:]) for d in os.listdir(path) if d.startswith("cell=")
    )
    assert cells and cells[0] >= 1 and cells[-1] <= len(cents)


def test_ivf_query_still_correct_after_cache_move(spark, ivf_sandbox):
    """End-to-end: the registered ANN query runs against the relocated
    index and matches brute-force top-1 for every probe (recall@10
    invariant kept by tests/test_llm_ops.py; this is the smoke)."""
    df = REGISTRY["similarity_ann_ivf"].fn(spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) > 0
    assert {r.query_id for r in rows} == {0, 1, 2, 3, 4}


def test_warm_pipeline_compiles_no_generated_code(spark):
    """Spark's codegen class cache must hold a pipeline's working set.
    These three queries, chained, need more generated classes than
    Spark's default 100-entry LRU holds, so under that default every
    round recompiles its classes (116 compiles per round on sf0.001).
    The session from ``get_spark`` sizes the cache so a warm round
    compiles nothing."""
    from mriya_spark.caching import release_caches

    names = (
        "pipeline_training_export",
        "stream_shard_delivery",
        "tokenizer_bpe_pack",
    )
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def one_round():
        for name in names:
            # as bench.py does between queries: no cached read hides a
            # query's own plan
            release_caches()
            spark.catalog.clearCache()
            df = REGISTRY[name].fn(spark, SF_SMOKE)
            df.write.format("noop").mode("overwrite").save()

    one_round()
    before = codegen.METRIC_COMPILATION_TIME().getCount()
    one_round()
    assert codegen.METRIC_COMPILATION_TIME().getCount() - before == 0
