import uuid

import pytest
from pyspark.sql import functions as F

from mriya_spark import streaming as S

SF = "/root/testdata/sf0.001"


def test_multi_batch_incremental_extract(spark):
    ev = S.read_events_stream(spark, SF, max_files_per_trigger=2, n_files=8)
    assert ev.isStreaming
    out = S.run_to_memory_sink(
        ev.groupBy().agg(F.count(F.lit(1)).alias("n")), output_mode="complete"
    )
    batch_n = spark.read.parquet(S.stage_events_files(spark, SF)).count()
    assert out.collect()[0].n == batch_n


def test_tumbling_window_matches_batch(spark, catalog):
    ev = S.read_events_stream(spark, SF)
    got = S.run_to_memory_sink(S.tumbling_window_counts(ev, minutes=10))
    batch = (
        catalog.table("events")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("window.start").alias("window_start"), "event_type", "n", "sum_value")
    )
    assert got.exceptAll(batch).count() == 0
    assert batch.exceptAll(got).count() == 0


def test_foreach_batch_upsert_latest_wins(spark, catalog):
    ev = S.read_events_stream(spark, SF, max_files_per_trigger=2, n_files=8)
    target = f"/tmp/mriya_spark_stream/test_upsert_{uuid.uuid4().hex[:8]}"
    S.foreach_batch_upsert(ev, target, key="user_id")
    got = spark.read.parquet(target)
    # exactly one row per user, and it is the globally-latest event
    users = catalog.table("events").select("user_id").distinct().count()
    assert got.count() == users
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    expected = (
        catalog.table("events")
        .withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("user_id", "event_id")
    )
    joined = got.select("user_id", "event_id").exceptAll(expected)
    assert joined.count() == 0


def test_foreach_batch_upsert_touches_only_batch_buckets(spark, catalog):
    """Per-batch IO must be proportional to the batch's keys, not the
    target: a batch touching one user may rewrite only that user's
    hash-bucket partition — every other bucket's files stay untouched."""
    import os

    ev = S.read_events_stream(spark, SF, max_files_per_trigger=None, n_files=8)
    target = f"/tmp/mriya_spark_stream/test_upsert_bk_{uuid.uuid4().hex[:8]}"
    S.foreach_batch_upsert(ev, target, key="user_id", n_buckets=16)

    def bucket_state(path):
        out = {}
        for d in os.listdir(path):
            if d.startswith("__bucket="):
                p = os.path.join(path, d)
                out[d] = sorted(
                    (f, os.path.getmtime(os.path.join(p, f)))
                    for f in os.listdir(p)
                )
        return out

    before = bucket_state(target)
    assert len(before) > 4  # the seed run populated many buckets

    # a second stream carrying a single user's events
    one_user = catalog.table("events").select("user_id").first()["user_id"]
    src = f"/tmp/mriya_spark_stream/test_one_user_{uuid.uuid4().hex[:8]}"
    (
        catalog.table("events")
        .filter(F.col("user_id") == one_user)
        .write.mode("overwrite")
        .parquet(src)
    )
    ev2 = (
        spark.readStream.schema(S.EVENTS_RAW_SCHEMA)
        .format("parquet")
        .load(src)
    )
    S.foreach_batch_upsert(ev2, target, key="user_id", n_buckets=16)

    after = bucket_state(target)
    changed = [d for d in before if after.get(d) != before[d]]
    assert len(changed) == 1, changed  # exactly the one touched bucket
    # and the merge itself is still correct for that user
    got = spark.read.parquet(target).filter(F.col("user_id") == one_user)
    assert got.count() == 1


def test_stateful_counter_totals(spark, catalog):
    ev = S.read_events_stream(spark, SF, max_files_per_trigger=2, n_files=8)
    emissions = S.run_to_memory_sink(S.stateful_user_counts(ev), output_mode="update")
    final = emissions.groupBy("user_id").agg(F.max("n_events").alias("n_events"))
    expected = catalog.table("events").groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    assert final.exceptAll(expected).count() == 0
    assert expected.exceptAll(final).count() == 0
    # multiple batches -> at least some users emitted more than once
    assert emissions.count() > final.count()


def test_progress_listener_accumulates_batches(spark):
    """§2.11 progress surface: the listener sees every micro-batch and
    the summary's row count equals the replayed total (the numbers the
    reference's printProgress/success_records_check rendered)."""
    from mriya_spark.progress import ProgressLog

    plog = ProgressLog.attach(spark)
    try:
        ev = S.read_events_stream(spark, SF, max_files_per_trigger=2, n_files=8)
        out = S.run_to_memory_sink(
            S.tumbling_window_counts(ev, minutes=10)
        )
        out.collect()
        # listener events are delivered async on the bus; wait for all
        # 4 batches (8 files / 2 per trigger) to arrive
        import time

        names = {s["name"] for s in plog.started}
        assert len(names) == 1
        (name,) = names
        total = spark.read.parquet(S.stage_events_files(spark, SF)).count()
        for _ in range(60):
            if plog.summary(name)["rows"] >= total:
                break
            time.sleep(0.5)
        summ = plog.summary(name)
        assert summ["batches"] >= 4
        assert summ["rows"] == total
        assert summ["failures"] == 0
        assert summ["last_state_rows"] > 0
    finally:
        plog.detach(spark)


def test_compact_parquet_shrinks_fragmented_dataset(spark, catalog):
    """Compaction must collapse a many-small-files layout to ~1 file
    per Hive partition while preserving rows exactly and keeping the
    partition dirs usable for pruning."""
    import os
    import uuid

    from pyspark.sql import functions as F

    from mriya_spark.maintenance import compact_parquet

    target = f"/tmp/mriya_spark_stream/compact_{uuid.uuid4().hex[:8]}"
    ev = catalog.table("events").withColumn(
        "__bucket", F.pmod(F.xxhash64("user_id"), F.lit(4)).cast("int")
    )
    # fragment on purpose: 32 writer tasks x 4 bucket dirs
    ev.repartition(32).write.partitionBy("__bucket").parquet(target)
    before = spark.read.parquet(target)
    rows_before = {(r.user_id, r.event_id) for r in before.collect()}
    stats = compact_parquet(spark, target, partition_by=["__bucket"])
    assert stats["files_before"] > 30
    assert stats["files_after"] <= 8
    after = spark.read.parquet(target)
    rows_after = {(r.user_id, r.event_id) for r in after.collect()}
    assert rows_after == rows_before
    # layout preserved: hive bucket dirs still exist for pruning
    assert any(d.startswith("__bucket=") for d in os.listdir(target))


def test_observed_counts_piggyback_on_action(spark, catalog):
    from mriya_spark.progress import observed_counts

    orders = catalog.table("orders").select("o_orderkey", "o_orderstatus")
    df, obs = observed_counts(
        orders, success=F.col("o_orderstatus") == "F", name="load"
    )
    n = df.count()  # the pipeline's own action materializes the metrics
    got = obs.get
    assert got["n_rows"] == n
    assert got["n_success"] == orders.filter("o_orderstatus = 'F'").count()


def test_stream_corpus_ingest_cross_batch_dedup(spark, tmp_path):
    """A duplicate arriving in a LATER batch must be dropped by the
    target-fingerprint anti-join (first arrival wins), and low-quality
    docs never land."""
    import os
    import time

    good = ("the quick brown fox jumps over the lazy dog and runs to "
            "the house of a friend " * 2)
    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = spark.createDataFrame(
        [(1, good, "en", "w", len(good)), (2, "x", "en", "w", 1)],
        S.DOCS_SCHEMA,
    )
    b2 = spark.createDataFrame(
        [(5, good + " ", "en", "w", len(good))],  # dup of 1 (normalized)
        S.DOCS_SCHEMA,
    )
    b1.coalesce(1).write.parquet(src + "/f1")
    b2.coalesce(1).write.parquet(src + "/f2")
    # flatten into one dir with ordered mtimes
    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    now = time.time()
    for i, d in enumerate(("f1", "f2")):
        for f in os.listdir(src + "/" + d):
            if f.startswith("part-"):
                p = flat + f"/b{i}.parquet"
                os.rename(src + "/" + d + "/" + f, p)
                os.utime(p, (now + i * 10, now + i * 10))
    stream = (
        spark.readStream.schema(S.DOCS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(flat)
    )
    target = str(tmp_path / "target")
    S.stream_corpus_ingest(stream, target)
    got = {r.doc_id for r in spark.read.parquet(target).collect()}
    assert got == {1}  # dup (5) anti-joined away, junk (2) quality-cut


def test_stateful_rocksdb_matches_default_provider(spark, catalog):
    """State-store provider swap must not change results: the per-user
    counter totals on RocksDB equal the batch GROUP BY (and therefore
    the default-provider query, which shares the oracle)."""
    import mriya_spark.streaming as S
    from pyspark.sql import functions as F

    ev = S.read_events_stream(spark, SF)
    with S.rocksdb_state_store(spark):
        emissions = S.run_to_memory_sink(
            S.stateful_user_counts(ev), output_mode="update"
        )
    got = {
        r.user_id: r.n_events
        for r in emissions.groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"))
        .collect()
    }
    want = {
        r.user_id: r.n
        for r in catalog.table("events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    # conf restored after the scope
    assert "RocksDB" not in spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass",
        "HDFSBackedStateStoreProvider",
    )


def test_transform_with_state_totals():
    """Spark 4 transformWithStateInPandas surface — ENVIRONMENT-BOUND:
    its Python state server imports google.protobuf, absent from this
    image, so this test self-skips here and runs wherever protobuf
    ships."""
    import pytest

    pytest.importorskip("google.protobuf")
    from mriya_spark.session import get_spark
    import mriya_spark.streaming as S
    from pyspark.sql import functions as F

    spark = get_spark(app_name="tws_test")
    ev = S.read_events_stream(spark, SF)
    with S.rocksdb_state_store(spark):
        emissions = S.run_to_memory_sink(
            S.stateful_user_totals_tws(ev), output_mode="update"
        )
    last = emissions.groupBy("user_id").agg(
        F.max(F.struct("n_events", "sum_value")).alias("m")
    )
    batch = (
        spark.read.parquet(S.stage_events_files(spark, SF))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    want = {r.user_id: (r.n, round(r.s, 4)) for r in batch.collect()}
    got = {
        r.user_id: (r.m.n_events, round(r.m.sum_value, 4))
        for r in last.collect()
    }
    assert got == want


def test_foreachbatch_merge_replay_is_idempotent(spark, tmp_path):
    """Exactly-once-on-retry: Spark re-runs a foreachBatch whose
    commit didn't land, so replaying ANY batch (or applying batches
    out of order) must leave the target in the same final state —
    guaranteed by the version-aware merge (greater (ts, event_id)
    wins), not by the checkpoint."""
    import mriya_spark.streaming as S

    ev = spark.read.parquet(S.stage_events_files(spark, SF)).limit(400)
    b1 = ev.filter("event_id % 2 = 0")
    b2 = ev.filter("event_id % 2 = 1")
    target = str(tmp_path / "upsert_target")
    S.merge_upsert_batch(b1, target, n_buckets=4)
    S.merge_upsert_batch(b2, target, n_buckets=4)
    want = sorted(
        (r.user_id, r.event_id)
        for r in spark.read.parquet(target).collect()
    )
    # replay the FIRST batch after the second already applied
    S.merge_upsert_batch(b1, target, n_buckets=4)
    got = sorted(
        (r.user_id, r.event_id)
        for r in spark.read.parquet(target).collect()
    )
    assert got == want
    # replay the last batch too (the common crash-before-commit case)
    S.merge_upsert_batch(b2, target, n_buckets=4)
    got2 = sorted(
        (r.user_id, r.event_id)
        for r in spark.read.parquet(target).collect()
    )
    assert got2 == want


@pytest.mark.parametrize(
    "ingest", ["neardup_ingest_batch", "neardup_ingest_batch_portable"]
)
def test_neardup_ingest_drops_cross_batch_copies(spark, tmp_path, ingest):
    """Near-dup copies arriving in a LATER batch must be dropped by
    the band-index screen against already-ingested docs; within-batch
    near-dups resolve to the smaller id. Both hash families."""
    ingest_batch = getattr(S, ingest)

    base = spark.read.parquet(f"{SF}/documents.parquet").filter(
        "doc_id < 80"
    ).select("doc_id", "text")
    perturbed = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter("doc_id < 30")
        .selectExpr(
            "doc_id + 1000000 AS doc_id",
            r"ltrim(regexp_replace(text, '^\\S+\\s*', '')) AS text",
        )
    )
    target = str(tmp_path / "neardup_target")
    ingest_batch(base, target, threshold=0.5)
    ingest_batch(perturbed, target, threshold=0.5)
    kept = sorted(r.doc_id for r in spark.read.parquet(target).collect())
    copies_kept = [d for d in kept if d >= 1_000_000]
    # >= 90% of planted copies are screened out (LSH recall at j>=0.5)
    assert len(copies_kept) <= 3, copies_kept
    assert len([d for d in kept if d < 1_000_000]) >= 70


@pytest.mark.parametrize(
    "ingest", ["neardup_ingest_batch", "neardup_ingest_batch_portable"]
)
def test_neardup_ingest_replay_is_idempotent(spark, tmp_path, ingest):
    """Replaying a committed batch must be a no-op: every replayed doc
    collides with its own stored copy at jaccard 1.0 and is dropped,
    so neither the doc store nor the band index grows. Both hash
    families."""
    ingest_batch = getattr(S, ingest)

    b1 = spark.read.parquet(f"{SF}/documents.parquet").filter(
        "doc_id < 40"
    ).select("doc_id", "text")
    b2 = spark.read.parquet(f"{SF}/documents.parquet").filter(
        "doc_id >= 40 AND doc_id < 80"
    ).select("doc_id", "text")
    target = str(tmp_path / "replay_target")
    ingest_batch(b1, target, threshold=0.5)
    ingest_batch(b2, target, threshold=0.5)
    want_docs = sorted(r.doc_id for r in spark.read.parquet(target).collect())
    want_bands = spark.read.parquet(target + "_bands").count()
    ingest_batch(b1, target, threshold=0.5)  # crash-retry replay
    got_docs = sorted(r.doc_id for r in spark.read.parquet(target).collect())
    got_bands = spark.read.parquet(target + "_bands").count()
    assert got_docs == want_docs
    assert got_bands == want_bands


def test_neardup_ingest_survives_interwrite_crash(spark, tmp_path):
    """Crash between the two appends (bands committed, docs not): the
    retried batch must append its docs exactly once, and the duplicate
    band rows left behind must not break later screening."""
    import mriya_spark.streaming as S
    from mriya_spark.ops.dedup import (
        _banded,
        add_shingle_hashes,
        minhash_signature,
    )
    from pyspark.sql import functions as F

    b1 = spark.read.parquet(f"{SF}/documents.parquet").filter(
        "doc_id < 40"
    ).select("doc_id", "text")
    b2 = spark.read.parquet(f"{SF}/documents.parquet").filter(
        "doc_id >= 40 AND doc_id < 80"
    ).select("doc_id", "text")
    target = str(tmp_path / "crash_target")
    S.neardup_ingest_batch(b1, target, threshold=0.5)
    # simulate the crash window: b2's band rows land, its docs don't
    sh2 = add_shingle_hashes(b2, n=3)
    (
        _banded(
            sh2.select(
                "doc_id", minhash_signature("shingles").alias("sig")
            ),
            num_perm=64, bands=16,
        )
        .write.mode("append").partitionBy("band").parquet(target + "_bands")
    )
    # retry of b2 (what foreachBatch does after the crash)
    S.neardup_ingest_batch(b2, target, threshold=0.5)
    docs = spark.read.parquet(target)
    ids = [r.doc_id for r in docs.collect()]
    assert sorted(ids) == sorted(set(ids))  # no duplicate documents
    assert {d for d in ids if 40 <= d < 80}  # b2's docs did land
    # later near-dups of b2 are still screened despite duplicate bands
    b3 = b2.filter("doc_id < 50").select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.ltrim(F.regexp_replace("text", r"^\S+\s*", "")).alias("text"),
    )
    S.neardup_ingest_batch(b3, target, threshold=0.5)
    kept3 = [
        r.doc_id for r in spark.read.parquet(target).collect()
        if r.doc_id >= 2_000_000
    ]
    assert len(kept3) <= 1, kept3  # LSH screens the copies


def test_neardup_ingest_survives_first_batch_interwrite_crash(spark, tmp_path):
    """Crash between the two appends on the FIRST batch: the band
    index exists but the doc store does not. The replay must not
    crash reading the absent doc store (r7 advice) and must land
    every first-batch survivor exactly once."""
    import mriya_spark.streaming as S
    from mriya_spark.ops.dedup import (
        _banded,
        add_shingle_hashes,
        minhash_signature,
    )

    b1 = spark.read.parquet(f"{SF}/documents.parquet").filter(
        "doc_id < 40"
    ).select("doc_id", "text")
    target = str(tmp_path / "first_crash_target")
    # simulate the crash window: b1's band rows land, its docs don't,
    # and no doc store exists yet
    sh1 = add_shingle_hashes(b1, n=3)
    (
        _banded(
            sh1.select(
                "doc_id", minhash_signature("shingles").alias("sig")
            ),
            num_perm=64, bands=16,
        )
        .write.mode("append").partitionBy("band").parquet(target + "_bands")
    )
    assert not __import__("os").path.exists(target)
    # retry of b1 (what foreachBatch does after the crash)
    S.neardup_ingest_batch(b1, target, threshold=0.5)
    ids = [r.doc_id for r in spark.read.parquet(target).collect()]
    assert sorted(ids) == sorted(set(ids))  # no duplicate documents
    assert len(ids) >= 35  # the batch's survivors landed


def test_neardup_index_compact_removes_replay_duplicates(spark, tmp_path):
    """After a crash-replay leaves duplicate band rows, compaction
    shrinks the index to its distinct rows and later cross-batch
    screening still works identically."""
    import mriya_spark.streaming as S
    from mriya_spark.ops.dedup import (
        _banded,
        add_shingle_hashes,
        minhash_signature,
    )
    from pyspark.sql import functions as F

    b1 = spark.read.parquet(f"{SF}/documents.parquet").filter(
        "doc_id < 40"
    ).select("doc_id", "text")
    target = str(tmp_path / "compact_target")
    S.neardup_ingest_batch(b1, target, threshold=0.5)
    # simulate the replay residue: b1's band rows appended a second time
    sh1 = add_shingle_hashes(b1, n=3)
    (
        _banded(
            sh1.select("doc_id", minhash_signature("shingles").alias("sig")),
            num_perm=64, bands=16,
        )
        .write.mode("append").partitionBy("band").parquet(target + "_bands")
    )
    idx = spark.read.parquet(target + "_bands")
    assert idx.count() > idx.dropDuplicates(["doc_id", "band", "bucket"]).count()

    stats = S.neardup_index_compact(spark, target)
    assert stats["rows_after"] < stats["rows_before"]
    idx2 = spark.read.parquet(target + "_bands")
    assert idx2.count() == idx2.dropDuplicates(["doc_id", "band", "bucket"]).count()
    assert set(idx2.columns) == {"doc_id", "band", "bucket"}

    # screening against the compacted index still drops near-dup copies
    b2 = b1.filter("doc_id < 20").select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"),
        F.ltrim(F.regexp_replace("text", r"^\S+\s*", "")).alias("text"),
    )
    S.neardup_ingest_batch(b2, target, threshold=0.5)
    kept = [r.doc_id for r in spark.read.parquet(target).collect()
            if r.doc_id >= 3_000_000]
    assert len(kept) <= 1, kept


def test_stream_migration_replay_is_idempotent(spark, tmp_path):
    """The streaming migration twin's per-batch body (shared
    _migration_frames DAG + keyed merge) must tolerate Spark's
    crash-retry batch replay: re-applying any micro-batch leaves the
    target in the same final state, and that state equals the batch
    flagship's output."""
    from mriya_spark.catalog import Catalog
    from mriya_spark.mapping import MappingSpec
    from mriya_spark.queries import (
        FLAGSHIP_MAPPING,
        _FrameCatalog,
        _migration_frames,
        run_migration,
    )
    import mriya_spark.streaming as S

    cat = Catalog(spark, SF)
    spec = MappingSpec.from_obj(FLAGSHIP_MAPPING)
    cust = cat.table("customer")
    b1 = cust.filter("c_custkey % 2 = 0")
    b2 = cust.filter("c_custkey % 2 = 1")
    target = str(tmp_path / "mig_target")

    def apply(batch):
        out = _migration_frames(_FrameCatalog({"customer": batch}, cat), spec)
        S.merge_upsert_batch(
            out, target, key="old_record_id", order_by=("old_record_id",),
            n_buckets=4,
        )

    apply(b1)
    apply(b2)
    want = sorted(
        (r.old_record_id, r.dst_id, r.src_backfilled_id)
        for r in spark.read.parquet(target).collect()
    )
    apply(b1)  # crash-retry replay of an already-committed batch
    got = sorted(
        (r.old_record_id, r.dst_id, r.src_backfilled_id)
        for r in spark.read.parquet(target).collect()
    )
    assert got == want

    # incremental final state == the batch flagship
    batch_rows = sorted(
        (r.old_record_id, r.dst_id, r.src_backfilled_id)
        for r in run_migration(spark, SF).collect()
    )
    assert got == batch_rows


def test_stream_quantile_ingest_replay_is_idempotent(spark, tmp_path):
    """Replaying a committed micro-batch re-contributes exact duplicate
    survivor rows; the (u60, value) dedup in the merge drops them, so
    the persisted sketch is unchanged — and the final state equals the
    direct batch sketch of everything ingested (the mergeability
    invariant, streaming edition)."""
    import mriya_spark.streaming as S
    from mriya_spark.ops.aggregate import quantile_sketch

    ev = spark.read.parquet(S.stage_events_files(spark, SF)).select(
        "event_id", "value"
    )
    b1 = ev.filter("event_id % 2 = 0")
    b2 = ev.filter("event_id % 2 = 1")
    target = str(tmp_path / "qsketch")

    S.quantile_ingest_batch(b1, target)
    S.quantile_ingest_batch(b2, target)
    want = sorted(
        (r.level, r.u60, r.value)
        for r in spark.read.parquet(target).collect()
    )
    S.quantile_ingest_batch(b1, target)  # crash-retry replay
    got = sorted(
        (r.level, r.u60, r.value)
        for r in spark.read.parquet(target).collect()
    )
    assert got == want

    lv_direct, st_direct = quantile_sketch(
        ev, value_col="value", key_col="event_id"
    )
    direct = sorted(
        (lv_direct, r.u60, r.value) for r in st_direct.collect()
    )
    assert got == direct


def test_quantile_ingest_rejects_duplicate_keys(spark, tmp_path):
    """r10 advice: a duplicate key in a batch is indistinguishable from
    a crash-retry replay once hashed to u60, so the ingest must fail
    loudly on it rather than silently collapse sketch mass."""
    import pytest as _pytest

    import mriya_spark.streaming as S

    bad = spark.createDataFrame(
        [(1, 10.0), (1, 10.0), (2, 3.0)], "event_id long, value double"
    )
    with _pytest.raises(ValueError, match="duplicate event_id"):
        S.quantile_ingest_batch(bad, str(tmp_path / "qsk_dup"))


def test_stream_encode_fixed_vocab_multibatch_equals_oneshot(spark, tmp_path):
    """Encoding from a fixed artifact is per-document, so the
    micro-batched stream target must equal the one-shot batch encode
    row-for-row — and the stream must actually run MULTIPLE batches
    for that claim to pin anything (each append leaves its own part
    files, so the file count proves the batch count)."""
    import os
    import time

    from mriya_spark.ops.text import (
        bpe_symbols,
        bpe_token_ids,
        bpe_train,
        bpe_word_freq,
    )

    texts = [
        "low lower lowest",
        "newer new a9 aa",
        "be low say newer",
        "aaa aa low",
    ]
    rows = [(i, t, "en", "w", len(t)) for i, t in enumerate(texts)]
    full = spark.createDataFrame(rows, S.DOCS_SCHEMA).select(
        "doc_id", "text"
    )
    wf = bpe_word_freq(full).localCheckpoint(eager=True)
    merges = bpe_train(full, n_merges=3, word_freq=wf)
    vocab = bpe_symbols(full, merges, word_freq=wf)

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    now = time.time()
    for i, r in enumerate(rows):
        d = str(tmp_path / f"s{i}")
        spark.createDataFrame([r], S.DOCS_SCHEMA).coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.startswith("part-"):
                p = flat + f"/b{i}.parquet"
                os.rename(d + "/" + f, p)
                os.utime(p, (now + i * 10, now + i * 10))
    stream = (
        spark.readStream.schema(S.DOCS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(flat)
        .select("doc_id", "text")
    )
    target = str(tmp_path / "target")
    S.stream_encode_fixed_vocab(stream, target, merges, vocab, oov_id=0)

    parts = [f for f in os.listdir(target) if f.startswith("part-")]
    assert len(parts) >= 2, "stream collapsed into a single batch"

    got = {
        r.doc_id: (r.n_bpe_tokens, list(r.token_ids))
        for r in spark.read.parquet(target).collect()
    }
    want = {
        r.doc_id: (r.n_bpe_tokens, list(r.token_ids))
        for r in bpe_token_ids(
            full, merges, symbols=vocab, oov_id=0
        ).collect()
    }
    assert got == want


def test_stream_encode_fixed_vocab_replay_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: replaying the WHOLE stream into
    the same target (fresh checkpoint, same files) must append
    nothing — the doc_id anti-join makes a replayed epoch a no-op, so
    the target still equals the one-shot encode after the replay."""
    import os
    import time

    from mriya_spark.ops.text import bpe_symbols, bpe_train, bpe_word_freq

    rows = [
        (i, t, "en", "w", len(t))
        for i, t in enumerate(["low lower", "newer aa", "be low"])
    ]
    full = spark.createDataFrame(rows, S.DOCS_SCHEMA).select(
        "doc_id", "text"
    )
    wf = bpe_word_freq(full).localCheckpoint(eager=True)
    merges = bpe_train(full, n_merges=3, word_freq=wf)
    vocab = bpe_symbols(full, merges, word_freq=wf)

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    now = time.time()
    for i, r in enumerate(rows):
        d = str(tmp_path / f"s{i}")
        spark.createDataFrame([r], S.DOCS_SCHEMA).coalesce(1).write.parquet(d)
        for f in os.listdir(d):
            if f.startswith("part-"):
                p = flat + f"/b{i}.parquet"
                os.rename(d + "/" + f, p)
                os.utime(p, (now + i * 10, now + i * 10))

    def run_once():
        stream = (
            spark.readStream.schema(S.DOCS_SCHEMA)
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(flat)
            .select("doc_id", "text")
        )
        S.stream_encode_fixed_vocab(
            stream, str(tmp_path / "target"), merges, vocab, oov_id=0
        )

    run_once()
    first = sorted(
        (r.doc_id, r.n_bpe_tokens, tuple(r.token_ids))
        for r in spark.read.parquet(str(tmp_path / "target")).collect()
    )
    run_once()  # full replay: fresh checkpoint, same files, same target
    second = sorted(
        (r.doc_id, r.n_bpe_tokens, tuple(r.token_ids))
        for r in spark.read.parquet(str(tmp_path / "target")).collect()
    )
    assert first == second
    assert len(first) == len(rows)


def test_stream_encode_fixed_vocab_nonpath_error_fails_loud(spark, tmp_path):
    """The replay guard reads the target with the writer's own explicit
    schema (r19: skips a footer-inference job per micro-batch), which
    narrows the r16 fail-loud contract to the cases that still matter:

    - an EXISTING but EMPTY target dir is now a well-defined empty read
      (zero rows seen -> nothing to dedup against), not the
      UNABLE_TO_INFER_SCHEMA abort it was under inference — the append
      must proceed and produce each row exactly once;
    - an existing target whose part files are UNREADABLE must still
      propagate and kill the stream, NOT silently disarm the anti-join
      dedup over a target it couldn't inspect."""
    import os

    import pytest

    from mriya_spark.ops.text import bpe_symbols, bpe_train, bpe_word_freq

    rows = [(0, "low lower", "en", "w", 9)]
    full = spark.createDataFrame(rows, S.DOCS_SCHEMA).select(
        "doc_id", "text"
    )
    wf = bpe_word_freq(full).localCheckpoint(eager=True)
    merges = bpe_train(full, n_merges=2, word_freq=wf)
    vocab = bpe_symbols(full, merges, word_freq=wf)

    flat = str(tmp_path / "flat")
    os.makedirs(flat)
    spark.createDataFrame(rows, S.DOCS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "src"))
    for f in os.listdir(str(tmp_path / "src")):
        if f.startswith("part-"):
            os.rename(str(tmp_path / "src") + "/" + f, flat + "/b0.parquet")

    # 1) empty existing target: guard sees zero rows, append proceeds
    target = str(tmp_path / "target")
    os.makedirs(target)
    stream = (
        spark.readStream.schema(S.DOCS_SCHEMA)
        .format("parquet")
        .load(flat)
        .select("doc_id", "text")
    )
    S.stream_encode_fixed_vocab(stream, target, merges, vocab, oov_id=0)
    assert [
        r.doc_id for r in spark.read.parquet(target).collect()
    ] == [0]

    # 2) unreadable part file in the target: the guard's execution-time
    # read fails and the stream dies instead of appending duplicates
    bad = str(tmp_path / "target_bad")
    os.makedirs(bad)
    with open(bad + "/part-00000-garbage.parquet", "wb") as fh:
        fh.write(b"not a parquet file")
    stream2 = (
        spark.readStream.schema(S.DOCS_SCHEMA)
        .format("parquet")
        .load(flat)
        .select("doc_id", "text")
    )
    with pytest.raises(Exception, match="(?i)parquet|footer|corrupt"):
        S.stream_encode_fixed_vocab(stream2, bad, merges, vocab, oov_id=0)
    # and nothing was appended behind the failure (only the planted file)
    assert [f for f in os.listdir(bad) if f.startswith("part-")] == [
        "part-00000-garbage.parquet"
    ]


def test_replay_guard_checks_for_the_target_before_reading_it(
    spark, tmp_path, monkeypatch
):
    """A first batch does not read its missing target: that read makes
    ``FileStreamSink`` log a ~50-line "Assume no metadata directory"
    stack trace on a green run. A target deleted between the check and
    the read still reads as a first batch."""
    from pyspark.sql.readwriter import DataFrameReader

    batch = spark.range(1).withColumnRenamed("id", "doc_id")
    missing = str(tmp_path / "missing")
    reads = []
    stock = DataFrameReader.parquet

    def parquet(self, *paths, **options):
        reads.append(paths)
        return stock(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    assert S._read_seen_doc_ids(batch, missing, [False]) is None
    assert reads == []

    monkeypatch.setattr(S, "fs_exists", lambda spark, path: True)
    assert S._read_seen_doc_ids(batch, missing, [False]) is None
    assert reads == [(missing,)]


def test_stream_encode_fixed_vocab_foreign_target_fails_loud(
    spark, tmp_path
):
    """r19 ADVICE (medium): the explicit-schema replay guard reads
    ``doc_id long`` from the target; on a target that holds READABLE
    parquet WITHOUT a doc_id column (wrong path / foreign data) Spark
    returns NULLs instead of the old UNRESOLVED_COLUMN failure, the
    anti-join matches nothing, and a replay would silently append
    duplicates. The guard now validates the target's real schema once
    per stream (first batch that sees an existing target) and refuses
    foreign data loudly."""
    import os

    import pytest

    from mriya_spark.ops.text import bpe_symbols, bpe_train, bpe_word_freq

    rows = [(0, "low lower", "en", "w", 9)]
    full = spark.createDataFrame(rows, S.DOCS_SCHEMA).select(
        "doc_id", "text"
    )
    wf = bpe_word_freq(full).localCheckpoint(eager=True)
    merges = bpe_train(full, n_merges=2, word_freq=wf)
    vocab = bpe_symbols(full, merges, word_freq=wf)

    src = str(tmp_path / "src")
    spark.createDataFrame(rows, S.DOCS_SCHEMA).coalesce(1).write.mode(
        "overwrite"
    ).parquet(src)

    # a target holding foreign parquet: readable, but no doc_id column
    foreign = str(tmp_path / "foreign_target")
    spark.createDataFrame(
        [("x", 1)], "other_key string, v int"
    ).write.mode("overwrite").parquet(foreign)

    before = sorted(
        f for f in os.listdir(foreign) if f.startswith("part-")
    )

    stream = (
        spark.readStream.schema(S.DOCS_SCHEMA)
        .format("parquet")
        .load(src)
        .select("doc_id", "text")
    )
    with pytest.raises(Exception, match="no\\s+doc_id column"):
        S.stream_encode_fixed_vocab(stream, foreign, merges, vocab, oov_id=0)
    # nothing was appended behind the refusal
    after = sorted(
        f for f in os.listdir(foreign) if f.startswith("part-")
    )
    assert after == before, (before, after)


def _tiny_trained_artifact(spark):
    from mriya_spark.ops.text import (
        bpe_symbols,
        bpe_token_ids,
        bpe_train,
        bpe_word_freq,
    )

    texts = ["low lower lowest", "newer new a9 aa", "be low say newer", ""]
    rows = [(i, t, "en", "w", len(t)) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, S.DOCS_SCHEMA).select("doc_id", "text")
    wf = bpe_word_freq(docs).localCheckpoint(eager=True)
    merges = bpe_train(docs, n_merges=3, word_freq=wf)
    vocab = bpe_symbols(docs, merges, word_freq=wf)
    ids = bpe_token_ids(docs, merges, symbols=vocab).select(
        "doc_id", "token_ids"
    )
    return docs, merges, vocab, ids


def test_stream_decode_fixed_vocab_multibatch_equals_oneshot(spark, tmp_path):
    """Decode from a fixed vocab is per-document, so the micro-batched
    stream target must equal the one-shot batch decode row-for-row —
    with the stream proven to run MULTIPLE batches (part-file count),
    and the decoded text proven equal to the roundtrip invariant
    (pretokenized words joined with '')."""
    import os

    from pyspark.sql import functions as F

    from mriya_spark.ops.text import _pretokenize_expr, bpe_decode

    docs, merges, vocab, ids = _tiny_trained_artifact(spark)
    src = str(tmp_path / "src")
    S.stage_frame_files(spark, ids, src, n_files=4)
    stream = (
        spark.readStream.schema("doc_id long, token_ids array<bigint>")
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(src)
    )
    target = str(tmp_path / "target")
    S.stream_decode_fixed_vocab(stream, target, vocab)

    parts = [f for f in os.listdir(target) if f.startswith("part-")]
    assert len(parts) >= 2, "stream collapsed into a single batch"

    got = {
        r.doc_id: r.decoded for r in spark.read.parquet(target).collect()
    }
    want = {
        r.doc_id: r.decoded for r in bpe_decode(ids, vocab).collect()
    }
    assert got == want
    invariant = {
        r.doc_id: r.w
        for r in docs.select(
            "doc_id",
            F.array_join(
                _pretokenize_expr("text", "[^a-z0-9]+"), ""
            ).alias("w"),
        ).collect()
    }
    assert got == invariant


def test_stream_decode_fixed_vocab_replay_idempotent(spark, tmp_path):
    """Replaying the whole decode stream into the same target (fresh
    checkpoint, same files) appends nothing — the doc_id anti-join
    makes a replayed epoch a no-op."""
    docs, merges, vocab, ids = _tiny_trained_artifact(spark)
    src = str(tmp_path / "src")
    S.stage_frame_files(spark, ids, src, n_files=4)
    target = str(tmp_path / "target")

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, token_ids array<bigint>")
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(src)
        )
        S.stream_decode_fixed_vocab(stream, target, vocab)

    run_once()
    first = sorted(
        (r.doc_id, r.decoded)
        for r in spark.read.parquet(target).collect()
    )
    run_once()
    second = sorted(
        (r.doc_id, r.decoded)
        for r in spark.read.parquet(target).collect()
    )
    assert first == second
    assert len(first) == 4


def test_stream_decode_unknown_id_fails_loud(spark, tmp_path):
    """A vocab/merges artifact mismatch (id outside 1..len(vocab))
    kills the stream with bpe_decode's raise_error message instead of
    silently truncating decoded text mid-corpus."""
    import pytest

    docs, merges, vocab, ids = _tiny_trained_artifact(spark)
    bad = ids.selectExpr(
        "doc_id",
        f"transform(token_ids, x -> x + {len(vocab)}) AS token_ids",
    )
    src = str(tmp_path / "src")
    S.stage_frame_files(spark, bad, src, n_files=2)
    stream = (
        spark.readStream.schema("doc_id long, token_ids array<bigint>")
        .format("parquet")
        .load(src)
    )
    with pytest.raises(Exception, match="unknown token id"):
        S.stream_decode_fixed_vocab(stream, str(tmp_path / "t"), vocab)


def test_stage_helpers_refuse_remote_paths(spark):
    """stage_frame_files' mtime staggering is LOCAL-FS only (os.utime
    has no object-store equivalent): a scheme-prefixed OUTPUT path must
    fail loud instead of silently staging onto a bogus local path (r17
    ADVICE). stage_docs_files takes no output path — its staging always
    lands under the local _STAGE_ROOT, and a remote SOURCE corpus is
    legitimate (Spark reads it), so it must NOT guard sf_dir."""
    import inspect

    import pytest

    from mriya_spark import streaming as S

    df = spark.range(3).selectExpr("id AS doc_id")
    with pytest.raises(ValueError, match="local-FS"):
        S.stage_frame_files(spark, df, "s3a://bucket/stage")
    # the docs stager guards nothing on the source side: a remote
    # sf_dir reaches spark.read.parquet (first failure there would be
    # the missing remote FS connector, not a ValueError from us)
    src = inspect.getsource(S.stage_docs_files)
    assert "raise ValueError" not in src


def test_stream_shard_delivery_matches_batch_and_replays_idempotent(
    spark, tmp_path
):
    """The streamed delivery's FINAL manifest is byte-identical to a
    single-shot append of the same rows (format-4 checksums merge
    per batch; placement is per-row deterministic), the export reads
    back through the verifying reader with the resume contract, and a
    full REPLAY of the source (fresh checkpoint, same files) appends
    nothing — the keys-already-delivered anti-join makes delivery
    idempotent."""
    from mriya_spark import sinks

    docs = spark.range(0, 150).selectExpr(
        "id AS doc_id", "concat('d', id) AS body"
    )
    src = str(tmp_path / "src")
    S.stage_frame_files(spark, docs, src, n_files=6)

    def stream():
        return (
            spark.readStream.schema("doc_id long, body string")
            .format("parquet")
            .option("maxFilesPerTrigger", 2)
            .load(src)
        )

    target = str(tmp_path / "delivered")
    S.stream_shard_delivery(stream(), target, num_shards=4, seed=5)

    ref = str(tmp_path / "oneshot")
    m_ref = sinks.append_training_shards(docs, ref, num_shards=4, seed=5)
    import json

    with open(target + "/_manifest.json") as fh:
        m_got = json.load(fh)
    assert m_got == m_ref

    back = sinks.read_training_shards(spark, target, start=(0, 0))
    assert back.count() == 150

    # replay: same source files, fresh checkpoint -> every batch
    # re-arrives, the anti-join drops all keys, the manifest is
    # unchanged and no duplicate rows land
    S.stream_shard_delivery(stream(), target, num_shards=4, seed=5)
    with open(target + "/_manifest.json") as fh:
        m_replay = json.load(fh)
    assert m_replay == m_ref
    assert sinks.read_training_shards(spark, target, start=(0, 0)).count() == 150


def test_stream_shard_delivery_bloom_screen_same_result(spark, tmp_path):
    """With the delivered-keys Bloom filter enabled, the streamed
    export's DATA and manifest checksums are identical to a one-shot
    append with the same setting (the bloom words are a word-wise-OR
    monoid, so the final filter is batching-invariant like the
    checksums), overlap between batches still dedups (positives go
    through the exact anti-join — no false negatives means no new key
    is ever wrongly dropped), and a full replay appends nothing."""
    import json

    from mriya_spark import sinks

    docs = spark.range(0, 120).selectExpr(
        "id AS doc_id", "concat('d', id) AS body"
    )
    src = str(tmp_path / "src")
    # stage WITH OVERLAP: two halves sharing 20 keys — the second
    # half's duplicates must be dropped by the screened anti-join
    first = docs.filter("doc_id < 70")
    second = docs.filter("doc_id >= 50")
    import os
    import time

    os.makedirs(src)
    now = time.time()
    for i, part in enumerate((first, second)):
        d = str(tmp_path / f"stage{i}")
        part.coalesce(1).write.parquet(d)
        f = next(x for x in os.listdir(d) if x.startswith("part-"))
        p = src + f"/b{i}.parquet"
        os.rename(d + "/" + f, p)
        os.utime(p, (now + i * 10, now + i * 10))

    def stream():
        return (
            spark.readStream.schema("doc_id long, body string")
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(src)
        )

    target = str(tmp_path / "delivered")
    S.stream_shard_delivery(
        stream(), target, num_shards=4, seed=5, bloom_bits=4096
    )

    ref = str(tmp_path / "oneshot")
    m_ref = sinks.append_training_shards(
        docs, ref, num_shards=4, seed=5, bloom_bits=4096
    )
    with open(target + "/_manifest.json") as fh:
        m_got = json.load(fh)
    assert m_got == m_ref
    assert len(m_got["key_bloom_words"]) > 0

    back = sinks.read_training_shards(spark, target, start=(0, 0))
    assert back.count() == 120
    assert back.select("doc_id").distinct().count() == 120

    # replay: every key is delivered, so every row is bloom-positive
    # and the exact anti-join drops all of them
    S.stream_shard_delivery(
        stream(), target, num_shards=4, seed=5, bloom_bits=4096
    )
    with open(target + "/_manifest.json") as fh:
        assert json.load(fh) == m_ref

    # enabling bloom on an existing non-bloom export is refused (the
    # setting is a pinned manifest parameter)
    import pytest

    plain = str(tmp_path / "plain")
    sinks.append_training_shards(docs, plain, num_shards=4, seed=5)
    with pytest.raises(ValueError, match="disagree with"):
        sinks.append_training_shards(
            docs, plain, num_shards=4, seed=5, bloom_bits=4096
        )


def test_ckpt_sweep_spares_live_owners(tmp_path, monkeypatch):
    """The checkpoint orphan sweep ages nothing by mtime alone: an
    hour-old checkpoint whose owning pid is alive is another process's
    long drain and stays; one whose owner is dead, or whose name
    carries no pid, is swept. A fresh one is never touched. The same
    holds in the user cache dir the drivers fall back to when the
    tmpfs root is missing."""
    import os
    import subprocess
    import time

    dead = subprocess.Popen(["true"])
    dead.wait()  # reaped: /proc/<pid> is gone
    for fallback in (False, True):
        root = tmp_path / ("stage" if fallback else "shm")
        root.mkdir()
        if fallback:
            monkeypatch.setattr(S, "_SHM_ROOT", str(tmp_path / "missing"))
            monkeypatch.setattr(S, "_STAGE_ROOT", str(root))
        else:
            monkeypatch.setattr(S, "_SHM_ROOT", str(root))
        live = root / f"mriya_ckpt_{os.getpid()}_out_live"
        orphan = root / f"mriya_ckpt_{dead.pid}_out_orphan"
        unowned = root / "mriya_ckpt_out_unowned"
        fresh = root / f"mriya_ckpt_{dead.pid}_out_fresh"
        for d in (live, orphan, unowned, fresh):
            d.mkdir()
        old = time.time() - 7200
        for d in (live, orphan, unowned):
            os.utime(d, (old, old))
        made = S._ckpt_dir("t")
        assert live.exists() and fresh.exists(), root
        assert not orphan.exists() and not unowned.exists(), root
        assert os.path.dirname(made) == str(root)
        assert os.path.basename(made).startswith(f"mriya_ckpt_{os.getpid()}_t_")


def test_bounded_drivers_remove_checkpoint_on_failure(
    spark, tmp_path, monkeypatch
):
    """``run_to_memory_sink``, ``run_until_idle`` and the foreachBatch
    runner delete their checkpoint (RAM when it lives on tmpfs) when
    the drain raises, not only when it succeeds."""
    import pytest

    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)
    failing = (
        spark.readStream.schema("id long").parquet(src)
        .select(F.expr("raise_error(concat('boom ', id))").alias("x"))
    )
    drains = {
        "memory_sink": lambda: S.run_to_memory_sink(
            failing, output_mode="append"
        ),
        "until_idle": lambda: S.run_until_idle(failing),
        "foreach_batch": lambda: S.run_foreach_batch(
            failing, lambda batch, _epoch: batch.collect()
        ),
    }
    for name, drain in drains.items():
        ckpt = tmp_path / f"ckpt_{name}"
        monkeypatch.setattr(S, "_ckpt_dir", lambda tag, p=str(ckpt): p)
        with pytest.raises(Exception, match="boom"):
            drain()
        assert not ckpt.exists(), name


def test_bounded_drain_yields_file_uri_and_removes_checkpoint(spark):
    """A bounded drain's checkpoint is local, so it is handed to Spark
    as a ``file://`` URI (a bare path would resolve against a non-local
    ``fs.defaultFS`` and the local rmtree would leak it). The local
    directory is gone after a normal exit and after a raising one."""
    import os

    import pytest

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    with S._bounded_drain(spark, "uri") as loc:
        assert loc.startswith("file:///")
        local = loc[len("file://"):]
        os.makedirs(os.path.join(local, "offsets"), exist_ok=True)
        assert os.path.isdir(local)
    assert not os.path.exists(local)

    with pytest.raises(RuntimeError, match="boom"):
        with S._bounded_drain(spark, "uri") as loc:
            local = loc[len("file://"):]
            os.makedirs(os.path.join(local, "offsets"), exist_ok=True)
            raise RuntimeError("boom")
    assert not os.path.exists(local)
    assert spark.conf.get("spark.sql.shuffle.partitions") == saved
