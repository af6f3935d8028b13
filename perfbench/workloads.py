"""The workloads: inputs, one timed iteration, output checks and
per-layer counts.

Each workload is a closed loop with one client thread: ``iterate`` runs
one pass through the library's public functions, and the runner times
it. Inputs are built in ``generate`` (numpy/pyarrow only) and staged in
``stage`` (Spark-side set-up and the untimed reference computations);
both run before timing starts. ``check`` runs untimed after each
iteration and returns a list of failures, computed in plain Python
from the generated inputs; the stream check alone compares against a
one-shot sink write made in ``stage``.

Layer boundaries are materialized (``localCheckpoint(eager=True)``,
``collect``) so each span holds the execution of its own layer. The
exceptions are lazy calls whose execution lands in the span of the
next action: ``mapping.run`` builds plans that the destination
``connector.insert`` executes, and ``text.pack`` builds the window
table that ``sinks.write_shards`` executes. The window table stays
lazy because ``write_training_shards`` sizes its salt from the input's
row estimate, and a checkpointed input has no estimate, which salts a
small export into thousands of tasks.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import gen
import refcheck

# -------------------------------------------------------------- migrate

PARENT_DDL = "p_key long, p_name string, p_region string"
CHILD_DDL = "c_key long, c_parent long, c_amount double"
PARENT_DST_DDL = "old_record_id long, name string, region string, dst_id string"
CHILD_DST_DDL = (
    "old_record_id long, amount double, parent_ref string, dst_id string"
)


def _rule(src_obj, col_src, dst_obj, col_dst, op="insert", kind="regular"):
    return {
        "table_src": src_obj, "column_src": col_src, "table_dst": dst_obj,
        "column_dst": col_dst, "operation": op, "column_type": kind,
    }


PARENT_MAPPING = {
    "source_object": "Parent",
    "destination_object": "ParentDst",
    "where_condition": "",
    "mapping": [
        _rule("Parent", "p_key", "ParentDst", "old_record_id", "upd_src", "src_id"),
        _rule("Parent", "p_name", "ParentDst", "name"),
        _rule("Parent", "p_region", "ParentDst", "region"),
    ],
}
CHILD_MAPPING = {
    "source_object": "Child",
    "destination_object": "ChildDst",
    "where_condition": "",
    "mapping": [
        _rule("Child", "c_key", "ChildDst", "old_record_id", "upd_src", "src_id"),
        _rule("Child", "c_amount", "ChildDst", "amount"),
        _rule("Child", "c_parent", "ChildDst", "parent_ref"),
    ],
    "parent_fks": {"c_parent": "Parent"},
}


class _Frames:
    """The catalog interface ``run_mapping_array`` reads: table name ->
    the frame the connector read."""

    def __init__(self, frames):
        self.frames = frames

    def table(self, name):
        return self.frames[name]


class Workload:
    """Hooks the runner calls around each timed ``iterate``."""

    def finish(self, out: dict) -> None:
        """Untimed: gather what the check needs after the iteration."""


def _jsonl(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f]


class Migrate(Workload):
    """The paper's own job: a chunked connector insert of parent and
    child accounts, page reads, an FK-rewriting mapping into a second
    org, a re-read and the key backfill."""

    name = "migrate"
    N_PARENTS = 300
    N_CHILDREN = 900

    def generate(self, seed: int, data_dir: str) -> None:
        self.acc = gen.make_accounts(
            seed, data_dir, n_parents=self.N_PARENTS, n_children=self.N_CHILDREN
        )

    def stage(self, spark, work_dir: str) -> None:
        from mriya_spark.connector.salesforce import SalesforceMockDataSource

        spark.dataSource.register(SalesforceMockDataSource)
        self.spark = spark
        self.work_dir = work_dir

    def properties(self) -> dict:
        return self.acc.properties()

    def input_rows(self) -> int:
        return len(self.acc.parents) + len(self.acc.children)

    @staticmethod
    def _insert(df, org: str, obj: str) -> None:
        # one task per insert: the mock org appends to one JSONL file
        # per object, and a serial chunk loop is also the paper's shape
        (
            df.coalesce(1).write.format("salesforce_mock").mode("append")
            .option("org_dir", org).option("object", obj).save()
        )

    def iterate(self, it: int, tracer) -> dict:
        from mriya_spark.connector.salesforce import read_object
        from mriya_spark.mapping import MappingSpec, run_mapping_array

        spark = self.spark
        src_org = os.path.join(self.work_dir, f"src_org_{it}")
        dst_org = os.path.join(self.work_dir, f"dst_org_{it}")
        with tracer.span("connector.insert"):
            self._insert(spark.read.parquet(self.acc.parent_path), src_org, "Parent")
            self._insert(spark.read.parquet(self.acc.child_path), src_org, "Child")
        with tracer.span("connector.read"):
            src = {
                "Parent": read_object(spark, src_org, "Parent", PARENT_DDL)
                .localCheckpoint(eager=True),
                "Child": read_object(spark, src_org, "Child", CHILD_DDL)
                .localCheckpoint(eager=True),
            }
        with tracer.span("mapping.run"):
            parent_spec = MappingSpec.from_obj(PARENT_MAPPING)
            child_spec = MappingSpec.from_obj(CHILD_MAPPING)
            created = run_mapping_array(_Frames(src), [child_spec, parent_spec])
        with tracer.span("connector.insert"):
            self._insert(created["Parent"], dst_org, "ParentDst")
            self._insert(created["Child"], dst_org, "ChildDst")
        with tracer.span("connector.read"):
            back = {
                "Parent": read_object(spark, dst_org, "ParentDst", PARENT_DST_DDL)
                .localCheckpoint(eager=True),
                "Child": read_object(spark, dst_org, "ChildDst", CHILD_DST_DDL)
                .localCheckpoint(eager=True),
            }
        with tracer.span("mapping.backfill"):
            backfill = {
                obj: spec.backfill(src[obj], back[obj]).collect()
                for obj, spec in (("Parent", parent_spec), ("Child", child_spec))
            }
        return {"src_org": src_org, "dst_org": dst_org, "backfill": backfill}

    def check(self, out: dict) -> list[str]:
        fails: list[str] = []
        acc = self.acc
        parents = _jsonl(os.path.join(out["dst_org"], "ParentDst.jsonl"))
        children = _jsonl(os.path.join(out["dst_org"], "ChildDst.jsonl"))
        want_p = {
            k: {"old_record_id": k, "name": n, "region": r, "dst_id": f"ParentDst-{k}"}
            for k, (n, r) in acc.parents.items()
        }
        got_p = {r["old_record_id"]: r for r in parents}
        if len(parents) != len(want_p) or got_p != want_p:
            fails.append("migrate: destination parents differ from the source")
        want_c = {
            k: {"old_record_id": k, "amount": a,
                "parent_ref": f"ParentDst-{p}", "dst_id": f"ChildDst-{k}"}
            for k, (p, a) in acc.children.items()
        }
        got_c = {r["old_record_id"]: r for r in children}
        if len(children) != len(want_c) or got_c != want_c:
            fails.append(
                "migrate: destination children are not each present once "
                "with their FK rewritten to the parent's dst_id"
            )
        for obj, dst, keys in (
            ("Parent", "ParentDst", acc.parents),
            ("Child", "ChildDst", acc.children),
        ):
            rows = [tuple(r) for r in out["backfill"][obj]]
            if len(rows) != len(keys) or dict(rows) != {k: f"{dst}-{k}" for k in keys}:
                fails.append(f"migrate: backfill of {obj} does not map every key")
        for org, objs in (
            (out["src_org"], {"Parent": len(acc.parents), "Child": len(acc.children)}),
            (out["dst_org"], {"ParentDst": len(acc.parents), "ChildDst": len(acc.children)}),
        ):
            calls = _jsonl(os.path.join(org, "_calls.jsonl"))
            for obj, n in objs.items():
                ins = [c["n_rows"] for c in calls if c["op"] == "insert" and c["object"] == obj]
                if not ins or max(ins) > 200 or sum(ins) != n:
                    fails.append(
                        f"migrate: insert calls for {obj} are not <=200 rows "
                        f"summing to {n}"
                    )
        return fails

    def layer_counts(self, out: dict) -> dict:
        calls = _jsonl(os.path.join(out["src_org"], "_calls.jsonl")) + _jsonl(
            os.path.join(out["dst_org"], "_calls.jsonl")
        )
        ins = [c["n_rows"] for c in calls if c["op"] == "insert"]
        return {
            "connector.insert_calls": len(ins),
            "connector.rows_per_insert": sum(ins) / len(ins),
            "connector.page_reads": sum(1 for c in calls if c["op"] == "query_page"),
        }

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["src_org"], ignore_errors=True)
        shutil.rmtree(out["dst_org"], ignore_errors=True)


# ----------------------------------------------------------- llm_export

CURATION = {
    "filters": [{"type": "quality", "min_score": 0.5}],
    "dedup": [{"type": "exact"}, {"type": "minhash_lsh", "threshold": 0.6}],
    "output": ["doc_id", "text"],
}


class LlmExport(Workload):
    """Both halves of the LLM data path over one generated corpus: the
    batch export (curation, BPE, FFD packing, one shard write, verified
    read) and then the stream delivery of the corpus' ``(doc_id, lang)``
    rows, one staged file per trigger, read back verified."""

    name = "llm_export"
    N_DOCS = 300
    LEXICON = 100000
    ZIPF_S = 0.7
    N_MERGES = 8
    MAX_BATCH = 4
    CONTEXT = 1024
    PACK_SHARDS = 4
    NUM_SHARDS = 8
    STREAM_FILES = 2

    def generate(self, seed: int, data_dir: str) -> None:
        self.corpus = gen.make_corpus(
            seed, data_dir, n_docs=self.N_DOCS, lexicon_size=self.LEXICON,
            zipf_s=self.ZIPF_S,
        )
        self.stream_src = gen.write_stream_files(
            self.corpus, os.path.join(data_dir, "stream_src"), self.STREAM_FILES
        )
        self._refs: dict[frozenset, tuple] = {}

    def stage(self, spark, work_dir: str) -> None:
        from mriya_spark import sinks
        from mriya_spark.progress import ProgressLog

        self.spark = spark
        self.work_dir = work_dir
        self.plog = ProgressLog.attach(spark)
        rows = spark.read.parquet(self.corpus.path).select("doc_id", "lang")
        ref = os.path.join(work_dir, "one_shot")
        sinks.append_training_shards(
            rows, ref, key_col="doc_id", num_shards=self.NUM_SHARDS, seed=42
        )
        self.stream_expected = {
            r["doc_id"]: (r["lang"], r["shard"], r["pos"])
            for r in sinks.read_training_shards(spark, ref, start=(0, 0)).collect()
        }

    def properties(self) -> dict:
        return {**self.corpus.properties(), "stream_batches": self.STREAM_FILES}

    def input_rows(self) -> int:
        return len(self.corpus.docs)

    def iterate(self, it: int, tracer) -> dict:
        t0 = time.perf_counter()
        out = self._train_export(it, tracer)
        out["export_s"] = time.perf_counter() - t0
        out["n_done"] = len(self.plog.terminated)
        out.update(self._stream_deliver(it, tracer))
        return out

    def _train_export(self, it: int, tracer) -> dict:
        from pyspark.sql import functions as F

        from mriya_spark import sinks
        from mriya_spark.curation import CurationSpec
        from mriya_spark.ops.text import (
            bpe_segment_vocab,
            bpe_symbols,
            bpe_token_ids,
            bpe_train,
            bpe_word_freq,
            pack_windows_bestfit,
            pack_windows_table,
        )

        spark = self.spark
        path = os.path.join(self.work_dir, f"shards_{it}")
        corpus = spark.read.parquet(self.corpus.path)
        with tracer.span("curation.build"):
            curated = (
                CurationSpec.from_obj(CURATION).build(corpus)
                .localCheckpoint(eager=True)
            )
        with tracer.span("text.word_freq"):
            wf = bpe_word_freq(curated).localCheckpoint(eager=True)
        with tracer.span("text.bpe_train"):
            merges = bpe_train(
                curated, n_merges=self.N_MERGES, max_batch=self.MAX_BATCH,
                word_freq=wf,
            )
        with tracer.span("text.encode"):
            vseg = bpe_segment_vocab(curated, merges, word_freq=wf).localCheckpoint(
                eager=True
            )
            symbols = bpe_symbols(curated, merges, vseg=vseg)
            ids = bpe_token_ids(
                curated, merges, symbols=symbols, vseg=vseg
            ).localCheckpoint(eager=True)
        with tracer.span("text.pack"):
            packed = pack_windows_bestfit(
                ids, context_tokens=self.CONTEXT, shards=self.PACK_SHARDS,
                count_col="n_bpe_tokens", carry_cols=("token_ids",),
            )
            table = pack_windows_table(packed)
        with tracer.span("sinks.write_shards"):
            keyed = table.select(
                F.col("shard").cast("long").alias("pack_shard"),
                "win", "n_docs", "fill", "pad", "token_ids",
            ).withColumn("wkey", F.col("pack_shard") * 100000 + F.col("win"))
            manifest = sinks.write_training_shards(
                keyed, path, key_col="wkey", num_shards=self.NUM_SHARDS, seed=42
            )
        with tracer.span("sinks.read_verify"):
            windows = (
                sinks.read_training_shards(spark, path)
                .select("pack_shard", "win", "n_docs", "fill", "token_ids")
                .collect()
            )
        return {"path": path, "merges": merges, "symbols": symbols,
                "windows": windows, "manifest": manifest, "curated": curated}

    def _stream_deliver(self, it: int, tracer) -> dict:
        from mriya_spark import sinks
        from mriya_spark import streaming as S

        spark = self.spark
        target = os.path.join(self.work_dir, f"delivered_{it}")
        stream = (
            spark.readStream.schema("doc_id long, lang string").format("parquet")
            .option("maxFilesPerTrigger", 1).load(self.stream_src)
        )
        with tracer.span("streaming.drain"):
            S.stream_shard_delivery(
                stream, target, num_shards=self.NUM_SHARDS, seed=42
            )
        with tracer.span("sinks.read_stream_verify"):
            back = (
                sinks.read_training_shards(spark, target, start=(0, 0))
                .select("doc_id", "lang", "shard", "pos")
                .collect()
            )
        return {"stream_path": target, "delivered": back}

    def finish(self, out: dict) -> None:
        out["kept"] = {r["doc_id"] for r in out["curated"].select("doc_id").collect()}
        # the listener bus delivers progress events asynchronously; the
        # drain's termination event comes after all its batches
        deadline = time.monotonic() + 30
        while len(self.plog.terminated) <= out["n_done"]:
            if time.monotonic() > deadline:
                raise RuntimeError("llm_export: no termination event from the drain")
            time.sleep(0.05)
        qid = self.plog.terminated[out["n_done"]]["id"]
        out["batches"] = self.plog.batches(qid)

    def _reference(self, kept: set[int]):
        """The pure-Python export of the kept docs, made once per kept set."""
        key = frozenset(kept)
        if key not in self._refs:
            docs = {d: refcheck.words(self.corpus.docs[d]) for d in kept}
            counts: dict[str, int] = {}
            for ws in docs.values():
                for w in ws:
                    counts[w] = counts.get(w, 0) + 1
            merges, seg = refcheck.bpe_train(counts, self.N_MERGES)
            self._refs[key] = (docs, counts, merges, seg)
        return self._refs[key]

    def check(self, out: dict) -> list[str]:
        return self._check_export(out) + self._check_stream(out)

    def _check_export(self, out: dict) -> list[str]:
        fails: list[str] = []
        docs, _counts, merges, seg = self._reference(out["kept"])
        if [tuple(m) for m in out["merges"]] != merges:
            fails.append("llm_export: merges differ from the pure-Python trainer")
            return fails
        symbols = sorted({s for ss in seg.values() for s in ss})
        if out["symbols"] != symbols:
            fails.append("llm_export: symbol vocabulary differs from the reference")
            return fails
        # ids are 1-based positions in the sorted symbol vocabulary
        sym_id = {s: i + 1 for i, s in enumerate(symbols)}
        doc_ids = {d: [sym_id[s] for w in ws for s in seg[w]] for d, ws in docs.items()}
        want = refcheck.ffd_windows(
            {d: len(ids) for d, ids in doc_ids.items()}, self.CONTEXT, self.PACK_SHARDS
        )
        got = {(r["pack_shard"], r["win"]): r for r in out["windows"]}
        if len(got) != len(out["windows"]) or set(got) != set(want):
            fails.append("llm_export: delivered windows differ from the FFD replay")
            return fails
        if sum(r["n_docs"] for r in out["windows"]) != len(docs):
            fails.append("llm_export: a curated doc is missing or delivered twice")
        for key, members in want.items():
            r = got[key]
            if (
                list(r["token_ids"]) != [i for d in members for i in doc_ids[d]]
                or r["n_docs"] != len(members)
                or r["fill"] != len(r["token_ids"])
                or r["fill"] > self.CONTEXT
            ):
                fails.append(f"llm_export: window {key} does not decode to its docs")
                break
        if out["manifest"]["total_rows"] != len(want):
            fails.append("llm_export: manifest row count differs from the windows")
        return fails

    def _check_stream(self, out: dict) -> list[str]:
        got: dict[int, tuple] = {}
        for r in out["delivered"]:
            if r["doc_id"] in got:
                return [f"llm_export: stream delivered doc {r['doc_id']} twice"]
            got[r["doc_id"]] = (r["lang"], r["shard"], r["pos"])
        if set(got) != set(self.corpus.docs):
            return ["llm_export: streamed keys differ from the staged keys"]
        if got != self.stream_expected:
            return [
                "llm_export: streamed shard/pos differ from a one-shot "
                "append_training_shards of the same rows"
            ]
        return []

    def layer_counts(self, out: dict) -> dict:
        kept = out["kept"]
        c = self.corpus
        planted = c.planted
        dropped = set(c.docs) - kept
        should_keep = set(c.docs) - planted - c.low_quality
        _docs, counts, _m, _s = self._reference(kept)
        fill = sum(r["fill"] for r in out["windows"])
        files = [
            os.path.join(dp, f)
            for dp, _dn, fs in os.walk(out["path"])
            for f in fs
            if f.endswith(".parquet")
        ]
        return {
            "curation.rows_in": len(c.docs),
            "curation.rows_out": len(kept),
            "curation.dup_recall": len(dropped & planted) / len(planted),
            "curation.false_drop_rate": len(should_keep - kept) / len(should_keep),
            "text.bpe_train.words": len(counts),
            "text.bpe_train.merges": len(out["merges"]),
            "text.pack.windows": len(out["windows"]),
            "text.pack.fill_ratio": fill / (len(out["windows"]) * self.CONTEXT),
            "sinks.write_shards.files": len(files),
            "sinks.write_shards.mb": sum(os.path.getsize(f) for f in files) / 1e6,
            "streaming.drain.batches": len(out["batches"]),
            "tokens": fill,
        }

    def cleanup(self, out: dict) -> None:
        shutil.rmtree(out["path"], ignore_errors=True)
        shutil.rmtree(out["stream_path"], ignore_errors=True)


WORKLOADS = {w.name: w for w in (Migrate, LlmExport)}
