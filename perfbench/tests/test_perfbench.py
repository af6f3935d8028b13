"""Unit tests for the benchmark's own pieces; no Spark needed.

Run from the repository root::

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import refcheck  # noqa: E402
import run  # noqa: E402
from tracing import Span, attribute, per_iteration, read_event_log  # noqa: E402

A = Span("text.bpe_train#1#0", "text.bpe_train", 1, 1000.0, 1010.0)
B = Span("sinks.write_shards#1#1", "sinks.write_shards", 1, 1010.0, 1020.0)


def test_attribution_over_event_log_fixture():
    events = read_event_log(os.path.join(HERE, "eventlog"))
    got = attribute(events, [A, B])
    assert got[A.key] == pytest.approx({
        "wall_s": 10.0, "jobs": 2, "tasks": 3, "task_s": 3.0,
        # jobs 0 and 1 overlap: their union is 1001..1006
        "driver_gap_s": 5.0, "shuffle_mb": 2.0, "spill_mb": 1.0,
    })
    # job 2 is found by the span property although a streaming query
    # replaced its group; job 3 by its group alone, clipped to the span
    assert got[B.key] == pytest.approx({
        "wall_s": 10.0, "jobs": 2, "tasks": 2, "task_s": 1.0,
        "driver_gap_s": 8.0, "shuffle_mb": 0.0, "spill_mb": 0.0,
    })


def test_per_iteration_sums_a_span_name_within_an_iteration():
    again = Span("text.bpe_train#1#2", "text.bpe_train", 1, 1020.0, 1021.0)
    events = read_event_log(os.path.join(HERE, "eventlog"))
    by_it = per_iteration([A, again], attribute(events, [A, again]))
    assert by_it[1]["text.bpe_train"]["jobs"] == 2
    assert by_it[1]["text.bpe_train"]["wall_s"] == pytest.approx(11.0)
    assert by_it[1]["text.bpe_train"]["driver_gap_s"] == pytest.approx(6.0)


def test_inputs_repeat_for_a_seed(tmp_path):
    for d in "abc":
        (tmp_path / d).mkdir()
    a = gen.make_corpus(7, str(tmp_path / "a"), n_docs=60, lexicon_size=500)
    b = gen.make_corpus(7, str(tmp_path / "b"), n_docs=60, lexicon_size=500)
    c = gen.make_corpus(8, str(tmp_path / "c"), n_docs=60, lexicon_size=500)
    assert a.docs == b.docs and a.planted == b.planted
    assert a.docs != c.docs
    with open(a.path, "rb") as fa, open(b.path, "rb") as fb:
        assert fa.read() == fb.read()


def test_planted_duplicates_point_at_fresh_earlier_docs(tmp_path):
    c = gen.make_corpus(3, str(tmp_path), n_docs=400, lexicon_size=2000)
    # every seed plants the same number of each kind
    assert (len(c.exact_copies), len(c.near_copies), len(c.low_quality)) == (
        round(gen.EXACT_SHARE * 400), round(gen.NEAR_SHARE * 400),
        round(gen.LOW_QUALITY_SHARE * 400),
    )
    fresh = set(c.docs) - c.planted - c.low_quality
    for copy, src in {**c.exact_copies, **c.near_copies}.items():
        assert src in fresh and src < copy
    for copy, src in c.exact_copies.items():
        assert c.docs[copy].split() == c.docs[src].split()
    for copy, src in c.near_copies.items():
        diff = [x != y for x, y in zip(c.docs[copy].split(), c.docs[src].split())]
        assert sum(diff) == 1


def test_stream_files_replay_the_corpus_in_id_order(tmp_path):
    c = gen.make_corpus(4, str(tmp_path), n_docs=50, lexicon_size=500)
    out = gen.write_stream_files(c, str(tmp_path / "stream"), 3)
    files = sorted(os.scandir(out), key=lambda e: e.stat().st_mtime)
    assert len(files) == 3
    rows = [r for f in files for r in pq.read_table(f.path).to_pylist()]
    assert [r["doc_id"] for r in rows] == sorted(c.docs)
    assert all(r["lang"] == c.langs[r["doc_id"]] for r in rows)


def test_accounts_fks_point_at_parents(tmp_path):
    acc = gen.make_accounts(5, str(tmp_path), n_parents=20, n_children=50)
    assert len(acc.parents) == 20 and len(acc.children) == 50
    assert not set(acc.parents) & set(acc.children)
    assert all(p in acc.parents for p, _amount in acc.children.values())


def test_reference_bpe_and_ffd():
    merges, seg = refcheck.bpe_train({"aab": 3, "ab": 2}, 2)
    # (a, b) occurs 5 times, (a, a) 3 times
    assert merges == [("a", "b", 5), ("a", "ab", 3)]
    assert seg == {"aab": ["aab"], "ab": ["ab"]}
    # shard 0 holds 10, 20; shard 1 holds 11, 21; context 5
    win = refcheck.ffd_windows({10: 3, 20: 3, 11: 4, 21: 1}, 5, 2)
    assert win == {(0, 1): [10], (0, 2): [20], (1, 1): [11, 21]}


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.layer_units()
    import workloads

    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
