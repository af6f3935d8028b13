"""Spans around the benchmark's calls into each layer, attributed from
Spark's event log.

The benchmark never instruments the library. Around each call it makes
into a layer it opens a span: it records the wall interval and sets a
Spark job group plus a ``perfbench.span`` local property naming the
span. Every job the call issues carries those properties, including
the jobs of a streaming query started inside the span (its execution
thread inherits the caller's local properties; Structured Streaming
then overrides the job group with the query's run id, which is why
attribution keys on the span property and falls back to the group).
After the session stops, the event log is parsed once and each job,
stage and task is charged to its span.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Iterable, Iterator

SPAN_PROP = "perfbench.span"

#: the seven values every span records, with units and better direction
SPAN_FIELDS = (
    ("wall_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("task_s", "s"),
    ("driver_gap_s", "s"),
    ("shuffle_mb", "MB"),
    ("spill_mb", "MB"),
)


@dataclass(frozen=True)
class Span:
    key: str
    name: str
    iteration: int
    start: float  # epoch seconds, same clock as the event log's ms stamps
    end: float


class Tracer:
    """Records spans in memory while ``enabled``; a no-op otherwise, so
    traced and untraced runs make the same calls.

    ``overhead_s`` holds, per iteration, the time the spans' own
    bookkeeping took (setting and clearing the Spark properties), which
    lies outside every span's wall interval. That is the cost tracing
    adds to an iteration, measured directly instead of as the small
    difference of two noisy wall times."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.enabled = False
        self.iteration = -1
        self.spans: list[Span] = []
        self.overhead_s: dict[int, float] = {}

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        key = f"{name}#{self.iteration}#{len(self.spans)}"
        self.sc.setJobGroup(key, name)
        self.sc.setLocalProperty(SPAN_PROP, key)
        start = time.time()
        t1 = time.perf_counter()
        try:
            yield
        finally:
            end = time.time()
            t2 = time.perf_counter()
            for prop in ("spark.jobGroup.id", "spark.job.description", SPAN_PROP):
                self.sc.setLocalProperty(prop, None)
            self.spans.append(Span(key, name, self.iteration, start, end))
            self.overhead_s[self.iteration] = (
                self.overhead_s.get(self.iteration, 0.0)
                + (t1 - t0) + (time.perf_counter() - t2)
            )


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single) application log under ``log_dir``."""
    files = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    with open(os.path.join(log_dir, files[0])) as f:
        return [json.loads(line) for line in f if line.strip()]


def _span_of(props: dict | None) -> str | None:
    props = props or {}
    return props.get(SPAN_PROP) or props.get("spark.jobGroup.id")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def attribute(events: Iterable[dict], spans: list[Span]) -> dict[str, dict]:
    """Charge jobs, stages and tasks to spans; returns the seven span
    values per span key.

    A job belongs to the span named by its ``perfbench.span`` property
    (else its job group). A task belongs to the span of the stage
    attempt that ran it, taken from the stage-submitted properties, so
    a stage shared by two jobs is never counted twice. ``driver_gap_s``
    is the span's wall time minus the union of its jobs' intervals
    (clipped to the span): time the driver spent with no job running.
    """
    by_key = {s.key: s for s in spans}
    jobs: dict[int, dict] = {}
    stage_span: dict[tuple[int, int], str] = {}
    out = {
        s.key: {"wall_s": s.end - s.start, "jobs": 0, "tasks": 0, "task_s": 0.0,
                "shuffle_mb": 0.0, "spill_mb": 0.0, "_iv": []}
        for s in spans
    }
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            key = _span_of(ev.get("Properties"))
            jobs[ev["Job ID"]] = {"span": key, "start": ev["Submission Time"] / 1000}
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None and job["span"] in out:
                span = by_key[job["span"]]
                lo = max(job["start"], span.start)
                hi = min(ev["Completion Time"] / 1000, span.end)
                out[job["span"]]["jobs"] += 1
                if hi > lo:
                    out[job["span"]]["_iv"].append((lo, hi))
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = _span_of(ev.get("Properties"))
            if key in out:
                stage_span[(info["Stage ID"], info["Stage Attempt ID"])] = key
        elif kind == "SparkListenerTaskEnd":
            key = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if key is None:
                continue
            m = ev.get("Task Metrics") or {}
            rec = out[key]
            rec["tasks"] += 1
            rec["task_s"] += m.get("Executor Run Time", 0) / 1000
            rec["shuffle_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                / 1e6
            )
            rec["spill_mb"] += m.get("Disk Bytes Spilled", 0) / 1e6
    for rec in out.values():
        rec["driver_gap_s"] = max(0.0, rec["wall_s"] - _union_length(rec.pop("_iv")))
    return out


def per_iteration(spans: list[Span], attributed: dict[str, dict]) -> dict[int, dict]:
    """Sum a span's occurrences within one iteration:
    ``{iteration: {span name: {field: value}}}``."""
    out: dict[int, dict] = {}
    for s in spans:
        agg = out.setdefault(s.iteration, {}).setdefault(
            s.name, {f: 0 for f, _ in SPAN_FIELDS}
        )
        for f, _ in SPAN_FIELDS:
            agg[f] += attributed[s.key][f]
    return out
