"""Benchmark entry point: one workload, one seed, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload llm_export --seed 1 --seconds 5 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics from a run with spans and the Spark event log on.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: warm iterations a run makes at least, whatever ``--seconds`` says, so
#: every warm median is taken over at least this many samples
MIN_WARM = 2
#: a warm iteration after the first starts only if, at the pace of the
#: one before, it ends within this many seconds of process start, so a
#: run on a slowed host still ends inside the 180 s a run may take
RUN_DEADLINE_S = 150

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s.p50": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
SPAN_NAMES = (
    "connector.insert", "connector.read", "mapping.run", "mapping.backfill",
    "curation.build", "text.word_freq", "text.bpe_train", "text.encode",
    "text.pack", "sinks.write_shards", "sinks.read_verify", "streaming.drain",
    "sinks.read_stream_verify",
)
#: per-layer metrics that are not span values, with their units
LAYER_COUNT_UNITS = {
    "connector.insert_calls": "count",
    "connector.rows_per_insert": "rows",
    "connector.page_reads": "count",
    "curation.rows_in": "count",
    "curation.rows_out": "count",
    "curation.dup_recall": "ratio",
    "curation.false_drop_rate": "ratio",
    "text.bpe_train.words": "count",
    "text.bpe_train.merges": "count",
    "text.bpe_train.merges_per_job": "ratio",
    "text.pack.windows": "count",
    "text.pack.fill_ratio": "ratio",
    "sinks.write_shards.files": "count",
    "sinks.write_shards.mb": "MB",
    "streaming.drain.batches": "count",
    "streaming.drain.jobs_per_batch": "ratio",
    "streaming.batch_add_s.p50": "s",
    "streaming.batch_commit_s.p50": "s",
    "streaming.batch_plan_s.p50": "s",
    "bench.trace_overhead_s": "s",
    "bench.traced_warm_s.p50": "s",
    "tokens_per_s": "1/s",
    "batch_s.p50": "s",
}
#: counts that must repeat exactly for one seed (plus every span's jobs)
EXACT_COUNTS = (
    "connector.insert_calls", "text.bpe_train.merges", "text.pack.windows",
    "streaming.drain.batches",
)


def layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run prints, with its unit."""
    from tracing import SPAN_FIELDS

    units = {f"{n}.{f}": u for n in SPAN_NAMES for f, u in SPAN_FIELDS}
    units.update(LAYER_COUNT_UNITS)
    return units


def _process_start() -> float:
    """Epoch time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(ln.split()[1]) for ln in f if ln.startswith("VmHWM:"))
    return kb / 1024


def _jvm_pid(spark) -> int:
    name = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getRuntimeMXBean().getName()
    return int(name.split("@", 1)[0])


def _peak_rss_mb(spark) -> float:
    return _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(_jvm_pid(spark))


def _session(n_cpus: int, work_dir: str, trace: bool):
    from mriya_spark.cachedir import cache_root
    from mriya_spark.session import get_spark

    tmp = os.path.join(work_dir, "tmp")
    conf = {
        "spark.local.dir": tmp,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Dderby.system.home={os.path.join(cache_root(), 'derby')} "
            f"-Djava.io.tmpdir={tmp} "
            # no hsperfdata file under /tmp: the run writes only in its checkout
            "-XX:-UsePerfData"
        ),
    }
    if trace:
        log_dir = os.path.join(work_dir, "eventlog")
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{n_cpus}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and wait until the driver JVM has exited; it
    exits when its stdin pipe closes and takes its Python workers
    with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _settle(spark) -> None:
    """Untimed, before each iteration: collect garbage on both sides so
    one iteration's garbage is not charged to the next."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _layer_metrics(tracer, iters, counts_by_it, events) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run (medians over its warm
    iterations) and the exact counts of each warm iteration."""
    from tracing import SPAN_FIELDS, attribute, per_iteration

    spans = per_iteration(tracer.spans, attribute(events, tracer.spans))
    for i, by_name in sorted(spans.items()):
        for name, v in by_name.items():
            print(f"perfbench: iteration {i} {name} {v}", file=sys.stderr)
    warm = [it for it in iters if it["warm"] and it["ok"]]
    m = dict.fromkeys(layer_units(), 0.0)
    for name in SPAN_NAMES:
        for f, _unit in SPAN_FIELDS:
            m[f"{name}.{f}"] = _median(
                [spans.get(it["i"], {}).get(name, {}).get(f, 0) for it in warm]
            )
    first = counts_by_it[warm[0]["i"]] if warm else {}
    m.update({k: v for k, v in first.items() if k in m})
    if m["text.bpe_train.jobs"]:
        m["text.bpe_train.merges_per_job"] = m["text.bpe_train.merges"] / m["text.bpe_train.jobs"]
    # the first batch of a drain finds an empty target and skips the
    # replay guard; the batch medians are over the later, guarded ones
    steady = [b for it in warm for b in it["batches"][1:]]
    if steady:
        def dur(b, *ks):
            return sum(b["durationMs"].get(k, 0) for k in ks) / 1000

        m["streaming.drain.jobs_per_batch"] = (
            m["streaming.drain.jobs"] / m["streaming.drain.batches"]
        )
        m["streaming.batch_add_s.p50"] = _median([dur(b, "addBatch") for b in steady])
        m["streaming.batch_commit_s.p50"] = _median(
            [dur(b, "walCommit", "commitOffsets") for b in steady]
        )
        m["streaming.batch_plan_s.p50"] = _median([dur(b, "queryPlanning") for b in steady])
        m["batch_s.p50"] = _median([dur(b, "triggerExecution") for b in steady])
    m["bench.trace_overhead_s"] = _median(
        [tracer.overhead_s.get(it["i"], 0.0) for it in warm]
    )
    m["bench.traced_warm_s.p50"] = _median([it["wall"] for it in warm])
    export_p50 = _median([it["export_s"] for it in warm if "export_s" in it])
    if first.get("tokens") and export_p50:
        m["tokens_per_s"] = first["tokens"] / export_p50
    exact = {
        it["i"]: {
            **{f"{n}.jobs": spans.get(it["i"], {}).get(n, {}).get("jobs", 0) for n in SPAN_NAMES},
            **{k: counts_by_it[it["i"]][k] for k in EXACT_COUNTS if k in counts_by_it[it["i"]]},
        }
        for it in warm
    }
    return m, exact


def _source_digest() -> str:
    """Hash of the library's and the benchmark's Python sources, so
    exact counts are only compared between runs of the same code."""
    h = hashlib.sha256()
    for top in ("mriya_spark", os.path.basename(HERE)):
        for dp, dns, fs in os.walk(os.path.join(ROOT, top)):
            dns.sort()
            for f in sorted(fs):
                if f.endswith(".py"):
                    path = os.path.join(dp, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _report_exact(exact: dict, counts_file: str) -> None:
    """Counts that must repeat exactly: print any difference between this
    run's iterations, and against the first run of the same seed and the
    same source code in this checkout. Differences are reported, never
    averaged away."""
    if not exact:
        return
    its = sorted(exact)
    ref = exact[its[0]]
    for i in its[1:]:
        diff = {k: (ref[k], v) for k, v in exact[i].items() if ref[k] != v}
        if diff:
            print(f"perfbench: exact-count mismatch between iterations {its[0]} and {i}: {diff}")
    if os.path.exists(counts_file):
        with open(counts_file) as f:
            prev = json.load(f)
        diff = {k: (prev.get(k), v) for k, v in ref.items() if prev.get(k) != v}
        if diff:
            print(f"perfbench: exact-count mismatch against an earlier run of this seed: {diff}")
    else:
        os.makedirs(os.path.dirname(counts_file), exist_ok=True)
        tmp = f"{counts_file}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(ref, f, sort_keys=True)
        os.replace(tmp, counts_file)


def _run_iterations(wl, spark, tracer, seconds: float, trace: bool, t_proc: float):
    """The closed loop: one cold iteration, then warm iterations until
    ``seconds`` have passed since the first warm one started (at least
    ``MIN_WARM``, unless ``RUN_DEADLINE_S`` stops the run earlier). In a
    traced run every iteration is traced.

    Peak RSS is read after the last iteration every run makes, so it
    does not grow with the number of iterations that fit in
    ``seconds``."""
    iters, counts_by_it, rss = [], {}, 0.0
    i, warm_start = 0, 0.0
    while i <= MIN_WARM or time.perf_counter() - warm_start < seconds:
        if i == 1:
            warm_start = time.perf_counter()
        elif i > 1 and time.time() - t_proc + iters[-1].get("wall", 0.0) > RUN_DEADLINE_S:
            print(f"perfbench: run deadline reached after {i - 1} warm iterations",
                  file=sys.stderr)
            break
        _settle(spark)
        tracer.iteration = i
        tracer.enabled = trace
        rec = {"i": i, "warm": i > 0, "ok": False, "batches": []}
        try:
            t0 = time.perf_counter()
            out = wl.iterate(i, tracer)
            rec["wall"] = time.perf_counter() - t0
            wl.finish(out)
            rec["batches"] = out.get("batches", [])
            if "export_s" in out:
                rec["export_s"] = out["export_s"]
            fails = wl.check(out)
            for msg in fails:
                print(f"perfbench: check failed (iteration {i}): {msg}")
            rec["ok"] = not fails
            if tracer.enabled:
                counts_by_it[i] = wl.layer_counts(out)
            wl.cleanup(out)
        except Exception:
            traceback.print_exc()
        print(
            f"perfbench: iteration {i} ok={rec['ok']} "
            f"wall_s={rec.get('wall', float('nan')):.3f}",
            file=sys.stderr,
        )
        iters.append(rec)
        if i == MIN_WARM:
            rss = _peak_rss_mb(spark)
        i += 1
    return iters, counts_by_it, rss or _peak_rss_mb(spark)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_proc = _process_start()

    n_cpus = len(os.sched_getaffinity(0))
    bench_root = os.path.join(ROOT, ".bench_work")
    work_dir = os.path.join(bench_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    # before the library is imported: it reads these at import time
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n_cpus),
        "MRIYA_SPARK_CACHE_DIR": os.path.join(work_dir, "cache"),
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "tmp"),
        "TMPDIR": os.path.join(work_dir, "tmp"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
    })
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import mriya_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}", file=sys.stderr)
        return 2
    import workloads
    from tracing import Tracer, read_event_log

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(work_dir, "tmp"))
    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload]()
        t_imports = time.time()
        data_dir = os.path.join(work_dir, "data")
        os.makedirs(data_dir)
        t0 = time.perf_counter()
        wl.generate(args.seed, data_dir)
        t1 = time.perf_counter()
        spark = _session(n_cpus, work_dir, bool(args.trace))
        t2 = time.perf_counter()
        wl.stage(spark, work_dir)
        t3 = time.perf_counter()
        setup_s = (t_imports - t_proc) + t3 - t0
        print(
            f"perfbench: setup_s={setup_s:.3f} imports={t_imports - t_proc:.3f} "
            f"generate={t1 - t0:.3f} session={t2 - t1:.3f} stage={t3 - t2:.3f}",
            file=sys.stderr,
        )
        print(f"perfbench: inputs {json.dumps(wl.properties())}", file=sys.stderr)

        tracer = Tracer(spark.sparkContext)
        iters, counts_by_it, rss = _run_iterations(
            wl, spark, tracer, args.seconds, bool(args.trace), t_proc
        )
        session, spark = spark, None
        _stop(session)

        failed = sum(1 for it in iters if not it["ok"])
        if args.trace:
            metrics, exact = _layer_metrics(
                tracer, iters, counts_by_it,
                read_event_log(os.path.join(work_dir, "eventlog")),
            )
            _report_exact(exact, os.path.join(
                bench_root, "counts", _source_digest(),
                f"{args.workload}-{args.seed}.json"))
            units = layer_units()
        else:
            warm_p50 = _median(
                [it["wall"] for it in iters if it["warm"] and it["ok"]]
            )
            metrics = {
                "setup_s": setup_s,
                "cold_s": iters[0].get("wall", 0.0),
                "warm_s.p50": warm_p50,
                "rows_per_s": wl.input_rows() / warm_p50 if warm_p50 else 0.0,
                "peak_rss_mb": rss,
            }
            units = END_TO_END_UNITS
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(iters),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
