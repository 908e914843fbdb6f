"""Benchmark for the PySpark MapReduce engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One run:

1. starts a fresh Spark session (package import + ``session.get_spark``) and
   times it: that is one ``setup_s`` sample;
2. generates the workload's inputs from ``--seed`` under
   ``.bench_data/`` (see gen.py);
3. runs one cold pass, then a fixed number of warm passes:
   ``--seconds`` divided by the workload's measured warm pass length on
   a 4-core host (at least two), so every run of a workload does the
   same work. A pass is a closed loop with one client: the workload's
   queries run one after another on ``local[nproc]``, each executed
   into Spark's ``noop`` sink. Between the cold and the first warm pass,
   outside both timed windows, the cold pass's DataFrames are executed
   once more and collected into Python;
4. checks those results against their DuckDB oracles
   (``registry.ORACLES``) and reads the sink output back to check that
   ``sum(cnt)`` is the token count.

The bounded end-to-end metrics are CPU seconds (user + system) of this
process, the Spark JVM and its Python workers: ``setup_s`` for the
set-up, ``cold_pass_cpu_s`` and ``pass_cpu_s`` (median warm pass), plus
``heap_live_mb``. On a shared VM the host takes a varying 10-30% of the
CPUs' time, which CPU seconds leave out: over ten seeds their
IQR/median stays near 0.1 where the wall times spread about 0.3. The
wall times a user waits (``setup_wall_s``, ``cold_pass_s``, ``pass_s``,
``query_s_p50``, ``query_s_tail``) are printed by name. A run takes one
set-up sample, as a second one is a second JVM start (~9 s on a 4-core
host); compare medians over runs.

With ``--trace 1`` the session also writes Spark's event log, and warm
passes alternate between untraced passes and traced ones (every query's
build, plan and execute phase under its own job group). The per-layer
metrics come from the traced passes and the event log;
``trace.overhead_ratio`` is the median traced pass over the median
untraced pass of the same session.

Every metric is printed by name with its unit; the last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--size tiny`` shrinks the inputs for the
smoke test (smoke.py).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(1, os.path.dirname(HERE))

# only the standard library is loaded before the set-up is timed
import engine  # noqa: E402
import eventlog  # noqa: E402

@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: tuple[str, ...]
    sinks: bool  # passes end with the sink step
    star_sf: float  # 0: no star-schema tables
    docs: int
    doc_files: int
    # warm pass on a 4-core host (Linux VM, 15 GB RAM), 4.5-8 s with the
    # host's load; sets how many passes fill --seconds
    pass_s: float


WORKLOADS = {
    # the reference job where execution dominates: a seeded corpus,
    # skewed like the reference's, in 8 files so the scan uses every core
    "wordcount_corpus": Workload(
        queries=("wordcount", "wordcount_topn", "wordcount_rdd", "dedup_exact"),
        tables=("documents",), sinks=True,
        star_sf=0.0, docs=6_000, doc_files=8, pass_s=5.0,
    ),
    # bound by per-query overhead: many small queries over the star schema,
    # where load_table, build-time jobs and Catalyst are a large share.
    # supplier_reach runs its iterations as ``materialize`` pins while the
    # query is built (22 jobs). The documents table is only read by the
    # traced run's wordcount and sink probes.
    "olap_mix": Workload(
        queries=("pricing_summary", "top_customers", "supplier_reach", "events_rollup",
                 "events_sessionize"),
        tables=("region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events"), sinks=False,
        star_sf=0.01, docs=500, doc_files=1, pass_s=5.0,
    ),
}

E2E_UNITS = {
    "setup_s": "s",
    "cold_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "heap_live_mb": "MB",
}
LAYER_UNITS = {
    "session.get_spark_s": "s",
    "catalog.load_table_s": "s",
    "catalog.load_table_jobs": "count",
    "registry.build_s": "s",
    "registry.build_jobs": "count",
    "registry.build_task_s": "s",
    "registry.build_shuffle_write_mb": "MB",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.slowest_stage_s": "s",
    "wordcount.word_count_s": "s",
    "wordcount.word_count_rdd_s": "s",
    "sinks.write_s": "s",
    "sinks.bytes_written_mb": "MB",
    "sinks.files_written": "count",
    "sinks.bytes_per_input_byte": "ratio",
    "trace.overhead_ratio": "ratio",
}
MIN_WARM_ROUNDS = 2
TINY = 0.1  # input scale of --size tiny


def warm_rounds(wl: Workload, seconds: float, traced: bool) -> int:
    """Warm rounds that fill ``seconds`` on a 4-core host; a traced round
    is one untraced plus one traced pass."""
    return max(MIN_WARM_ROUNDS, round(seconds / (wl.pass_s * (1 + traced))))


def tail(samples: list[float]) -> tuple[int, float]:
    """(p, p-th percentile) for the highest whole percentile p that has
    at least ten samples beyond it, but never below the median."""
    p = max(50, math.floor(100 * (1 - 10 / len(samples))))
    return p, statistics.quantiles(samples, n=100, method="inclusive")[p - 1]


class Timeline:
    """Wall time of each step of a run, for the run's own log."""

    def __init__(self, t0: float):
        self._last = t0
        self._steps: list[tuple[str, float]] = []

    def __call__(self, step: str) -> None:
        now = time.perf_counter()
        self._steps.append((step, now - self._last))
        self._last = now

    def summary(self) -> str:
        return " ".join(f"{k}={v:.1f}" for k, v in self._steps)


def log(msg: str) -> None:
    print(msg, flush=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()
    wl = WORKLOADS[args.workload]

    work = os.path.join(engine.ROOT, ".bench_data", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    engine.configure_env(work, event_dir)
    try:
        return run(args, wl, work, event_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # other runs' directories, or already gone
            pass


def run(args, wl: Workload, work: str, event_dir: str | None) -> int:
    # 1. set-up: package import + session.get_spark in this fresh process
    t0 = time.perf_counter()
    from mapreduce_implementation_grpc_spark import registry
    from mapreduce_implementation_grpc_spark.session import get_spark

    t1 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    t2 = time.perf_counter()
    setup_cpu = engine.cpu_s(engine.jvm_pid(spark))
    spark.sparkContext.setLogLevel("ERROR")

    mark = Timeline(t0)
    mark("setup")
    import gen
    import oracle

    # 2. inputs
    data = os.path.join(work, "inputs")
    scale = TINY if args.size == "tiny" else 1.0
    record = gen.generate(data, args.seed, wl.star_sf * scale, int(wl.docs * scale),
                          wl.doc_files)
    for name, rec in record.items():
        log(f"input {name}: " + " ".join(f"{k}={v}" for k, v in rec.items()))
    docs = record["documents"]

    mark("inputs")
    runner = engine.Runner(spark, list(wl.queries), data, os.path.join(work, "out"),
                           wl.sinks)
    errors: dict[str, str] = {}
    attempted = failed = 0

    def account(r: engine.PassResult) -> engine.PassResult:
        nonlocal attempted, failed
        attempted += r.attempted
        failed += len(r.errors)
        for q, e in r.errors.items():
            errors.setdefault(q, e)
        return r

    # 3. cold pass; its results are collected for the oracle check
    # outside its timed window; then warm rounds
    cold = account(runner.run_pass(keep=True))
    mark("cold pass")
    results, collect_errors = runner.collect(cold.frames)
    cold.frames.clear()
    for q, e in collect_errors.items():
        errors[f"collect:{q}"] = e
        failed += 1
    mark("collect")
    plain: list[engine.PassResult] = []
    traced: list[engine.PassResult] = []
    catalog_s: list[float] = []
    wc_probe: list[dict[str, float]] = []
    sink_s: list[float] = []
    for i in range(warm_rounds(wl, args.seconds, args.trace)):
        if args.trace:
            # one untraced and one traced pass per round, alternating
            # which goes first
            tag = f"p{i}"
            first_traced = i % 2 == 1
            if first_traced:
                traced.append(account(runner.run_pass(tag)))
            plain.append(account(runner.run_pass()))
            if not first_traced:
                traced.append(account(runner.run_pass(tag)))
            catalog_s += runner.probe_catalog(tag, list(wl.tables))
            wc_probe.append(runner.probe_wordcount(tag))
            sink_s.append(traced[-1].sink_s if wl.sinks else runner.probe_sinks(tag))
        else:
            plain.append(account(runner.run_pass()))
    mark("warm passes")
    # peak RSS varies with G1's heap sizing run to run (IQR/median up to
    # ~0.3 over ten seeds), so it is printed; the bounded memory metric
    # is the heap still live after a full GC
    pids = engine.process_tree(engine.jvm_pid(spark))
    jvm_rss = engine.peak_rss_mb(pids[:1])
    log(f"peak_rss_mb: {engine.peak_rss_mb(pids):.1f} MB "
        f"(Spark JVM {jvm_rss:.1f} + {len(pids) - 1} Python workers)")
    heap_live = engine.live_heap_mb(spark)

    # 4. correctness, outside the timed window
    oracle_tmp = os.path.join(work, "duckdb")
    os.makedirs(oracle_tmp, exist_ok=True)
    check = oracle.Oracle(data, oracle_tmp)
    try:
        for q, got in results.items():
            try:
                bad = oracle.mismatch(got, check.expected(registry.ORACLES[q]))
            except Exception as exc:  # counted as a failure, not fatal
                bad = engine.describe(exc)
            if bad:
                errors[f"oracle:{q}"] = bad
                failed += 1
    finally:
        check.close()
    if wl.sinks or args.trace:
        sink_bytes, sink_files, sink_sums = runner.sink_output()
        if sink_sums != [docs["tokens"]] * 2:
            errors["sinks:readback"] = (
                f"sum(cnt) of text, parquet = {sink_sums} != tokens {docs['tokens']}")
            failed += 1

    mark("check")
    engine.stop_session(spark)
    mark("stop")

    query_samples = [s for r in plain for s in r.query_s.values()]
    p, tail_s = tail(query_samples)
    log(f"passes: cold=1 warm={len(plain)} traced={len(traced)}")
    log(f"setup_wall_s: {t2 - t0:.6g} s")
    log(f"cold_pass_s: {cold.seconds:.6g} s")
    log(f"pass_s: {statistics.median(r.seconds for r in plain):.6g} s")
    log(f"query_s_p50: {statistics.median(query_samples):.6g} s")
    log(f"query_s_tail: {tail_s:.6g} s (p{p} of {len(query_samples)} warm query samples)")
    log("cold query s: " + " ".join(f"{q}={s:.3f}" for q, s in cold.query_s.items()))
    log("warm pass s: " + " ".join(f"{r.seconds:.3f}" for r in plain))
    log("warm pass cpu s: " + " ".join(f"{r.cpu_s:.3f}" for r in plain))
    log("query s (median of warm): " + " ".join(
        f"{q}={statistics.median(r.query_s[q] for r in plain):.3f}" for q in wl.queries))
    for k, e in errors.items():
        log(f"FAILED {k}: {e}")
    log(f"fail_ratio: {failed / attempted:.6f} ({failed}/{attempted})")
    if wl.sinks:
        # throughput of the reference job; printed only, as a bounded
        # metric must exist on every workload
        wc_median = statistics.median(r.query_s["wordcount"] for r in plain)
        log(f"tokens_per_s: {docs['tokens'] / wc_median:.6g} 1/s "
            f"({docs['tokens']} tokens / median warm wordcount query)")
    if traced:
        log_shares(traced)

    if args.trace == 0:
        metrics = {
            "setup_s": setup_cpu,
            "cold_pass_cpu_s": cold.cpu_s,
            "pass_cpu_s": statistics.median(r.cpu_s for r in plain),
            "heap_live_mb": heap_live,
        }
        units = E2E_UNITS
    else:
        metrics = layer_metrics(traced, plain, catalog_s, wc_probe, sink_s, event_dir,
                                t2 - t1, sink_bytes, sink_files, docs["text_bytes"])
        units = LAYER_UNITS
        mark("event log")
    log("timeline s: " + mark.summary())
    for k, v in metrics.items():
        log(f"{k}: {v:.6g} {units[k]}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def log_shares(traced: list[engine.PassResult]) -> None:
    """Where the traced passes spend their wall time: the share of each
    phase (build, plan, execute, sinks) in the median traced pass."""
    med = statistics.median
    pass_s = med(r.seconds for r in traced)
    phases = {k: med(r.phase_s[k] for r in traced) for k in ("build", "plan", "exec")}
    if traced[0].sink_s is not None:
        phases["sinks"] = med(r.sink_s for r in traced)
    log(f"traced pass {pass_s:.3f} s, phase shares: " + " ".join(
        f"{k}={v / pass_s:.1%}" for k, v in phases.items()))


def layer_metrics(traced, plain, catalog_s, wc_probe, sink_s, event_dir, get_spark_s,
                  sink_bytes, sink_files, text_bytes) -> dict[str, float]:
    logs = [os.path.join(event_dir, f) for f in os.listdir(event_dir)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {event_dir}, found {len(logs)}")
    groups = eventlog.read_event_log(logs[0])
    med = statistics.median

    def per_pass(fn):
        return med(fn(f"p{i}|") for i in range(len(traced)))

    def build(prefix):
        return eventlog.sum_groups(groups, prefix, "|build")

    def exec_(prefix):
        return eventlog.sum_groups(groups, prefix, "|exec")

    catalog_jobs = sum(t.jobs for g, t in groups.items() if "|catalog|" in g)
    return {
        "session.get_spark_s": get_spark_s,
        "catalog.load_table_s": med(catalog_s),
        "catalog.load_table_jobs": catalog_jobs / len(catalog_s),
        "registry.build_s": med(r.phase_s["build"] for r in traced),
        "registry.build_jobs": per_pass(lambda p: build(p).jobs),
        "registry.build_task_s": per_pass(lambda p: build(p).task_s),
        "registry.build_shuffle_write_mb": per_pass(lambda p: build(p).shuffle_write_mb),
        "catalyst.analysis_s": med(r.catalyst["analysis"] for r in traced),
        "catalyst.optimization_s": med(r.catalyst["optimization"] for r in traced),
        "catalyst.planning_s": med(r.catalyst["planning"] for r in traced),
        "exec.task_s": per_pass(lambda p: exec_(p).task_s),
        "exec.cpu_s": per_pass(lambda p: exec_(p).cpu_s),
        "exec.gc_s": per_pass(lambda p: exec_(p).gc_s),
        "exec.shuffle_read_mb": per_pass(lambda p: exec_(p).shuffle_read_mb),
        "exec.shuffle_write_mb": per_pass(lambda p: exec_(p).shuffle_write_mb),
        "exec.spill_mb": per_pass(lambda p: exec_(p).spill_mb),
        "exec.stages": per_pass(lambda p: exec_(p).stages),
        "exec.tasks": per_pass(lambda p: exec_(p).tasks),
        "exec.slowest_stage_s": per_pass(lambda p: exec_(p).slowest_stage_s),
        "wordcount.word_count_s": med(w["word_count"] for w in wc_probe),
        "wordcount.word_count_rdd_s": med(w["word_count_rdd"] for w in wc_probe),
        "sinks.write_s": med(sink_s),
        "sinks.bytes_written_mb": sink_bytes / eventlog.MB,
        "sinks.files_written": float(sink_files),
        "sinks.bytes_per_input_byte": sink_bytes / text_bytes,
        "trace.overhead_ratio": med(r.seconds for r in traced) / med(r.seconds for r in plain),
    }


if __name__ == "__main__":
    sys.exit(main())
