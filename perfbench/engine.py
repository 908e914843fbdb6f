"""The benchmark's side of the engine boundary.

Everything here calls the engine only through its public functions:
``session.get_spark``, ``registry.QUERIES``, ``sources.catalog``,
``sources.sinks`` and ``operators.wordcount``. Per-layer timing wraps
those calls from outside; nothing inside the package is instrumented.

A *pass* runs a workload's queries once, in order, one at a time
(a closed loop with one client), and on sink workloads then writes the
``wordcount`` result through the text and parquet sinks. Each query is
built, planned and executed into Spark's ``noop`` sink, so execution is
complete but no rows are collected. For the oracle check a pass can
keep its DataFrames; ``Runner.collect`` then re-executes them into
Python after the pass, outside its timed window.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def configure_env(work_dir: str, event_log_dir: str | None = None) -> None:
    """Environment for this process, its Spark JVM and Python workers:
    the package importable by workers, every scratch file inside
    ``work_dir``, no console progress bar, and optionally Spark's
    uncompressed event log."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            "PYTHONPATH": ROOT + (os.pathsep + pythonpath if pythonpath else ""),
            "SPARK_GRAFT_CONF_JSON": json.dumps(conf),
            "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
        }
    )


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            pass
    return out


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    tree, todo = [], [pid]
    while todo:
        p = todo.pop()
        if os.path.exists(f"/proc/{p}"):
            tree.append(p)
            try:
                todo.extend(_children(p))
            except OSError:
                pass
    return tree


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by this process and by
    ``pid``, its live descendants and the descendants they have reaped.
    Time the host takes from this machine's CPUs is not in it."""
    own = os.times()
    ticks = 0
    for p in process_tree(pid):
        try:
            with open(f"/proc/{p}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return own.user + own.system + ticks / os.sysconf("SC_CLK_TCK")


def live_heap_mb(spark) -> float:
    """Spark JVM heap in use right after a full garbage collection:
    the memory the session retains (cached plans, pins, listener
    state), independent of when the collector last ran."""
    jvm = spark._jvm
    jvm.System.gc()
    heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return heap.getUsed() / (1024 * 1024)


def jvm_pid(spark) -> int:
    return int(spark._jvm.ProcessHandle.current().pid())


def stop_session(spark, timeout: float = 30.0) -> None:
    """Stop Spark, close the JVM gateway and wait until the JVM and its
    Python workers have exited (killing stragglers after ``timeout``)."""
    from pyspark import SparkContext

    pids = process_tree(jvm_pid(spark))
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout
    while any(os.path.exists(f"/proc/{p}") for p in pids):
        if time.monotonic() > deadline:
            for p in pids:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.05)


def describe(exc: Exception) -> str:
    return f"{type(exc).__name__}: {str(exc).splitlines()[0][:200] if str(exc) else ''}"


@dataclass
class PassResult:
    seconds: float = 0.0
    cpu_s: float = 0.0
    query_s: dict[str, float] = field(default_factory=dict)
    # passes run with ``keep`` only: query -> its DataFrame
    frames: dict = field(default_factory=dict)
    errors: dict[str, str] = field(default_factory=dict)
    sink_s: float | None = None
    # traced passes only, summed over queries: wall seconds of the
    # build/plan/exec phases and Catalyst's own phase timings
    phase_s: dict[str, float] = field(default_factory=dict)
    catalyst: dict[str, float] = field(default_factory=dict)

    @property
    def attempted(self) -> int:
        return len(self.query_s) + (self.sink_s is not None)


class Runner:
    """Runs passes of one workload against one input directory.

    With ``sinks`` a pass ends by writing the ``wordcount`` result
    through ``sources.sinks`` (text and parquet)."""

    def __init__(self, spark, queries: list[str], data_dir: str, out_dir: str,
                 sinks: bool):
        from mapreduce_implementation_grpc_spark import registry

        self.spark = spark
        self.queries = queries
        self.data_dir = data_dir
        self.out_dir = out_dir
        self.sinks = sinks
        self._build = registry.QUERIES
        self._jvm = jvm_pid(spark)

    def _group(self, name: str | None) -> None:
        self.spark.sparkContext.setJobGroup(name or "bench|idle", name or "idle")

    def write_sinks(self, counts, tag: str | None = None) -> float:
        """Write ``counts`` through the text and parquet sinks; returns
        seconds."""
        from mapreduce_implementation_grpc_spark.sources import sinks

        if tag:
            self._group(f"{tag}|sinks")
        t = time.perf_counter()
        sinks.write_word_counts_text(counts, os.path.join(self.out_dir, "text"))
        sinks.write_parquet(counts, os.path.join(self.out_dir, "parquet"))
        seconds = time.perf_counter() - t
        if tag:
            self._group(None)
        return seconds

    def run_pass(self, tag: str | None = None, keep: bool = False) -> PassResult:
        """One pass; each query executes into the noop sink. With ``keep``
        the pass keeps every query's DataFrame in ``frames``. With ``tag``
        the pass is traced: every query's build, plan and execute phase
        runs under its own job group ``<tag>|<query>|<phase>`` and
        Catalyst's phase timings are read from the query's
        ``QueryPlanningTracker``."""
        r = PassResult(phase_s=dict.fromkeys(("build", "plan", "exec"), 0.0),
                       catalyst=dict.fromkeys(("analysis", "optimization", "planning"), 0.0))
        counts = None
        start, cpu = time.perf_counter(), cpu_s(self._jvm)
        for q in self.queries:
            t = time.perf_counter()
            try:
                if tag:
                    self._group(f"{tag}|{q}|build")
                df = self._build[q](self.spark, self.data_dir)
                if tag:
                    t_built = time.perf_counter()
                    self._group(f"{tag}|{q}|plan")
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = qe.tracker().phases()
                    for phase in r.catalyst:
                        summary = phases.get(phase)
                        if summary.isDefined():
                            r.catalyst[phase] += summary.get().durationMs() / 1000
                    t_planned = time.perf_counter()
                    self._group(f"{tag}|{q}|exec")
                df.write.format("noop").mode("overwrite").save()
                if tag:
                    r.phase_s["build"] += t_built - t
                    r.phase_s["plan"] += t_planned - t_built
                    r.phase_s["exec"] += time.perf_counter() - t_planned
                if keep:
                    r.frames[q] = df
                if q == "wordcount":
                    counts = df
            except Exception as exc:  # a failing query is counted, not fatal
                r.errors[q] = describe(exc)
            r.query_s[q] = time.perf_counter() - t
        if tag:
            self._group(None)
        if self.sinks:
            r.sink_s = 0.0
            try:
                r.sink_s = self.write_sinks(counts, tag)
            except Exception as exc:
                r.errors["sinks"] = describe(exc)
        r.seconds = time.perf_counter() - start
        r.cpu_s = cpu_s(self._jvm) - cpu
        return r

    @staticmethod
    def collect(frames: dict) -> tuple[dict, dict[str, str]]:
        """Re-execute kept DataFrames into Python as pandas: (query ->
        result, query -> error)."""
        results, errors = {}, {}
        for q, df in frames.items():
            try:
                results[q] = df.toPandas()
            except Exception as exc:
                errors[q] = describe(exc)
        return results, errors

    def probe_sinks(self, tag: str) -> float:
        """Sink step outside a pass, for workloads whose passes have none."""
        return self.write_sinks(self._build["wordcount"](self.spark, self.data_dir), tag)

    def probe_catalog(self, tag: str, tables: list[str]) -> list[float]:
        """Time each ``sources.catalog.load_table`` call, one job group
        per call: ``<tag>|catalog|<table>``."""
        from mapreduce_implementation_grpc_spark.sources.catalog import load_table

        out = []
        for name in tables:
            self._group(f"{tag}|catalog|{name}")
            t = time.perf_counter()
            load_table(self.spark, self.data_dir, name)
            out.append(time.perf_counter() - t)
        self._group(None)
        return out

    def probe_wordcount(self, tag: str) -> dict[str, float]:
        """Time ``operators.wordcount.word_count`` and ``word_count_rdd``
        on the documents corpus, each executed into the noop sink."""
        from mapreduce_implementation_grpc_spark.operators import wordcount
        from mapreduce_implementation_grpc_spark.sources.text import corpus_from_documents

        out = {}
        for name, fn in (("word_count", wordcount.word_count),
                         ("word_count_rdd", wordcount.word_count_rdd)):
            self._group(f"{tag}|wordcount|{name}")
            t = time.perf_counter()
            fn(corpus_from_documents(self.spark, self.data_dir)).write.format(
                "noop").mode("overwrite").save()
            out[name] = time.perf_counter() - t
        self._group(None)
        return out

    def sink_output(self) -> tuple[int, int, list[int | None]]:
        """(bytes, data files) written by the last sink step, and the
        sums of ``cnt`` read back from its text and parquet outputs."""
        from pyspark.sql import functions as F

        size = files = 0
        for sub in ("text", "parquet"):
            for dirpath, _, names in os.walk(os.path.join(self.out_dir, sub)):
                for n in names:
                    if n.startswith("part-"):
                        size += os.path.getsize(os.path.join(dirpath, n))
                        files += 1
        text = self.spark.read.text(os.path.join(self.out_dir, "text"))
        text_sum = text.select(
            F.sum(F.split("value", " ").getItem(1).cast("long"))).collect()[0][0]
        parquet = self.spark.read.parquet(os.path.join(self.out_dir, "parquet"))
        parquet_sum = parquet.select(F.sum("cnt")).collect()[0][0]
        return size, files, [text_sum, parquet_sum]
