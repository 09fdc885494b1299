"""Shared plumbing for the perfbench workloads: run-private directories, the
Spark session lifecycle, statistics, host diagnostics and the tracing
helpers (spans, py4j call counting, Spark job accounting, the streaming
progress listener).

Everything here lives outside ``dagger_spark``: the benchmark only calls the
program's public functions and times those calls.
"""

from __future__ import annotations

import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

# Spark driver heap for every run.  The inputs are small (sf0.01 tables,
# <100k events per drain), so a fixed modest heap keeps memory use and GC
# behaviour identical from run to run.
DRIVER_MEMORY = "2g"


# ---------------------------------------------------------------------------
# run-private filesystem
# ---------------------------------------------------------------------------


class RunDir:
    """A directory under the checkout that holds everything one run writes:
    fixtures, checkpoints, sinks, Spark's scratch space and temp files.
    Removed on close, so no run sees what an earlier one left behind."""

    def __init__(self, workload: str, seed: int):
        self.path = os.path.join(
            ROOT, ".bench_run", f"{workload}-s{seed}-{os.getpid()}"
        )
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        self._n = 0

    def fresh(self, name: str) -> str:
        """A new, empty subdirectory with a unique name."""
        self._n += 1
        p = os.path.join(self.path, f"{name}-{self._n}")
        os.makedirs(p)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def confine_scratch(run: RunDir) -> dict:
    """Point every temp/scratch location of Python, the JVM and Spark at the
    run directory.  Must run before the first session starts: the JVM and
    its Python workers inherit this environment."""
    tmp = os.path.join(run.path, "tmp")
    local = os.path.join(run.path, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run.path, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run.path}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


# ---------------------------------------------------------------------------
# Spark session lifecycle
# ---------------------------------------------------------------------------


def start_session(conf: dict):
    """A fresh SparkContext + session through ``dagger_spark.session.get_spark``.
    The first call launches the JVM; later calls (after ``spark.stop()``)
    reuse it, so JIT-compiled code survives across set-up repetitions."""
    from dagger_spark.session import get_spark

    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the JVM that PySpark launched and wait until it has exited.  The
    gateway process exits when its stdin closes."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except (Py4JError, OSError):  # connection already gone: the wait below decides
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Peak resident memory of the Python driver plus the largest exited
    child (the JVM, waited for by ``shutdown_jvm``), in MiB."""
    own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    kids = resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
    return (own + kids) / 1024.0


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    s = sorted(values)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(q / 100.0 * len(s)))
    return float(s[k - 1])


def beyond(values, q: float) -> int:
    """How many samples lie strictly above the q-th percentile."""
    p = percentile(values, q)
    return sum(1 for v in values if v > p)


def median(values) -> float:
    return float(statistics.median(values))


# ---------------------------------------------------------------------------
# host diagnostics
# ---------------------------------------------------------------------------


def calibration_ms() -> float:
    """Time of a fixed pure-Python loop: a contended run shows up as a
    slower calibration, independent of the program under test."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_500_000):
        acc += i * i % 7
    return (time.perf_counter() - t) * 1000.0


def host_snapshot() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "calibration_ms": round(calibration_ms(), 3),
    }


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------


class Tracer:
    """Spans kept in memory (name, start, end, parent, request id) and
    written out once at exit.  Disabled tracers record nothing, so untraced
    runs pay only a no-op call."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []

    def span(self, name: str, request=None):
        return _Span(self, name, request)

    def self_times(self) -> dict:
        """Per span name: total duration minus the time covered by its
        direct children, in seconds."""
        child_time: dict = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + (
                    s["end"] - s["start"]
                )
        out: dict = {}
        for i, s in enumerate(self.spans):
            own = (s["end"] - s["start"]) - child_time.get(i, 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_time_s": self.self_times(), **extra}, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str, request):
        self.t = tracer
        self.name = name
        self.request = request

    def __enter__(self):
        if self.t.enabled:
            self.idx = len(self.t.spans)
            parent = self.t._stack[-1] if self.t._stack else None
            self.t.spans.append(
                {"name": self.name, "start": time.time(), "end": None,
                 "parent": parent, "request": self.request}
            )
            self.t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        if self.t.enabled:
            self.t.spans[self.idx]["end"] = time.time()
            self.t._stack.pop()
        return False


class Py4jCounter:
    """Counts driver->JVM round trips by wrapping the gateway client's
    ``send_command`` (instance attribute, so only this process's client is
    affected).  Memory commands are not counted: py4j sends them when Python
    garbage-collects a JVM reference, so their number depends on GC timing.
    ``uninstall`` restores the original method."""

    def __init__(self, spark):
        from py4j.protocol import MEMORY_COMMAND_NAME

        self.client = spark.sparkContext._gateway._gateway_client
        self.n = 0
        self._orig = self.client.send_command
        lock = threading.Lock()

        def counted(command, *a, **kw):
            if not command.startswith(MEMORY_COMMAND_NAME):
                with lock:
                    self.n += 1
            return self._orig(command, *a, **kw)

        self.client.send_command = counted

    def uninstall(self) -> None:
        self.client.send_command = self._orig


def group_jobs(spark, group: str) -> dict:
    """Jobs, stages and tasks Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            si = st.getStageInfo(sid)
            if si is not None:
                tasks += si.numTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks}


def make_progress_listener(records: list):
    """A StreamingQueryListener that appends every progress record (as a
    dict) to ``records``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Collect(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            records.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Collect()


def progress_metrics(records: list, events: int) -> dict:
    """Per-layer streaming numbers from progress records (Structured
    Streaming's per-trigger ``durationMs`` breakdown and ``stateOperators``).
    Durations are integer milliseconds, so per-batch figures are means: an
    integer median repeats exactly from run to run."""
    data = [r for r in records if r.get("numInputRows", 0) > 0]

    def mean(key):
        vals = [r["durationMs"].get(key, 0) for r in data]
        return statistics.fmean(vals) if vals else 0.0

    state_ops = [op for r in records for op in r.get("stateOperators", [])]
    last_state = records[-1].get("stateOperators", []) if records else []
    return {
        "streaming.batches": len(data),
        "streaming.no_data_batches": len(records) - len(data),
        "streaming.rows_per_batch_p50": median([r["numInputRows"] for r in data]) if data else 0,
        "streaming.trigger_ms_mean": mean("triggerExecution"),
        "streaming.add_batch_ms_mean": mean("addBatch"),
        "streaming.fixed_ms_mean": mean("triggerExecution") - mean("addBatch"),
        "streaming.query_planning_ms_mean": mean("queryPlanning"),
        "streaming.get_batch_ms_mean": mean("getBatch"),
        "streaming.latest_offset_ms_mean": mean("latestOffset"),
        "streaming.wal_commit_ms_mean": mean("walCommit"),
        "streaming.commit_offsets_ms_mean": mean("commitOffsets"),
        "streaming.scan_amplification": (
            sum(r["numInputRows"] for r in records) / events if events else 0.0
        ),
        "state.rows_total_end": sum(op.get("numRowsTotal", 0) for op in last_state),
        "state.rows_updated_sum": sum(op.get("numRowsUpdated", 0) for op in state_ops),
        "state.memory_bytes_end": sum(op.get("memoryUsedBytes", 0) for op in last_state),
        "state.commit_ms_sum": sum(op.get("commitTimeMs", 0) for op in state_ops),
        "state.updates_ms_sum": sum(op.get("allUpdatesTimeMs", 0) for op in state_ops),
    }


# Every per-layer metric a traced run reports, with its unit.  The list
# matches BENCHMARK.json's ``per_layer``.
PER_LAYER = {
    "session.start_s": "s",
    "rules.build_cold_s": "s",
    "rules.build_cold_py4j": "count",
    "sources.parse_busy_s": "s",
    "rules.eval_busy_s": "s",
    "rules.timeframe_busy_s": "s",
    "sink.payload_busy_s": "s",
    "streaming.batches": "count",
    "streaming.no_data_batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.trigger_ms_mean": "ms",
    "streaming.add_batch_ms_mean": "ms",
    "streaming.fixed_ms_mean": "ms",
    "streaming.query_planning_ms_mean": "ms",
    "streaming.get_batch_ms_mean": "ms",
    "streaming.latest_offset_ms_mean": "ms",
    "streaming.wal_commit_ms_mean": "ms",
    "streaming.commit_offsets_ms_mean": "ms",
    "streaming.scan_amplification": "ratio",
    "streaming.backlog_events_end": "count",
    "gen.events": "count",
    "gen.lag_ms_p99": "ms",
    "state.rows_total_end": "count",
    "state.rows_updated_sum": "count",
    "state.memory_bytes_end": "bytes",
    "state.commit_ms_sum": "ms",
    "state.updates_ms_sum": "ms",
    "sources.load_tables_ms": "ms",
    "sources.load_tables_jobs": "count",
    "sources.load_tables_py4j": "count",
    "catalog.construct_ms_p50": "ms",
    "catalog.plan_ms_p50": "ms",
    "catalog.exec_ms_p50": "ms",
    "catalog.construct_py4j_sum": "count",
    "catalog.construct_jobs_sum": "count",
    "catalog.exec_jobs_sum": "count",
    "catalog.exec_stages_sum": "count",
    "catalog.exec_tasks_sum": "count",
    "trace.overhead_latency_p50_ms": "ms",
    "trace.overhead_throughput_pct": "%",
}


def emit(result: dict, summary: dict) -> None:
    """Print the human-readable summary line, then the result object as the
    last line of standard output."""
    print("summary " + json.dumps(summary, sort_keys=True), flush=True)
    print(json.dumps(result), flush=True)
