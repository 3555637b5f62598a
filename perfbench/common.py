"""Shared pieces of the benchmark: tracing, memory sampling, Spark job
counters, percentiles and the session lifecycle."""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import tempfile
import threading
import time
from contextlib import contextmanager


# ---------------------------------------------------------------- stats
def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def percentile(values, q: float) -> float:
    """Nearest-rank percentile, q in [0, 100]."""
    if not values:
        return 0.0
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return float(s[k])


def tail_percentile(values) -> tuple[float, float]:
    """(q, value) for the highest of p99.9/p99/p95/p90/p50 that has at
    least ten samples beyond it; the maximum when none has."""
    n = len(values)
    for q in (99.9, 99.0, 95.0, 90.0, 50.0):
        if n * (100.0 - q) / 100.0 >= 10:
            return q, percentile(values, q)
    return 100.0, (max(values) if values else 0.0)


# -------------------------------------------------------------- tracing
class Tracer:
    """In-memory spans: name, start, end, parent span and trace id.

    A disabled tracer records nothing; ``span`` then costs one branch.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace = 0

    def new_trace(self) -> int:
        self._trace += 1
        return self._trace

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "trace": self._trace,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record a span measured elsewhere (a streaming progress event)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name,
                               "trace": self._trace,
                               "parent": self._stack[-1] if self._stack else None,
                               "start": start, "end": end, **attrs})

    def total(self, name: str) -> float:
        """Seconds summed over every span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part its children cover."""
        kids: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


# --------------------------------------------------------------- memory
def _proc_tree_rss_kb(root: int, exclude=()) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                st = f.read()
            with open(f"/proc/{d}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
        rss[int(d)] = pages
    total, todo = 0, [root]
    while todo:
        p = todo.pop()
        if p in exclude:
            continue
        total += rss.get(p, 0)
        todo.extend(children.get(p, ()))
    return total * (os.sysconf("SC_PAGE_SIZE") // 1024)


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc every 200 ms.

    The peak is the highest total held for a whole second (the largest
    rolling minimum over five samples), so a spike shorter than that does
    not decide it: with single samples the peak of stream_open_loop runs
    swung between 1.0 and 2.5 GB from seed to seed.
    """

    WINDOW = 5

    def __init__(self, interval_s: float = 0.2):
        self.interval = interval_s
        self.peak_kb = 0
        #: pids whose subtrees are not part of the system under test
        self.exclude: set[int] = set()
        self._recent: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            self._recent = (self._recent + [_proc_tree_rss_kb(me, self.exclude)])[-self.WINDOW:]
            if len(self._recent) == self.WINDOW:
                self.peak_kb = max(self.peak_kb, min(self._recent))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- spark
def job_counts(spark, group: str, stage_metrics: bool) -> dict:
    """Jobs, stages, tasks and failed tasks of one job group, from
    ``statusTracker``; with ``stage_metrics`` also shuffle-write and
    spill bytes, GC and executor CPU seconds from the status store."""
    sc = spark.sparkContext
    tr = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "gc_s": 0.0,
           "executor_cpu_s": 0.0}
    store = sc._jsc.sc().statusStore() if stage_metrics else None
    seen = set()
    for jid in tr.getJobIdsForGroup(group):
        info = tr.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            st = tr.getStageInfo(sid)
            if sid in seen or st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                continue  # skipped (reused) stage
            seen.add(sid)
            out["stages"] += 1
            out["tasks"] += st.numCompletedTasks
            out["tasks_failed"] += st.numFailedTasks
            if store is not None:
                d = store.lastStageAttempt(sid)
                out["shuffle_write_bytes"] += d.shuffleWriteBytes()
                out["spill_bytes"] += d.memoryBytesSpilled() + d.diskBytesSpilled()
                out["gc_s"] += d.jvmGcTime() / 1000.0
                out["executor_cpu_s"] += d.executorCpuTime() / 1e9
    return out


#: Spark monitoring turned on only in the traced run: executor metrics
#: polled into each stage's peak metrics, and streaming query metrics.
TRACE_CONF = {
    "spark.executor.metrics.pollingInterval": "1s",
    "spark.sql.streaming.metricsEnabled": "true",
}


#: Driver heap for every run: Spark's own default. With the engine's 8g
#: the heap grew by a different amount in each run and the peak RSS of
#: batch_native spread by a quarter between seeds; a 1g heap fills to its
#: cap in every run, so the peak repeats.
DRIVER_MEM = "1g"


def session_conf(work: str, traced: bool) -> dict:
    """Session settings of every run: every file Spark writes stays in the
    work directory, a fixed driver heap, no console progress bars; plus
    ``TRACE_CONF`` in the traced run."""
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": DRIVER_MEM,
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')} -XX:-UsePerfData",
    }
    if traced:
        conf.update(TRACE_CONF)
    return conf


def start_session(work: str, traced: bool):
    """``get_spark`` plus the first trivial action; returns the session."""
    from beam_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # temp files of pyspark's launcher, the JVMs and the workers stay here
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # local[$(nproc)]
    # Python workers import the benchmark's DoFns from the checkout
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    spark = get_spark("perfbench", extra_conf=session_conf(work, traced))
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM process has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def closed_loop(ctx, iterate, check, layer_spans) -> dict:
    """One client, iterations back to back until ``ctx.seconds`` have
    passed (at least one). Every iteration is timed, the first included:
    a one-shot batch job pays the JVM's code generation and JIT warm-up
    each time it runs.

    ``iterate(out_dir)`` runs the pipeline once; ``check(out_dir)``
    returns the names of outputs that differ from the reference. Returns
    iteration times, attempt and failure counts, the Spark counts of the
    first iteration and the per-iteration median of each span in
    ``layer_spans``.
    """
    import traceback

    sc = ctx.spark.sparkContext
    times, attempted, failed, counts, notes = [], 0, 0, None, []
    per_trace: list[dict] = []
    deadline = time.perf_counter() + ctx.seconds
    while attempted == 0 or time.perf_counter() < deadline:
        out_dir = fresh_dir(os.path.join(ctx.work, "out"))
        group = f"iter-{attempted}"
        sc.setJobGroup(group, group)
        trace = ctx.tr.new_trace()
        attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tr.span("iteration"):
                iterate(out_dir)
            times.append(time.perf_counter() - t0)
            bad = check(out_dir)
        except Exception:  # noqa: BLE001 - count the failure, keep measuring
            traceback.print_exc()
            bad = ["error"]
        if bad:
            failed += 1
            notes.append(f"iteration {attempted} mismatched: {bad}")
        if counts is None:
            counts = job_counts(ctx.spark, group, ctx.traced)
        if ctx.traced:
            per_trace.append({n: sum(s["end"] - s["start"] for s in ctx.tr.spans
                                     if s["name"] == n and s["trace"] == trace)
                              for n in layer_spans})
    sc.setJobGroup("idle", "idle")
    spans = {n: median([t[n] for t in per_trace]) for n in layer_spans}
    return {"times": times, "attempted": attempted, "failed": failed,
            "counts": counts, "spans": spans, "notes": notes}


def closed_loop_e2e(times: list, rows: int) -> tuple[dict, str]:
    """End-to-end metrics of a closed loop over ``rows`` input rows, and
    a note stating the samples behind them."""
    q, tail = tail_percentile(times)
    e2e = {"throughput_rows_per_s": rows / median(times) if times else 0.0,
           "latency_ms_p50": 1000 * median(times),
           "latency_ms_p99": 1000 * tail}
    return e2e, (f"{len(times)} timed iterations of {rows} input rows; latency is the "
                 f"iteration wall time, p99 reported as the p{q:g} of {len(times)} samples")


def progress_dict(progress) -> dict:
    """A StreamingQueryProgress as a plain dict."""
    return json.loads(progress.json) if hasattr(progress, "json") else dict(progress)


def task_seconds(spark, job_ids) -> float:
    """Executor run time summed over the stages of these jobs."""
    sc = spark.sparkContext
    tr, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    total, seen = 0.0, set()
    for jid in job_ids:
        info = tr.getJobInfo(jid)
        for sid in (info.stageIds if info else []):
            if sid not in seen:
                seen.add(sid)
                total += store.lastStageAttempt(sid).executorRunTime() / 1000.0
    return total


def spark_layers(counts: dict) -> dict:
    """The spark.* per-layer metrics from ``job_counts``."""
    return {f"spark.{k}": counts.get(k, 0) for k in
            ("jobs", "stages", "tasks", "tasks_failed", "shuffle_write_bytes",
             "spill_bytes", "gc_s", "executor_cpu_s")}
