"""``stream_open_loop``: a watermarked windowed aggregation as a
micro-batch stream.

Query: ``ReadFileStream`` -> ``WithWatermark`` -> ``WindowInto(
FixedWindows)`` -> ``CombinePerKey`` per user in update mode, carrying
the newest creation stamp -> a ``foreachBatch`` sink that writes each
batch and stamps its emission time.

Two phases, each a fresh query with its own checkpoint:

1. catch-up: drain a pre-written backlog with ``availableNow``; the
   events per second of that drain is the throughput.
2. open loop: a separate generator process writes one file every
   250 ms at a fixed offered rate for ``--seconds``, whatever the query
   does; latency is from the creation stamp of the newest event in a
   result row to the emission of that row. The backlog is sampled; a
   backlog that grows marks the run failed.

Both phases are checked: the last update per (user, window) must equal
a DuckDB aggregate over the on-time events, and the rows the watermark
dropped must equal the generator's count of late events.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from datetime import datetime

import beam_spark as beam
from beam_spark.streaming import ReadFileStream, WithWatermark

from perfbench import common, gen, reference

PROF = gen.PROFILES["stream_open_loop"]
#: offered rate of the open loop, events/s: half the median catch-up rate
#: (11.2k events/s over ten seeds on 4 cores)
OFFERED_RATE = 5_600
WINDOW_S = PROF["window_s"]
EVENT_SCHEMA = ("event_id bigint, user_id bigint, ts timestamp, event_type string, "
                "amount_cents bigint, created_ms bigint")
#: on-time events are at most lateness/2 behind their creation; late ones
#: at least lateness + window + late_extra_s
LATE_CUT_MS = 1000 * (PROF["lateness_s"] + PROF["window_s"])


def build_query(spark, src_dir: str, max_files: int | None):
    p = beam.Pipeline(spark)
    return (p | ReadFileStream(src_dir, schema=EVENT_SCHEMA, max_files_per_trigger=max_files)
            | WithWatermark("ts", f"{PROF['lateness_s']} seconds")
            | beam.WindowInto(beam.FixedWindows(WINDOW_S), ts_col="ts")
            | beam.CombinePerKey("user_id", n="count(*)", spend="sum(amount_cents)",
                                 max_created="max(created_ms)")
            | beam.Map("user_id", "unix_seconds(__window.start) AS w_start", "n", "spend",
                       "max_created"))


def start_query(pcoll, out_dir: str, ckpt: str, emitted: dict, available_now: bool):
    """Update-mode ``foreachBatch`` sink: write the batch, then record
    its emission time (ms)."""

    def emit(df, batch_id):
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"batch={batch_id}"))
        emitted[batch_id] = time.time() * 1000.0

    w = (pcoll.df.writeStream.outputMode("update").foreachBatch(emit)
         .option("checkpointLocation", ckpt))
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def _progress(q) -> list[dict]:
    return [common.progress_dict(p) for p in q.recentProgress]


def check(con, in_dir: str, out_dir: str, late: int) -> tuple[list[str], int]:
    """The last update per (user, window), over both queries, must equal
    the aggregate of the on-time events, and the events the watermark
    dropped must be exactly the generator's late ones. Returns the
    mismatches and the number of dropped events."""
    bad = []
    w_ms = 1000 * WINDOW_S
    ref = (f"SELECT user_id, epoch_ms(ts) // {w_ms} * {WINDOW_S} AS w_start, "
           f"COUNT(*) AS n, SUM(amount_cents)::BIGINT AS spend, MAX(created_ms) AS max_created "
           f"FROM read_parquet('{in_dir}/*.parquet') "
           f"WHERE created_ms - epoch_ms(ts) < {LATE_CUT_MS} GROUP BY ALL")
    table = reference.materialize(con, {"ref": ref}, "st")["ref"]
    final = common.fresh_dir(os.path.join(os.path.dirname(out_dir), "final"))
    con.execute(
        f"COPY (SELECT user_id, w_start, arg_max(n, batch) AS n, arg_max(spend, batch) AS spend, "
        f"arg_max(max_created, batch) AS max_created FROM read_parquet("
        f"'{out_dir}/*/*.parquet', hive_partitioning=1) GROUP BY user_id, w_start) "
        f"TO '{final}/part.parquet' (FORMAT PARQUET)")
    if reference.mismatch(con, table, final):
        bad.append("final aggregates differ from the on-time reference")
    total = con.execute(f"SELECT COUNT(*) FROM read_parquet('{in_dir}/*.parquet')").fetchone()[0]
    kept = con.execute(f"SELECT SUM(n) FROM read_parquet('{final}/*.parquet')").fetchone()[0]
    dropped = total - (kept or 0)
    if dropped != late:
        bad.append(f"watermark dropped {dropped} events, the generator made {late} late")
    return bad, dropped


def catch_up(ctx, paths: dict) -> dict:
    """Drain the pre-written backlog with ``availableNow``."""
    info = ctx.gen("backlog", "--out", paths["in"], "--manifest", paths["backlog"])
    with ctx.tr.span("streaming.catchup"):
        t0 = time.perf_counter()
        q = start_query(build_query(ctx.spark, paths["in"], None),
                        paths["out"], paths["ckpt"], {}, available_now=True)
        q.awaitTermination()
        dt = time.perf_counter() - t0
    return {"events": info["events"], "late": info["late"], "seconds": dt,
            "progress": _progress(q)}


class BacklogSampler(threading.Thread):
    """Every 250 ms while the generator runs: open-loop files written and
    not yet read."""

    def __init__(self, q, in_dir: str, rows_per_file: int):
        super().__init__(daemon=True)
        self.q, self.in_dir, self.per = q, in_dir, rows_per_file
        self.samples: list[float] = []
        self.stop = threading.Event()
        self.rows: dict[int, int] = {}

    def run(self):
        while not self.stop.wait(0.25):
            p = self.q.lastProgress
            if p is not None:
                p = common.progress_dict(p)
                self.rows[p["batchId"]] = p["numInputRows"]
            files = sum(1 for f in os.listdir(self.in_dir) if f.startswith("o-"))
            self.samples.append(files - sum(self.rows.values()) / self.per)


def backlog_grew(progress: list, gen_end: float) -> bool:
    """At a sustainable rate each micro-batch reads about one batch
    duration of input. The backlog grew if the last batch that started
    while the generator ran read more than twice what the second did
    (the first one also reads what piled up while the query started)."""
    rows = [p["numInputRows"] for p in progress
            if p["numInputRows"] > 0 and _iso_s(p["timestamp"]) < gen_end]
    return len(rows) >= 3 and rows[-1] > 2 * rows[1]


def open_loop(ctx, paths: dict, first_id: int) -> dict:
    """Restart the query from the catch-up's checkpoint with the default
    trigger, then let a separate generator process write files at
    ``OFFERED_RATE`` for ``ctx.seconds``."""
    emitted: dict = {}
    q = start_query(build_query(ctx.spark, paths["in"], None), paths["out"], paths["ckpt"],
                    emitted, available_now=False)
    deadline = time.time() + 60
    while q.lastProgress is None and time.time() < deadline:
        time.sleep(0.05)
    manifest = os.path.join(ctx.work, "openloop.json")
    cmd = [sys.executable, os.path.join(os.path.dirname(__file__), "gen.py"), "openloop",
           "--seed", str(ctx.seed), "--out", paths["in"], "--manifest", manifest,
           "--rate", str(OFFERED_RATE), "--seconds", str(ctx.seconds),
           "--start-at", repr(time.time() + 0.25), "--first-id", str(first_id)]
    sampler = BacklogSampler(q, paths["in"], int(round(OFFERED_RATE * PROF["interval_s"])))
    with ctx.tr.span("streaming.openloop"):
        proc = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
        ctx.rss.exclude.add(proc.pid)
        sampler.start()
        try:
            proc.wait(timeout=ctx.seconds + 60)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        gen_end = time.time()
        sampler.stop.set()
        sampler.join()
        with open(manifest) as f:
            info = json.load(f)
        q.processAllAvailable()
        q.stop()
    progress = _progress(q)
    return {"info": info, "progress": progress, "emitted": emitted,
            "growing": backlog_grew(progress, gen_end), "backlog": sampler.samples,
            "run_id": str(q.runId)}


def _iso_s(stamp: str) -> float:
    return datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _streaming_layers(ctx, progress: list, backlog: list, info: dict) -> dict:
    med = common.median
    live = [p for p in progress if p["numInputRows"] > 0]
    dur = lambda k: [p["durationMs"].get(k, 0) for p in live]  # noqa: E731
    ops = [p["stateOperators"][0] for p in live if p.get("stateOperators")]
    lag = [_iso_s(p["timestamp"]) - _iso_s(p["eventTime"]["watermark"])
           for p in live if p.get("eventTime", {}).get("watermark")]
    offset = time.perf_counter() - time.time()
    for p in live:
        start = _iso_s(p["timestamp"]) + offset
        ctx.tr.add("streaming.batch", start, start + p["durationMs"]["triggerExecution"] / 1000,
                   batch=p["batchId"], rows=p["numInputRows"])
    trig = dur("triggerExecution")
    return {
        "streaming.batches": len(live),
        "streaming.trigger_ms_p50": med(trig),
        "streaming.trigger_ms_p99": common.tail_percentile(trig)[1],
        "streaming.add_batch_ms_p50": med(dur("addBatch")),
        "streaming.plan_ms_p50": med(dur("queryPlanning")),
        "streaming.source_ms_p50": med([a + b for a, b in zip(dur("latestOffset"),
                                                               dur("getBatch"))]),
        "streaming.commit_ms_p50": med([a + b for a, b in zip(dur("walCommit"),
                                                               dur("commitOffsets"))]),
        "streaming.state_commit_ms_p50": med([o.get("commitTimeMs", 0) for o in ops]),
        "streaming.state_store_instances": med([o.get("numStateStoreInstances", 0)
                                                for o in ops]),
        "streaming.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "streaming.state_mem_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        "streaming.backlog_files_max": max(backlog) if backlog else 0,
        "streaming.watermark_lag_s": med(lag),
        "streaming.gen_late_ms_max": info["gen_late_ms_max"],
    }


LAYERS = ["streaming.batches", "streaming.trigger_ms_p50", "streaming.trigger_ms_p99",
          "streaming.add_batch_ms_p50", "streaming.plan_ms_p50", "streaming.source_ms_p50",
          "streaming.commit_ms_p50", "streaming.state_commit_ms_p50",
          "streaming.state_store_instances", "streaming.state_rows",
          "streaming.state_mem_bytes", "streaming.backlog_files_max",
          "streaming.watermark_lag_s", "streaming.rows_dropped_late",
          "streaming.gen_late_ms_max", "spark.jobs", "spark.stages", "spark.tasks",
          "spark.tasks_failed", "spark.shuffle_write_bytes", "spark.spill_bytes",
          "spark.gc_s", "spark.executor_cpu_s"]


def run(ctx) -> dict:
    ctx.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    base = ctx.work
    paths = {"in": os.path.join(base, "in"), "out": os.path.join(base, "out"),
             "ckpt": os.path.join(base, "ckpt"), "backlog": os.path.join(base, "backlog.json")}
    cu = catch_up(ctx, paths)
    ol = open_loop(ctx, paths, cu["events"])
    con = reference.connect()
    bad, dropped = check(con, paths["in"], paths["out"], cu["late"] + ol["info"]["late"])
    if ol["growing"]:
        bad.append("the open-loop backlog grew")
    emitted = ol["emitted"]
    lat = [r[0] for r in con.execute(
        f"SELECT e.emitted - o.max_created FROM read_parquet('{paths['out']}/*/*.parquet', "
        f"hive_partitioning=1) o JOIN (SELECT unnest(?::BIGINT[]) AS batch, "
        f"unnest(?::DOUBLE[]) AS emitted) e USING (batch)",
        [list(emitted), list(emitted.values())]).fetchall()]
    con.close()
    q, tail = common.tail_percentile(lat)
    p99 = common.percentile(lat, 99) if len(lat) >= 1000 else tail
    batches = sum(1 for p in cu["progress"] + ol["progress"] if p["numInputRows"] > 0)
    e2e = {"throughput_rows_per_s": cu["events"] / cu["seconds"],
           "latency_ms_p50": common.median(lat),
           "latency_ms_p99": p99}
    layers = _streaming_layers(ctx, ol["progress"], ol["backlog"], ol["info"])
    layers["streaming.rows_dropped_late"] = dropped
    # micro-batch jobs run in a job group named after the query's run id
    layers.update(common.spark_layers(common.job_counts(ctx.spark, ol["run_id"], ctx.traced)))
    notes = [f"catch-up: {cu['events']} events in {cu['seconds']:.3f} s",
             f"open loop: {ol['info']['events']} events offered at {OFFERED_RATE}/s for "
             f"{ctx.seconds:g} s; {len(lat)} latency samples, p99 from "
             f"{'p99' if len(lat) >= 1000 else f'p{q:g}'}",
             *[f"mismatch: {b}" for b in bad]]
    # attempted: every micro-batch that read input, plus the open-loop run
    return {"attempted": batches + 1, "failed": len(bad), "e2e": e2e, "layers": layers,
            "notes": notes}
