"""``python_udf``: the Python DoFn path. A ParDo with tagged outputs and
an ``AsDict`` side input, ``Map``/``FlatMap`` callables, a custom
``CombineFn``, a bounded ``StatefulParDo`` and a streaming
``StatefulParDo`` drained from a file backlog, so pickled per-key state
crosses micro-batches. Little shuffle: the cost is the Arrow / pandas /
row-dict boundary and the state codec."""

from __future__ import annotations

import os
import time

import beam_spark as beam
from beam_spark.operators.pardo import CombinePerKeyFn
from beam_spark.sources import ReadFromParquet, WriteToParquet
from beam_spark.streaming import ReadFileStream, StatefulDoFn, StatefulParDo

from perfbench import common, reference

EVENT_SCHEMA = ("event_id bigint, user_id bigint, ts timestamp, event_type string, "
                "amount_cents bigint")
BURST_GAP_S = 3600


class Enrich(beam.DoFn):
    """Main output: views and clicks with their points from the side
    input; purchases and refunds go to tagged outputs. When given metric
    handles it reports its own time and element counts once per bundle."""

    def __init__(self, metrics=None):
        self.metrics = metrics

    def start_bundle(self):
        self._t = 0.0
        self._in = self._out = 0

    def process(self, row):
        t0 = time.perf_counter()
        kind = row["event_type"]
        pts = self.side_inputs["points"][kind]
        if kind == "purchase" or kind == "refund":
            out = beam.TaggedOutput(kind, {"event_id": row["event_id"],
                                           "user_id": row["user_id"],
                                           "amount_cents": row["amount_cents"]})
        else:
            out = {"event_id": row["event_id"], "user_id": row["user_id"],
                   "points": pts, "amount_cents": row["amount_cents"]}
        self._t += time.perf_counter() - t0
        self._in += 1
        self._out += 1
        yield out

    def finish_bundle(self):
        if self.metrics is not None:
            fn_s, n_in, n_out = self.metrics
            fn_s.update(self._t)
            n_in.inc(self._in)
            n_out.inc(self._out)
        return ()


class PointsSum(beam.CombineFn):
    def create_accumulator(self):
        return 0

    def add_input(self, acc, element):
        return acc + int(element)

    def merge_accumulators(self, accs):
        return sum(accs)

    def extract_output(self, acc):
        return acc


class Bursts(StatefulDoFn):
    """Bounded: per user, events and the events that came within an hour
    of the previous one (time-sorted input, so ties cannot reorder it)."""

    def process(self, key, rows, state):
        prev = state.get("prev")
        n, bursts, spend = state.get("n", 0), state.get("bursts", 0), state.get("spend", 0)
        for r in rows:
            t = r["ts"].timestamp()
            if prev is not None and t - prev < BURST_GAP_S:
                bursts += 1
            prev = t
            n += 1
            spend += r["amount_cents"]
        state.set("prev", prev)
        state.set("n", n)
        state.set("bursts", bursts)
        state.set("spend", spend)
        return ()

    def on_completion(self, key, state):
        yield {"user_id": key[0], "n": state.get("n"), "bursts": state.get("bursts"),
               "spend": state.get("spend")}


class RunningTotals(StatefulDoFn):
    """Streaming: per user running count and spend, kept in the pickled
    state blob across micro-batches; emits the new totals every batch."""

    def process(self, key, rows, state):
        n, spend = state.get("n", 0), state.get("spend", 0)
        for r in rows:
            n += 1
            spend += r["amount_cents"]
        state.set("n", n)
        state.set("spend", spend)
        yield {"user_id": key[0], "n": n, "spend": spend}


#: outputs of one closed-loop iteration
OUTPUTS = ["pardo_main", "pardo_purchase", "pardo_refund", "map_hour", "flatmap_parts",
           "combinefn_points", "bounded_bursts"]


def iteration(spark, inp: str, out_dir: str, tr, metrics=None) -> set:
    """One pass over the bounded stages; returns the ids of the jobs the
    ParDo ran."""
    p = beam.Pipeline(spark)

    def write(name, pc):
        pc | WriteToParquet(os.path.join(out_dir, name))

    with tr.span("pcollection.build"):
        ev = p | "ReadEvents" >> ReadFromParquet(os.path.join(inp, "events"))
        points = p | "ReadPoints" >> ReadFromParquet(os.path.join(inp, "points"))
    sc = spark.sparkContext
    group = sc.getLocalProperty("spark.jobGroup.id")
    jobs_before = set(sc.statusTracker().getJobIdsForGroup(group)) if group else set()
    with tr.span("pardo.pardo"):
        outs = ev | beam.ParDo(
            Enrich(metrics), "event_id long, user_id long, points long, amount_cents long",
            side_inputs={"points": beam.AsDict(points)}).with_outputs("purchase", "refund")
        main = outs["__main__"]
        write("pardo_main", main)
        write("pardo_purchase", outs["purchase"])
        write("pardo_refund", outs["refund"])
    pardo_jobs = (set(sc.statusTracker().getJobIdsForGroup(group)) - jobs_before
                  if group else set())
    with tr.span("pardo.map"):
        write("map_hour", ev | beam.Map(
            lambda r: {"event_id": r["event_id"], "hour": r["ts"].hour},
            output_schema="event_id long, hour long"))
    with tr.span("pardo.flatmap"):
        write("flatmap_parts", outs["purchase"] | beam.FlatMap(
            lambda r: [{"event_id": r["event_id"], "part": "tax",
                        "cents": r["amount_cents"] // 10},
                       {"event_id": r["event_id"], "part": "net",
                        "cents": r["amount_cents"] - r["amount_cents"] // 10}],
            output_schema="event_id long, part string, cents long"))
    with tr.span("combinefn.step"):
        write("combinefn_points", main | CombinePerKeyFn(
            "user_id", PointsSum(), "points", "user_id long, output long"))
    with tr.span("state.bounded_step"):
        write("bounded_bursts", ev | StatefulParDo(
            "user_id", Bursts(), "user_id long, n long, bursts long, spend long",
            requires_time_sorted_input=True, ts_col="ts"))
    spark.catalog.clearCache()  # the ParDo's tagged-output cache
    return pardo_jobs


def drain_backlog(spark, inp: str, out_dir: str) -> list:
    """Streaming StatefulParDo over the backlog, one file per trigger,
    with ``availableNow``; each batch's updates are written as parquet.
    Returns the query's progress events."""
    p = beam.Pipeline(spark)
    src = p | ReadFileStream(os.path.join(inp, "backlog"), schema=EVENT_SCHEMA,
                             max_files_per_trigger=1)
    totals = src | StatefulParDo("user_id", RunningTotals(),
                                 "user_id long, n long, spend long")
    sink = os.path.join(out_dir, "stream_totals")

    def emit(df, batch_id):
        df.write.mode("overwrite").parquet(os.path.join(sink, f"batch={batch_id}"))

    q = (totals.df.writeStream.foreachBatch(emit)
         .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return [common.progress_dict(pr) for pr in q.recentProgress]


def reference_sql(inp: str) -> dict:
    ev = f"read_parquet('{inp}/events/*.parquet')"
    pts = f"read_parquet('{inp}/points/*.parquet')"
    main = (f"SELECT e.event_id, e.user_id, p.points, e.amount_cents FROM {ev} e "
            f"JOIN {pts} p USING (event_type) WHERE e.event_type IN ('view', 'click')")
    return {
        "pardo_main": main,
        "pardo_purchase": (f"SELECT event_id, user_id, amount_cents FROM {ev} "
                           f"WHERE event_type = 'purchase'"),
        "pardo_refund": (f"SELECT event_id, user_id, amount_cents FROM {ev} "
                         f"WHERE event_type = 'refund'"),
        "map_hour": f"SELECT event_id, hour(ts)::BIGINT AS hour FROM {ev}",
        "flatmap_parts": (
            f"SELECT event_id, 'tax' AS part, amount_cents // 10 AS cents FROM {ev} "
            f"WHERE event_type = 'purchase' UNION ALL SELECT event_id, 'net', "
            f"amount_cents - amount_cents // 10 FROM {ev} WHERE event_type = 'purchase'"),
        "combinefn_points": (f"SELECT user_id, SUM(points)::BIGINT AS output FROM ({main}) "
                             f"GROUP BY user_id"),
        "bounded_bursts": (
            f"SELECT user_id, COUNT(*) AS n, SUM(burst)::BIGINT AS bursts, "
            f"SUM(amount_cents)::BIGINT AS spend FROM (SELECT user_id, amount_cents, "
            f"CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts) "
            f"< {BURST_GAP_S} THEN 1 ELSE 0 END AS burst FROM {ev}) GROUP BY user_id"),
        # the last update of each user equals the totals over the backlog
        "stream_totals": (f"SELECT user_id, COUNT(*) AS n, SUM(amount_cents)::BIGINT AS spend "
                          f"FROM read_parquet('{inp}/backlog/*.parquet') GROUP BY user_id"),
    }


def check(con, out_dir: str, refs: dict) -> list[str]:
    """Names of the iteration's outputs that differ from the reference."""
    return [name for name in OUTPUTS
            if reference.mismatch(con, refs[name], os.path.join(out_dir, name))]


def check_stream(con, out_dir: str, refs: dict) -> list[str]:
    """The last update of each user must equal its totals over the whole
    backlog."""
    final = common.fresh_dir(os.path.join(out_dir, "stream_final"))
    con.execute(
        f"COPY (SELECT user_id, arg_max(n, batch) AS n, arg_max(spend, batch) AS spend "
        f"FROM read_parquet('{out_dir}/stream_totals/*/*.parquet', hive_partitioning=1) "
        f"GROUP BY user_id) TO '{final}/part.parquet' (FORMAT PARQUET)")
    return ["stream_totals"] if reference.mismatch(con, refs["stream_totals"], final) else []


LAYERS = ["pardo.elements_in", "pardo.elements_out", "pardo.step_s", "pardo.user_fn_s",
          "pardo.user_fn_share", "combinefn.step_s", "state.bounded_step_s",
          "state.stream_batch_ms_p50", "state.rows_total", "state.mem_bytes",
          "trace.iteration_ms_p50", "spark.jobs", "spark.stages", "spark.tasks",
          "spark.tasks_failed", "spark.shuffle_write_bytes", "spark.spill_bytes",
          "spark.gc_s", "spark.executor_cpu_s"]
LAYER_SPANS = ["iteration", "pardo.pardo", "pardo.map", "pardo.flatmap",
               "combinefn.step", "state.bounded_step"]


def run(ctx) -> dict:
    """The closed loop times the bounded stages. The streaming
    StatefulParDo costs ~6 s per micro-batch on 4 cores, too much to
    repeat in every run, so only the traced run drains the backlog once,
    after the loop, for the ``state.*`` layer metrics."""
    from beam_spark.metrics import MetricsRegistry

    inp = os.path.join(ctx.work, "in")
    info = ctx.gen("tables", "--workload", "python_udf", "--out", inp)
    con = reference.connect()
    refs = reference.materialize(con, reference_sql(inp), "pu")
    extra = {"fn_s": [], "task_s": [], "in": [], "out": []}

    def iterate(out_dir):
        metrics = None
        if ctx.traced:
            reg = MetricsRegistry(ctx.spark)
            metrics = (reg.distribution("pardo", "user_fn_s"),
                       reg.counter("pardo", "elements_in"), reg.counter("pardo", "elements_out"))
        pardo_jobs = iteration(ctx.spark, inp, out_dir, ctx.tr, metrics)
        if metrics is not None:
            extra["fn_s"].append(metrics[0].result.sum)
            extra["in"].append(metrics[1].value)
            extra["out"].append(metrics[2].value)
            extra["task_s"].append(common.task_seconds(ctx.spark, pardo_jobs))

    loop = common.closed_loop(ctx, iterate, lambda d: check(con, d, refs), LAYER_SPANS)
    attempted, failed, notes = loop["attempted"], loop["failed"], loop["notes"]
    stream = {}
    if ctx.traced:
        out_dir = common.fresh_dir(os.path.join(ctx.work, "out"))
        with ctx.tr.span("state.stream_step"):
            progress = drain_backlog(ctx.spark, inp, out_dir)
        bad = check_stream(con, out_dir, refs)
        attempted, failed = attempted + 1, failed + bool(bad)
        notes.append(f"streaming StatefulParDo mismatched: {bad}" if bad else
                     f"streaming StatefulParDo: {len(progress)} micro-batches, checked")
        ops = [p["stateOperators"][0] for p in progress if p.get("stateOperators")]
        stream = {
            "state.stream_batch_ms_p50": common.median(
                [p["durationMs"]["triggerExecution"] for p in progress if p["numInputRows"]]),
            "state.rows_total": ops[-1]["numRowsTotal"] if ops else 0,
            "state.mem_bytes": ops[-1]["memoryUsedBytes"] if ops else 0,
        }
    con.close()
    times, sp = loop["times"], loop["spans"]
    e2e, note = common.closed_loop_e2e(times, info["events"])
    med = common.median
    fn_s, task_s = med(extra["fn_s"]), med(extra["task_s"])
    layers = {
        "trace.iteration_ms_p50": 1000 * sp["iteration"],
        "pardo.elements_in": med(extra["in"]),
        "pardo.elements_out": med(extra["out"]),
        "pardo.step_s": sp["pardo.pardo"] + sp["pardo.map"] + sp["pardo.flatmap"],
        "pardo.user_fn_s": fn_s,
        "pardo.user_fn_share": fn_s / task_s if task_s else 0.0,
        "combinefn.step_s": sp["combinefn.step"],
        "state.bounded_step_s": sp["state.bounded_step"],
        **stream,
        **common.spark_layers(loop["counts"]),
    }
    return {"attempted": attempted, "failed": failed, "e2e": e2e, "layers": layers,
            "notes": notes + [note]}
