"""``batch_native``: windowed aggregations, a join, per-key top-k and a
SQL TUMBLE query over seeded events, all on the JVM expression path.

One iteration reads the events once into the cache (the fan-out that
Beam's Spark runner caches), then runs each step as its own action so
its time is attributable to one layer, and writes six results with
``WriteToParquet``. Every iteration's written output is compared with a
DuckDB reference over the same input files.
"""

from __future__ import annotations

import os

import beam_spark as beam
from beam_spark.sources import ReadFromParquet, WriteToParquet

from perfbench import common, reference

HOUR = 3600
#: sliding windows: 6 h long, one every hour
SLIDE_SIZE, SLIDE_PERIOD = 6 * HOUR, HOUR
SESSION_GAP = 30 * 60
TOP_K = 5

TUMBLE_SQL = """
SELECT event_type, unix_seconds(window_start) AS w_start,
       COUNT(*) AS n, SUM(amount_cents) AS spend
FROM TABLE(TUMBLE(TABLE PCOLLECTION, DESCRIPTOR(ts), INTERVAL '1' HOUR))
GROUP BY event_type, window_start
"""


def build_inputs(p, inp: str, tr):
    with tr.span("pcollection.build"):
        ev = (p | "ReadEvents" >> ReadFromParquet(os.path.join(inp, "events"))
              | beam.Filter("event_type <> 'refund'")
              | beam.Map("user_id", "ts", "event_type", "amount_cents"))
        users = p | "ReadUsers" >> ReadFromParquet(os.path.join(inp, "users"))
    return ev, users


def iteration(spark, inp: str, out_dir: str, tr) -> None:
    """One pass. Each result is one action inside the span of the layer
    it exercises; the per-user totals and the join are persisted because
    the next step reads them, and the totals are written last, from the
    cache, so ``sources.write`` times a write alone."""
    p = beam.Pipeline(spark)
    ev, users = build_inputs(p, inp, tr)
    cached = [ev]

    def write(name, pc):
        pc | WriteToParquet(os.path.join(out_dir, name))

    def persist(pc):
        pc.persist()
        pc.count()
        cached.append(pc)

    with tr.span("sources.read"):
        persist(ev)
    with tr.span("operators.window"):
        with tr.span("pcollection.build"):
            hourly = (ev | beam.WindowInto(beam.FixedWindows(HOUR), ts_col="ts")
                      | beam.CombinePerKey("user_id", n="count(*)")
                      | beam.Map("unix_seconds(__window.start) AS w_start", "n")
                      | beam.WindowInto(beam.GlobalWindows())
                      | beam.CombinePerKey("w_start", active_users="count(*)",
                                           max_user_events="max(n)"))
        write("fixed_hourly", hourly)
        with tr.span("pcollection.build"):
            sliding = (ev | beam.WindowInto(beam.SlidingWindows(SLIDE_SIZE, SLIDE_PERIOD),
                                            ts_col="ts")
                       | beam.CombinePerKey("event_type", n="count(*)",
                                            spend="sum(amount_cents)")
                       | beam.Map("event_type", "unix_seconds(__window.start) AS w_start",
                                  "n", "spend"))
        write("sliding_type", sliding)
        with tr.span("pcollection.build"):
            sessions = (ev | beam.WindowInto(beam.Sessions(SESSION_GAP), ts_col="ts")
                        | beam.CombinePerKey("user_id", n="count(*)")
                        | beam.WindowInto(beam.GlobalWindows())
                        | beam.CombinePerKey("n", sessions="count(*)"))
        write("session_sizes", sessions)
    with tr.span("operators.group"):
        with tr.span("pcollection.build"):
            totals = ev | beam.CombinePerKey(
                "user_id", n="count(*)", spend="sum(amount_cents)",
                max_amount="max(amount_cents)", types="count(DISTINCT event_type)")
        persist(totals)
    with tr.span("operators.join"):
        with tr.span("pcollection.build"):
            joined = totals | beam.Join(users, on="user_id")
        persist(joined)
    with tr.span("operators.sort"):
        with tr.span("pcollection.build"):
            top = (joined | beam.TopKPerKey("country", TOP_K, "spend desc", "user_id")
                   | beam.Map("country", "user_id", "spend"))
        write("top_users", top)
    with tr.span("sql.exec"):
        with tr.span("sql.expand"):
            tumble = ev | beam.SqlTransform(TUMBLE_SQL)
        write("sql_tumble", tumble)
    with tr.span("sources.write"):
        write("user_totals", totals)
    for pc in cached:
        pc.df.unpersist()


#: results written per iteration
OUTPUTS = ["fixed_hourly", "sliding_type", "session_sizes", "user_totals",
           "top_users", "sql_tumble"]


def reference_sql(inp: str) -> dict:
    """DuckDB formulation of each output over the generated files."""
    ev = (f"(SELECT user_id, ts, event_type, amount_cents, epoch(ts)::BIGINT AS t "
          f"FROM read_parquet('{inp}/events/*.parquet') WHERE event_type <> 'refund')")
    users = f"read_parquet('{inp}/users/*.parquet')"
    totals = (f"SELECT user_id, COUNT(*) AS n, SUM(amount_cents)::BIGINT AS spend, "
              f"MAX(amount_cents) AS max_amount, COUNT(DISTINCT event_type) AS types "
              f"FROM {ev} GROUP BY user_id")
    return {
        "fixed_hourly": (
            f"SELECT w_start, COUNT(*) AS active_users, MAX(n) AS max_user_events FROM "
            f"(SELECT user_id, t // {HOUR} * {HOUR} AS w_start, COUNT(*) AS n FROM {ev} "
            f"GROUP BY ALL) GROUP BY w_start"),
        "sliding_type": (
            f"SELECT event_type, w_start, COUNT(*) AS n, SUM(amount_cents)::BIGINT AS spend "
            f"FROM (SELECT event_type, amount_cents, unnest(range("
            f"(t - {SLIDE_SIZE}) // {SLIDE_PERIOD} * {SLIDE_PERIOD} + {SLIDE_PERIOD}, "
            f"t // {SLIDE_PERIOD} * {SLIDE_PERIOD} + 1, {SLIDE_PERIOD})) AS w_start "
            f"FROM {ev}) GROUP BY ALL"),
        "session_sizes": (
            f"SELECT n, COUNT(*) AS sessions FROM (SELECT user_id, sid, COUNT(*) AS n FROM "
            f"(SELECT user_id, SUM(new) OVER (PARTITION BY user_id ORDER BY t "
            f"ROWS UNBOUNDED PRECEDING) AS sid FROM (SELECT user_id, t, CASE WHEN "
            f"t - lag(t) OVER (PARTITION BY user_id ORDER BY t) < {SESSION_GAP} "
            f"THEN 0 ELSE 1 END AS new FROM {ev})) GROUP BY ALL) GROUP BY n"),
        "user_totals": totals,
        "top_users": (
            f"SELECT country, user_id, spend FROM (SELECT u.country, tt.user_id, tt.spend, "
            f"row_number() OVER (PARTITION BY u.country ORDER BY tt.spend DESC, "
            f"tt.user_id) AS rn FROM ({totals}) tt JOIN {users} u USING (user_id)) "
            f"WHERE rn <= {TOP_K}"),
        "sql_tumble": (
            f"SELECT event_type, t // {HOUR} * {HOUR} AS w_start, COUNT(*) AS n, "
            f"SUM(amount_cents)::BIGINT AS spend FROM {ev} GROUP BY ALL"),
    }


def check(con, out_dir: str, ref_tables: dict) -> list[str]:
    """Names of outputs that differ from the reference."""
    return [name for name in OUTPUTS
            if reference.mismatch(con, ref_tables[name], os.path.join(out_dir, name))]


#: spans summed per iteration into the per-layer metrics
LAYER_SPANS = ["iteration", "pcollection.build", "sql.expand", "sources.read",
               "sources.write", "operators.window", "operators.group",
               "operators.join", "operators.sort", "sql.exec"]


#: per-layer metrics this workload produces
LAYERS = ["trace.iteration_ms_p50", "pcollection.build_ms", "sql.expand_ms",
          "sources.read_s", "sources.write_s", "sources.bytes_written",
          "operators.window_s", "operators.group_s", "operators.join_s",
          "operators.sort_s", "sql.exec_s", "spark.jobs", "spark.stages", "spark.tasks",
          "spark.tasks_failed", "spark.shuffle_write_bytes", "spark.spill_bytes",
          "spark.gc_s", "spark.executor_cpu_s"]


def run(ctx) -> dict:
    inp = os.path.join(ctx.work, "in")
    info = ctx.gen("tables", "--workload", "batch_native", "--out", inp)
    con = reference.connect()
    refs = reference.materialize(con, reference_sql(inp), "bn")
    written = []

    def iterate(out_dir):
        iteration(ctx.spark, inp, out_dir, ctx.tr)
        written.append(common.dir_bytes(out_dir))

    loop = common.closed_loop(ctx, iterate, lambda d: check(con, d, refs), LAYER_SPANS)
    con.close()
    times, sp = loop["times"], loop["spans"]
    rows = info["events"]
    e2e, note = common.closed_loop_e2e(times, rows)
    layers = {
        "trace.iteration_ms_p50": 1000 * sp["iteration"],
        "pcollection.build_ms": 1000 * sp["pcollection.build"],
        "sql.expand_ms": 1000 * sp["sql.expand"],
        "sources.bytes_written": common.median(written),
        **{f"{n}_s": sp[n] for n in ("sources.read", "sources.write",
                                     "operators.window", "operators.group",
                                     "operators.join", "operators.sort", "sql.exec")},
        **common.spark_layers(loop["counts"]),
    }
    notes = loop["notes"] + [note]
    return {"attempted": loop["attempted"], "failed": loop["failed"], "e2e": e2e,
            "layers": layers, "notes": notes}
