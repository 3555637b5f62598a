"""Seeded input generator for the benchmark.

Every input the benchmark feeds to ``beam_spark`` comes from here, and
only from here: the same ``--seed`` gives the same rows (the stream's
creation stamps and event times follow the wall clock). The program
under test receives only the files this module writes. Side
files for the checks (the open-loop manifest) go outside the directory
the program reads.

Modes (each a single-threaded process):

  python3 perfbench/gen.py tables   --workload W --seed N --out DIR
  python3 perfbench/gen.py backlog  --seed N --out DIR --manifest FILE
  python3 perfbench/gen.py openloop --seed N --out DIR --manifest FILE
                                    --rate R --seconds S --start-at T [--first-id I]

Event time is written as a UTC-instant ``TIMESTAMP`` (parquet
``isAdjustedToUTC=true``), because that is what event sources carry.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["view", "click", "purchase", "refund"]
COUNTRIES = ["us", "de", "in", "br", "jp", "fr", "gb", "ng", "id", "mx"]
#: event time of the bounded tables starts here (2026-01-05 00:00 UTC)
BATCH_T0_US = 1_767_571_200 * 1_000_000
DAY_US = 86_400 * 1_000_000

#: Per-workload input properties, each with the reason it was chosen.
PROFILES = {
    "batch_native": {
        "events": 100_000, "users": 20_000, "zipf_s": 1.1, "days": 7,
        "files": 8, "mix": [0.70, 0.20, 0.08, 0.02],
        "why": {
            "events": "100k rows: one cold iteration takes ~20 s on 4 cores, "
                      "mostly code generation and per-job cost, which fits "
                      "the run budget; more rows barely changed it",
            "users": "20k users: hourly per-user windows give ~80k groups "
                     "and sessions ~90k, so every shuffle moves real data",
            "zipf_s": "zipf 1.1 puts 39% of events on the hottest 10 users "
                      "(15% on one), so shuffle partitions are skewed as in "
                      "real click streams",
            "mix": "70/20/8/2 view/click/purchase/refund; the 2% refunds "
                   "are what the Filter removes",
            "files": "8 parquet files so the scan is parallel",
        },
    },
    "python_udf": {
        "events": 20_000, "users": 200, "zipf_s": 1.1, "days": 7,
        "files": 4, "mix": [0.70, 0.20, 0.08, 0.02],
        "backlog_files": 2,
        "why": {
            "events": "20k rows: every row crosses the Arrow/pandas/row-dict "
                      "boundary several times per iteration; one cold "
                      "iteration takes ~16 s on 4 cores",
            "users": "200 users, so each per-key Python group holds ~100 "
                     "rows and per-element cost is not swamped by the "
                     "per-group cost (~5 ms a group on 4 cores)",
            "zipf_s": "same skew as batch_native (same generator)",
            "mix": "same mix; purchases and refunds are the tagged "
                   "outputs of the DoFn",
            "backlog_files": "2 files read one per trigger, so pickled "
                             "per-key state crosses a micro-batch boundary; "
                             "each stateful micro-batch costs ~6 s here",
        },
    },
    "stream_open_loop": {
        "users": 20_000, "zipf_s": 1.1, "mix": [0.70, 0.20, 0.08, 0.02],
        "ooo_share": 0.20, "late_share": 0.02,
        "window_s": 10, "lateness_s": 5, "late_extra_s": 60,
        "backlog_events": 160_000, "backlog_files": 8,
        "backlog_file_event_s": 2.0, "interval_s": 0.25,
        "why": {
            "users": "20k users: each 10 s window touches a few thousand "
                     "keys, so the state store holds tens of thousands "
                     "of (user, window) rows",
            "ooo_share": "20% of events arrive out of order within the "
                         "5 s allowed lateness; they must be counted",
            "late_share": "2% of the open-loop events arrive 75-85 s late, "
                          "beyond lateness + window, so the watermark must "
                          "drop exactly them",
            "late_extra_s": "60 s: the open loop's first batches filter late "
                            "rows by the watermark the catch-up left, which "
                            "trails the wall clock by ~30 s",
            "backlog_events": "160k events in 8 files, drained in one "
                              "micro-batch (each costs seconds of fixed "
                              "overhead on 4 cores). The backlog has no late "
                              "events: Spark filters late rows by the "
                              "previous batch's watermark, which the first "
                              "batches do not have yet",
            "interval_s": "one file every 250 ms: the source is polled, "
                          "not flooded with tiny files",
        },
    },
}


def _zipf_users(rng: np.random.Generator, n: int, users: int, s: float) -> np.ndarray:
    """Bounded zipf over ``users`` ids; ranks are shuffled to ids so the
    hottest user is not id 0."""
    p = 1.0 / np.arange(1, users + 1, dtype=np.float64) ** s
    p /= p.sum()
    ranks = rng.choice(users, size=n, p=p)
    perm = rng.permutation(users)
    return perm[ranks].astype(np.int64)


def _types(rng: np.random.Generator, n: int, mix) -> np.ndarray:
    return rng.choice(len(EVENT_TYPES), size=n, p=np.asarray(mix))


def _amounts(rng: np.random.Generator, types: np.ndarray) -> np.ndarray:
    # integer cents keep every aggregate exact in both engines
    amt = rng.integers(1, 2_000, size=len(types), dtype=np.int64)
    return np.where(types >= 2, amt * 10, amt)


def _event_table(ids, users, ts_us, types, amounts, created_ms=None) -> pa.Table:
    cols = {
        "event_id": pa.array(ids, pa.int64()),
        "user_id": pa.array(users, pa.int64()),
        "ts": pa.array(ts_us, pa.timestamp("us", tz="UTC")),
        "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[types], pa.string()),
        "amount_cents": pa.array(amounts, pa.int64()),
    }
    if created_ms is not None:
        cols["created_ms"] = pa.array(created_ms, pa.int64())
    return pa.table(cols)


def _write_atomic(table: pa.Table, path: str, tmp_dir: str, mtime_ns: int | None = None) -> None:
    """Write under a temporary name outside the watched directory, then
    rename into place, so no reader sees a partial file."""
    tmp = os.path.join(tmp_dir, "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    if mtime_ns is not None:
        os.utime(tmp, ns=(mtime_ns, mtime_ns))
    os.rename(tmp, path)


def write_tables(workload: str, seed: int, out: str) -> dict:
    """Bounded inputs: ``events/`` (parquet parts), ``users/`` and, for
    python_udf, ``points/`` and ``backlog/``. Returns a summary."""
    prof = PROFILES[workload]
    rng = np.random.default_rng(seed)
    n, nu = prof["events"], prof["users"]
    users = _zipf_users(rng, n, nu, prof["zipf_s"])
    types = _types(rng, n, prof["mix"])
    amounts = _amounts(rng, types)
    ts = BATCH_T0_US + rng.integers(0, prof["days"] * DAY_US // 1_000_000, size=n) * 1_000_000
    events = _event_table(np.arange(n, dtype=np.int64), users, ts, types, amounts)
    users_tab = pa.table({
        "user_id": pa.array(np.arange(nu, dtype=np.int64), pa.int64()),
        "country": pa.array(np.asarray(COUNTRIES, dtype=object)[rng.integers(0, len(COUNTRIES), nu)],
                            pa.string()),
        "tier": pa.array(rng.integers(0, 3, nu), pa.int32()),
    })
    _write_set(workload, events, users_tab, out)
    return {"events": n, "users": nu}


def _write_set(workload: str, events: pa.Table, users_tab: pa.Table, out: str) -> None:
    prof = PROFILES[workload]
    n = events.num_rows

    def put(name, table, parts=1):
        d = os.path.join(out, name)
        os.makedirs(d, exist_ok=True)
        step = -(-table.num_rows // parts)
        for i in range(parts):
            pq.write_table(table.slice(i * step, step), os.path.join(d, f"part-{i:03d}.parquet"))

    put("events", events, prof["files"])
    put("users", users_tab)
    if workload != "python_udf":
        return
    put("points", pa.table({"event_type": pa.array(EVENT_TYPES, pa.string()),
                            "points": pa.array([1, 3, 25, -25], pa.int64())}))
    bdir = os.path.join(out, "backlog")
    os.makedirs(bdir, exist_ok=True)
    nb = prof["backlog_files"]
    bstep = -(-n // nb)
    # the streaming input is the same events in event-time order
    ts = events.column("ts").to_numpy()
    by_time = events.take(pa.array(np.argsort(ts, kind="stable")))
    base_ns = time.time_ns() - nb * 1_000_000_000
    for i in range(nb):
        _write_atomic(by_time.slice(i * bstep, bstep), os.path.join(bdir, f"b-{i:03d}.parquet"),
                      out, mtime_ns=base_ns + i * 1_000_000_000)


def _stream_events(rng, prof, n, first_id, created_ms, allow_late):
    """Events with creation stamps; event time is the creation time,
    moved back for the out-of-order and late shares."""
    users = _zipf_users(rng, n, prof["users"], prof["zipf_s"])
    types = _types(rng, n, prof["mix"])
    amounts = _amounts(rng, types)
    lat_ms = prof["lateness_s"] * 1000
    delay = np.zeros(n, dtype=np.int64)
    u = rng.random(n)
    ooo = u < prof["ooo_share"]
    # out of order, but within half the allowed lateness: never dropped
    delay[ooo] = rng.integers(1, lat_ms // 2, size=int(ooo.sum()))
    late = (u >= prof["ooo_share"]) & (u < prof["ooo_share"] + prof["late_share"]) & allow_late
    late_min = lat_ms + prof["window_s"] * 1000 + prof["late_extra_s"] * 1000
    delay[late] = late_min + rng.integers(0, 10_000, size=int(late.sum()))
    ts_us = (created_ms - delay) * 1000
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return _event_table(ids, users, ts_us, types, amounts, created_ms), int(late.sum())


def write_backlog(seed: int, out: str, manifest: str) -> dict:
    """Catch-up backlog for stream_open_loop: event time advances a fixed
    step per file; out-of-order events but no late ones."""
    prof = PROFILES["stream_open_loop"]
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    nf, total = prof["backlog_files"], prof["backlog_events"]
    per = total // nf
    step_ms = int(prof["backlog_file_event_s"] * 1000)
    # the backlog ends a few seconds before now, as for a consumer that
    # fell behind; its watermark carries over into the open loop
    base_ms = time.time_ns() // 1_000_000 - nf * step_ms - 5_000
    late_total = 0
    base_ns = time.time_ns() - nf * 1_000_000_000
    tmp_dir = os.path.dirname(os.path.abspath(manifest))
    for i in range(nf):
        created = base_ms + i * step_ms + np.sort(rng.integers(0, step_ms, size=per))
        tab, late = _stream_events(rng, prof, per, i * per, created, allow_late=False)
        late_total += late
        _write_atomic(tab, os.path.join(out, f"e-{i:05d}.parquet"), tmp_dir,
                      mtime_ns=base_ns + i * 1_000_000_000)
    info = {"events": per * nf, "late": late_total, "files": nf}
    with open(manifest, "w") as f:
        json.dump(info, f)
    return info


def run_open_loop(seed: int, out: str, manifest: str, rate: int, seconds: float,
                  start_at: float, first_id: int = 0) -> dict:
    """Write one file every ``interval_s`` from ``start_at`` on, whatever
    the reader does. Events of file k are created uniformly over the
    interval that ends at its due time; the generator precomputes the
    next file while it waits, and records how late each write landed."""
    prof = PROFILES["stream_open_loop"]
    rng = np.random.default_rng(seed + 1_000_003)
    os.makedirs(out, exist_ok=True)
    tmp_dir = os.path.dirname(os.path.abspath(manifest))
    interval = prof["interval_s"]
    per = max(1, int(round(rate * interval)))
    n_files = int(round(seconds / interval))
    files, late_total, last_mtime = [], 0, 0
    for k in range(n_files):
        due = start_at + (k + 1) * interval
        due_ms = int(due * 1000)
        span_ms = int(interval * 1000)
        created = due_ms - span_ms + np.sort(rng.integers(0, span_ms, size=per))
        tab, late = _stream_events(rng, prof, per, first_id + k * per, created, True)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        mtime = max(last_mtime + 1_000_000, time.time_ns())
        _write_atomic(tab, os.path.join(out, f"o-{k:06d}.parquet"), tmp_dir, mtime_ns=mtime)
        last_mtime = mtime
        written = time.time()
        late_total += late
        files.append({"due": due, "written": written, "rows": per})
    info = {"events": per * n_files, "late": late_total, "files": n_files,
            "rows_per_file": per, "rate": rate, "interval_s": interval,
            "gen_late_ms_max": max((f["written"] - f["due"]) * 1000 for f in files),
            "schedule": files}
    with open(manifest + ".tmp", "w") as f:
        json.dump(info, f)
    os.rename(manifest + ".tmp", manifest)
    return info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=["tables", "backlog", "openloop"])
    ap.add_argument("--workload", default="stream_open_loop", choices=sorted(PROFILES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--manifest")
    ap.add_argument("--rate", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--start-at", type=float)
    ap.add_argument("--first-id", type=int, default=0)
    a = ap.parse_args(argv)
    if a.mode == "tables":
        info = write_tables(a.workload, a.seed, a.out)
    elif a.mode == "backlog":
        info = write_backlog(a.seed, a.out, a.manifest)
    else:
        info = run_open_loop(a.seed, a.out, a.manifest, a.rate, a.seconds, a.start_at,
                             a.first_id)
    print(json.dumps({k: v for k, v in info.items() if k != "schedule"}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
