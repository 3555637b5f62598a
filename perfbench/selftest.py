"""Tiny self-test of the benchmark.

    python3 perfbench/selftest.py

1. Every metric in BENCHMARK.json is produced: end-to-end metrics by
   ``run.py`` with the same unit, per-layer metrics by some workload.
2. The reference checks pass on a correct output and catch a perturbed
   one, for every workload (DuckDB only, on generated inputs).
3. One short run of ``run.py`` in each mode prints every metric of that
   mode with its unit, and a last JSON line with the contract's keys.

Exits non-zero on the first failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import batch_native, gen, python_udf, reference, run, stream_open_loop  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def check_names(spec: dict) -> None:
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert e2e == run.END_TO_END, (e2e, run.END_TO_END)
    layers = {m["name"] for m in spec["per_layer"]}
    produced = {"session.start_s"}
    for mod in (batch_native, python_udf, stream_open_loop):
        assert set(mod.LAYERS) <= layers, set(mod.LAYERS) - layers
        produced |= set(mod.LAYERS)
    assert produced == layers, layers - produced
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def _copy_as_output(con, table: str, out_dir: str, perturb: bool) -> None:
    """Write a reference table as if the program had produced it; with
    ``perturb`` the first row's last column is off by one."""
    os.makedirs(out_dir, exist_ok=True)
    cols = [r[0] for r in con.execute(f"DESCRIBE {table}").fetchall()]
    last = cols[-1]
    sel = ", ".join(cols[:-1] + [
        f"CASE WHEN rn = 1 THEN {last} + 1 ELSE {last} END AS {last}" if perturb else last])
    con.execute(f"COPY (SELECT {sel} FROM (SELECT *, row_number() OVER () AS rn FROM {table})) "
                f"TO '{out_dir}/part-0.parquet' (FORMAT PARQUET)")


def check_references(tmp: str) -> None:
    con = reference.connect()
    for name, mod in (("batch_native", batch_native), ("python_udf", python_udf)):
        inp = os.path.join(tmp, name, "in")
        gen.write_tables(name, 7, inp)
        refs = reference.materialize(con, mod.reference_sql(inp), name)
        for perturb in (False, True):
            out = os.path.join(tmp, name, f"out-{perturb}")
            for o in mod.OUTPUTS:
                _copy_as_output(con, refs[o], os.path.join(out, o), perturb)
            bad = mod.check(con, out, refs)
            assert bad == (mod.OUTPUTS if perturb else []), (name, perturb, bad)
    # python_udf's streaming sink: the reference totals as one batch
    refs = reference.materialize(
        con, python_udf.reference_sql(os.path.join(tmp, "python_udf", "in")), "pus")
    for perturb in (False, True):
        out = os.path.join(tmp, "python_udf", f"stream-{perturb}")
        _copy_as_output(con, refs["stream_totals"],
                        os.path.join(out, "stream_totals", "batch=0"), perturb)
        bad = python_udf.check_stream(con, out, refs)
        assert bad == (["stream_totals"] if perturb else []), (perturb, bad)
    # stream: the final aggregates of the on-time events, as one batch
    inp = os.path.join(tmp, "stream", "in")
    info = gen.write_backlog(7, inp, os.path.join(tmp, "stream", "backlog.json"))
    w_ms = 1000 * stream_open_loop.WINDOW_S
    con.execute(
        f"CREATE TABLE st_good AS SELECT user_id, epoch_ms(ts) // {w_ms} * "
        f"{stream_open_loop.WINDOW_S} AS w_start, COUNT(*) AS n, "
        f"SUM(amount_cents)::BIGINT AS spend, MAX(created_ms) AS max_created "
        f"FROM read_parquet('{inp}/*.parquet') GROUP BY ALL")
    for perturb in (False, True):
        out = os.path.join(tmp, "stream", f"out-{perturb}")
        _copy_as_output(con, "st_good", os.path.join(out, "batch=0"), perturb)
        bad, dropped = stream_open_loop.check(con, inp, out, info["late"])
        assert dropped == 0 and len(bad) == int(perturb), (perturb, bad)
    bad, _ = stream_open_loop.check(con, inp, os.path.join(tmp, "stream", "out-False"), 5)
    assert len(bad) == 1 and "dropped" in bad[0], bad
    con.close()


def check_run(spec: dict, workload: str, trace: int) -> None:
    """One short run prints every metric of its mode with its unit."""
    res = subprocess.run([sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
                          "--workload", workload, "--seed", "7", "--seconds", "1",
                          "--trace", str(trace)],
                         cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    lines = res.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}, last
    assert last["correct"] and last["attempted"] >= 1, last
    want = spec["per_layer"] if trace else spec["end_to_end"]
    for m in want:
        got = last["metrics"][m["name"]]
        assert got["unit"] == m["unit"], (m, got)
        assert any(ln.startswith(f"# {m['name']} = ") and ln.endswith(f" {m['unit']}")
                   for ln in lines), m["name"]
    assert set(last["metrics"]) == {m["name"] for m in want}


def main() -> int:
    spec = _spec()
    check_names(spec)
    print("names and units: ok")
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".bench_work_selftest_") as tmp:
        check_references(tmp)
    print("reference checks catch a perturbed output: ok")
    check_run(spec, "batch_native", 0)
    check_run(spec, "stream_open_loop", 1)
    print("a run in each mode prints every metric with its unit: ok")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
