"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one workload against the public ``beam_spark`` API on
``local[<cpus>]`` from the root of a checkout, checks its output against
an independent DuckDB reference, prints every metric by name with its
unit, and ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics (and writes
the spans under ``.bench_work/traces/``). Everything the run writes stays
under ``.bench_work/`` in the current directory.
"""

import time

T_SCRIPT = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


AGE_AT_SCRIPT = _process_age_s()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

WORKLOADS = ("batch_native", "python_udf", "stream_open_loop")

#: name -> unit of every end-to-end metric, as in BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "throughput_rows_per_s": "rows/s",
    "latency_ms_p50": "ms",
    "latency_ms_p99": "ms",
    "peak_rss_mb": "MB",
}


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer, rss):
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tr, self.rss = tracer, rss
        self.traced = tracer.enabled

    def gen(self, *args: str) -> dict:
        """Run the seeded generator as its own process, outside the memory
        measurement; returns its summary."""
        cmd = [sys.executable, os.path.join(ROOT, "perfbench", "gen.py"), *args,
               "--seed", str(self.seed)]
        with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True) as proc:
            self.rss.exclude.add(proc.pid)
            out, _ = proc.communicate(timeout=120)
        if proc.returncode:
            raise subprocess.CalledProcessError(proc.returncode, cmd)
        return json.loads(out.strip().splitlines()[-1])


def _layer_units():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="beam_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    from perfbench import common

    # the workload modules import beam_spark: a tree without it fails here
    if a.workload == "batch_native":
        from perfbench import batch_native as mod
    elif a.workload == "python_udf":
        from perfbench import python_udf as mod
    else:
        from perfbench import stream_open_loop as mod

    base = os.path.abspath(".bench_work")
    work = common.fresh_dir(os.path.join(base, f"{a.workload}-s{a.seed}-{os.getpid()}"))
    tr = common.Tracer(bool(a.trace))
    try:
        with common.RssSampler() as rss:
            with tr.span("session.start"):
                spark = common.start_session(work, bool(a.trace))
            setup_s = AGE_AT_SCRIPT + (time.perf_counter() - T_SCRIPT)
            try:
                res = mod.run(Ctx(spark, work, a.seed, a.seconds, tr, rss))
            finally:
                common.stop_session(spark)
        peak_mb = rss.peak_mb
        if a.trace:
            tr.dump(os.path.join(base, "traces", f"{a.workload}-s{a.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = {"setup_s": setup_s, "peak_rss_mb": peak_mb, **res["e2e"]}
    layers = dict(res["layers"])
    layers["session.start_s"] = setup_s
    print(f"# {a.workload} seed={a.seed}: attempted={res['attempted']} "
          f"failed={res['failed']} failed_ratio={res['failed'] / res['attempted']:.6f} "
          f"(ratio)")
    for note in res.get("notes", []):
        print(f"# {note}")
    if a.trace:
        units = _layer_units()
        missing = sorted(set(mod.LAYERS) - set(layers))
        if missing:
            raise SystemExit(f"per-layer metrics not produced: {missing}")
        # layers this workload does not exercise did no work: report 0
        metrics = {k: {"value": layers.get(k, 0), "unit": units[k]} for k in units}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    for k, m in metrics.items():
        print(f"# {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
