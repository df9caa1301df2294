#!/usr/bin/env python3
"""wingfoilspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload replay_small --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. It builds the library and the harness
from source (first run only), generates the workload's inputs from the
seed, runs the JVM harness (set-up, replay leg, live leg, verification),
checks every replay output against its DuckDB oracle, and prints one JSON
line last: end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import report  # noqa: E402

# Offered rate of every live leg's open-loop phase, events per second:
# about 0.16 of the drain capacity measured on live_ticks (median
# live_drain_eps about 6 400 events/s on 4 cores; README.md).
RATE = 1000.0
# The live generator sends everything due on this cadence, one source batch
# per tick.
TICK_MS = 20
CORES = os.cpu_count() or 4
DEADLINE_S = 170.0

# replay_share / open_share split --seconds between the replay leg's pass
# budget and the live leg's open-loop phase; min_warm is the least number of
# warm replay passes, whatever the budget.
WORKLOADS = {
    "replay_small": dict(
        tables="subsample",
        queries=["doc_dedup_cluster", "doc_dsir", "evt_rolling5"],
        replay_share=0.85, open_share=0.07, min_warm=2,
        live=dict(warmin=150, drain=500, drains=5)),
    "live_ticks": dict(
        tables="ticks",
        ticks=dict(n_events=40_000, n_keys=3_000, zipf_s=0.8, burst_share=0.3),
        queries=["evt_rolling5", "book_top", "aug_outlier_mad", "runmode_batch_mad"],
        replay_share=0.7, open_share=0.14, min_warm=5,
        live=dict(warmin=300, drain=3000, drains=5)),
}
MAD_WINDOW = 16


def proc_stat():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v  # user nice system idle iowait irq softirq steal ...


def make_inputs(w, seed, seconds, data_dir):
    """Generate the workload's tables. Returns the live leg's sizes."""
    open_n = int(RATE * seconds * w["open_share"])
    live = dict(w["live"], open=open_n)
    if w["tables"] == "subsample":
        gen.subsample(data_dir, seed)
    else:
        gen.ticks(data_dir, seed, files=2 * CORES, **w["ticks"])
    return live


def write_conf(path, conf):
    with open(path, "w") as f:
        for k, v in conf.items():
            f.write(f"{k}={v}\n")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject-broken", default="",
                    help="replace this query with a fast, wrong twin (tests the error path)")
    a = ap.parse_args(argv)
    t_start = time.monotonic()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.stderr.write("perfbench: run from the root of a wingfoilspark checkout "
                         "(src/main/scala not found)\n")
        return 2
    w = WORKLOADS[a.workload]
    build_dir = os.path.join(root, ".bench_build")
    classpath = build.build(root, build_dir)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir, out_dir, local_dir = (os.path.join(run_dir, d) for d in ("data", "out", "local"))
    for d in (data_dir, out_dir, local_dir):
        os.makedirs(d)
    try:
        g0 = time.perf_counter()
        live = make_inputs(w, a.seed, a.seconds, data_dir)
        gen_s = time.perf_counter() - g0
        input_digest = gen.digest(data_dir)

        conf = {
            "cores": CORES, "data": data_dir, "out": out_dir,
            "local_dir": local_dir, "trace": a.trace, "setups": 5,
            "queries": ",".join(w["queries"]), "broken": a.inject_broken,
            "replay.seconds": a.seconds * w["replay_share"],
            "replay.min_warm": w["min_warm"], "replay.max_warm": 50,
            "live.rate": RATE, "live.tick_ms": TICK_MS, "live.mad_window": MAD_WINDOW, "live.warmin": live["warmin"],
            "live.warmin_triggers": 1,
            "live.open": live["open"], "live.drain": live["drain"],
            "live.drains": live["drains"],
        }
        conf_path = os.path.join(run_dir, "harness.properties")
        write_conf(conf_path, conf)
        log_path = os.path.join(run_dir, "harness.log")
        cmd = (["java", "-Xmx3g", "-Xss8m", "-XX:ReservedCodeCacheSize=512m"] +
               build.jvm_flags(os.path.join(run_dir, "local")) +
               ["-cp", classpath, "perfbench.Harness", conf_path])
        s0 = proc_stat()
        with open(log_path, "w") as log:
            try:
                r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                   timeout=max(10.0, DEADLINE_S - (time.monotonic() - t_start)))
            except subprocess.TimeoutExpired:
                sys.stderr.write("perfbench: harness timed out\n")
                return 1
        s1 = proc_stat()
        if r.returncode != 0:
            with open(log_path) as f:
                sys.stderr.write(f.read()[-6000:])
            sys.stderr.write(f"perfbench: harness exited {r.returncode}\n")
            return 1
        with open(os.path.join(out_dir, "records.jsonl")) as f:
            recs = [json.loads(line) for line in f]

        # correctness, outside every timed region
        c0 = time.perf_counter()
        con = oracle.connect(data_dir, CORES)
        checks = []
        for v in (r for r in recs if r["k"] == "verify"):
            sql = oracle.runmode_mad_sql(MAD_WINDOW) if v["name"] == "runmode_batch_mad" else v["oracle"]
            if not sql:
                checks.append((v["name"], False, "no oracle", 0.0))
            else:
                q0 = time.perf_counter()
                ok, msg, _ = oracle.check(con, os.path.join(out_dir, "q"), v["name"], sql)
                checks.append((v["name"], ok, msg, time.perf_counter() - q0))
        con.close()
        check_s = time.perf_counter() - c0

        d = [b - x for x, b in zip(s0, s1)]
        host = dict(steal_frac=(d[7] if len(d) > 7 else 0) / max(1, sum(d)),
                    iowait_frac=d[4] / max(1, sum(d)))
        spans = []
        if a.trace:
            spans_path = os.path.join(out_dir, "spans.jsonl")
            with open(spans_path) as f:
                spans = [json.loads(line) for line in f]
            trace_dir = os.path.join(build_dir, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(spans_path, os.path.join(trace_dir, f"{a.workload}-{a.seed}.spans.jsonl"))
        result = report.summarise(recs, checks, spans, dict(
            workload=a.workload, seed=a.seed, trace=a.trace, cores=CORES, gen_s=gen_s,
            check_s=check_s, host=host, digest=input_digest))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in result["lines"]:
        print(line)
    print(json.dumps(result["json"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
