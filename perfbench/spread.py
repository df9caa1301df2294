#!/usr/bin/env python3
"""Run one workload over several seeds and report, per end-to-end metric,
the median and the interquartile range as a share of the median (the
steadiness the bounds in BENCHMARK.json are checked against).

    python3 perfbench/spread.py --workload live_ticks --seeds 1-10
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    a, _, b = spec.partition("-")
    return list(range(int(a), int(b or a) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    values, walls = {}, []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(spec["run_seconds"]),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        walls.append(time.monotonic() - t0)
        if r.returncode != 0:
            print(f"seed {s}: exit {r.returncode}\n{r.stderr[-2000:]}")
            continue
        out = r.stdout.strip().splitlines()
        res = json.loads(out[-1])
        host = next((x for x in out if x.startswith("host ")), "")
        print(f"seed {s}: correct={res['correct']} failed={res['failed']} wall={walls[-1]:.1f}s "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
              + f" [{host}]", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        # the metrics printed for people, not gated, for comparison
        for x in out[:-1]:
            f = x.split()
            if f[0] == "metric" and f[1] not in res["metrics"]:
                values.setdefault(f[1], []).append(float(f[2]))
            elif x.startswith("live open-loop "):
                slope = float(x.split("backlog slope ")[1].split()[0])
                values.setdefault("backlog_slope_eps", []).append(slope)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    for k, xs in values.items():
        med = statistics.median(xs)
        if len(xs) >= 2 and med:
            q1, _, q3 = statistics.quantiles(xs, n=4)
            print(f"{k:<20} median {med:12.6g}  iqr/median {(q3 - q1) / abs(med):.4f}  "
                  f"bound {bounds.get(k)}")
    print(f"run wall: median {statistics.median(walls):.1f}s max {max(walls):.1f}s")


if __name__ == "__main__":
    main()
