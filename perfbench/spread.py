#!/usr/bin/env python3
"""Runs the benchmark on one workload once per seed and reports, for each
metric, the median of the runs and their spread: the distance between
the first and third quartile as a share of the median, to compare with
the metric's bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload gates --seeds 1-10 [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    ap.add_argument("--trace", type=int, default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    lo, hi = (int(x) for x in a.seeds.split("-"))
    values = {}
    for seed in range(lo, hi + 1):
        t0 = time.time()
        p = subprocess.run(
            [*bench["command"], "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(bench["run_seconds"]), "--trace", str(a.trace)],
            cwd=os.path.dirname(HERE), capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if p.returncode != 0 or not last.startswith("{\"correct\""):
            sys.exit(f"seed {seed}: exit {p.returncode}\n{p.stderr[-3000:]}")
        res = json.loads(last)
        print(f"seed {seed}: {time.time() - t0:.0f}s correct={res['correct']} "
              f"failed={res['failed']}/{res['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}"
                       for k, v in res["metrics"].items()
                       if k in bounds or a.trace), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if a.trace and len(set(vs)) == 1:
            continue
        spread = stats.quartile_spread(vs) if len(vs) > 1 and \
            statistics.median(vs) else float("nan")
        print(f"{k:32s} median={statistics.median(vs):.5g} "
              f"spread={spread:.4f} bound={bounds.get(k)}")


if __name__ == "__main__":
    main()
