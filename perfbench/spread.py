#!/usr/bin/env python3
"""Run one workload several times with different seeds and print, per
end-to-end metric, the median and the quartile spread (Q3 - Q1) / median.

    python3 perfbench/spread.py --workload daily --runs 10 [--first-seed 1]

Run from the repository root. The bound each spread is compared against is
the metric's `bound` in BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values, fails = {}, 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                              "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                              "--trace", "0"],
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=True)
        detail, r = (json.loads(l) for l in out.stdout.strip().splitlines()[-2:])
        fails += r["failed"]
        for k, v in r["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
              + f" steal={detail.get('host_steal_share') or 0:.3f}", flush=True)
    print(f"{a.workload}: {a.runs} runs, failed ops {fails}")
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else f" bound {b} ({'ok' if spread < b / 3 else 'WIDE'})"
        print(f"  {k}: median {med:.5g} spread {spread:.4f}{flag}")


if __name__ == "__main__":
    main()
