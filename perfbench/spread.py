#!/usr/bin/env python3
"""Run one workload on several seeds and report each end-to-end metric's
median and quartile spread (Q3 - Q1 as a share of the median), the
steadiness figure the benchmark's bounds are judged against.

    python3 perfbench/spread.py --workload refresh_and_query --seeds 101-110

Runs go through perfbench/run.py with BENCHMARK.json's run_seconds, one
after another. Each run's JSON line is echoed as it finishes.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="101-110", help="inclusive range, e.g. 101-110")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    lo, hi = (int(x) for x in a.seeds.split("-"))
    runner = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
    values = {}
    for seed in range(lo, hi + 1):
        r = subprocess.run([sys.executable, runner, "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                           stdout=subprocess.PIPE, text=True)
        line = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        print(line, flush=True)
        if r.returncode != 0 or not line:
            sys.exit(f"seed {seed} failed")
        res = json.loads(line)
        if not res["correct"]:
            sys.exit(f"seed {seed}: correctness gate failed")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, vs in values.items():
        q1, _, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        print(f"{k}: median {med:.4g}  spread {(q3 - q1) / med:.3f}  bound {bounds.get(k)}")


if __name__ == "__main__":
    main()
