#!/usr/bin/env python3
"""Steadiness check: run one workload k times, each with its own seed, and
print each metric's median, quartiles and spread (quartile distance as a
share of the median), next to the bound BENCHMARK.json gives it.

    python3 storebench/steady.py --workload paper_parquet --runs 10 [--first-seed 1]

Run from the root of a checkout. Quartiles are Python's
statistics.quantiles(values, n=4). A metric whose spread exceeds a third of
its bound is flagged; setup_s is compared on its median only, so its spread
is shown but not flagged.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, shares, walls = {}, set(), []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        out = subprocess.run(
            bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                "--seconds", str(bench["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.exit(f"seed {seed}: exit {out.returncode}")
        r = json.loads(lines[-1])
        shares.add((r["failed"], r["attempted"]) if r["failed"] else 0)
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s wall, attempted {r['attempted']}, "
              f"failed {r['failed']}, " + ", ".join(
                  f"{k} {m['value']:.4g}" for k, m in r["metrics"].items()), file=sys.stderr)

    print(f"{a.workload}: {a.runs} runs, wall median {statistics.median(walls):.1f} s, "
          f"failed shares {sorted(shares)}")
    print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k, v in values.items():
        q1, med, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = " <-- over bound/3" if b and k != "setup_s" and spread > b / 3 else ""
        print(f"{k:32} {med:12.4f} {q1:12.4f} {q3:12.4f} {spread:8.3f} "
              f"{b if b is not None else '':>6}{flag}")


if __name__ == "__main__":
    main()
