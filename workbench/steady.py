#!/usr/bin/env python3
"""Steadiness report: two sets of N runs of one workload, interleaved.

    python3 workbench/steady.py --workload <name> [--runs 10]

Run from the root of a checkout. Set A and set B each run seeds 1..N
with BENCHMARK.json's run_seconds, untraced, in the order A1 B1 A2 B2
..., so that a machine whose speed drifts slows both sets alike. For
every metric it prints, per set, the median, the quartiles (Python's
statistics.quantiles(values, n=4)), the interquartile spread
(q3 - q1) / median and the full spread (max - min) / median; then the
change of set B's median against set A's, next to the metric's bound.
Last, it sets the metrics that were unsteady in the first benchmark
attempt next to the spreads measured here.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

# The first benchmark attempt ran the same program on both sides, yet its
# medians moved by these shares; the metric here that replaces each one.
EARLIER_DRIFT = [
    ("olap_reads/serve_p50_s", 0.189, "mv_dashboard", "read_mean_s"),
    ("tx_matview/read_p50_s", 0.121, "mv_dashboard", "read_mean_s"),
    ("tx_matview/ops_per_s", 0.095, "mv_dashboard", "ops_per_s"),
    ("olap_reads/refresh_p50_s", 0.065, "mv_dashboard", "bulk_mean_s"),
]


def run_once(workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        sys.exit(f"run with seed {seed} failed (exit {proc.returncode})")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def spread(xs):
    med = statistics.median(xs)
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3, (q3 - q1) / med, (max(xs) - min(xs)) / med


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    metrics = spec["end_to_end"]

    sets = {"A": [], "B": []}
    for seed in range(1, args.runs + 1):
        for name, results in sets.items():
            r = run_once(args.workload, seed, spec["run_seconds"])
            results.append(r)
            values = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"set {name} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']} {values}", flush=True)

    print(f"\n{'metric':14} set {'median':>10} {'q1':>10} {'q3':>10} {'iqr/med':>8} "
          f"{'rng/med':>8}")
    iqr = {}
    for m in metrics:
        for name, results in sets.items():
            med, q1, q3, iqr[name, m["name"]], rng = spread(
                [r["metrics"][m["name"]]["value"] for r in results])
            print(f"{m['name']:14} {name:>3} {med:10.5g} {q1:10.5g} {q3:10.5g} "
                  f"{iqr[name, m['name']]:8.3f} {rng:8.3f}")

    print(f"\n{'metric':14} {'B vs A median':>14} {'worse by':>9} {'bound':>6}")
    for m in metrics:
        a, b = (statistics.median(r["metrics"][m["name"]]["value"] for r in sets[s])
                for s in "AB")
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        print(f"{m['name']:14} {b / a - 1:+14.3f} {max(worse, 0):9.3f} {m['bound']:6}")

    drift = [d for d in EARLIER_DRIFT if d[2] == args.workload]
    if drift:
        print(f"\n{'first attempt: same-code drift':36} {'':>7}  {'here':14} "
              f"{'iqr/med A':>9} {'iqr/med B':>9}")
        for old, moved, _, new in drift:
            print(f"{old:36} {moved:7.1%}  {new:14} {iqr['A', new]:9.3f} {iqr['B', new]:9.3f}")


if __name__ == "__main__":
    main()
