#!/usr/bin/env python3
"""Run one workload k times, each with another seed, and print every metric's
median, quartiles and spread (quartile distance over the median), the figures
the bounds in BENCHMARK.json are set from.

    python3 perfbench/steady.py --workload <name> [--runs 10] [--first-seed 1]

Run from the root of the source tree, like run.py. Each run measures
BENCHMARK.json's run_seconds; a spread above a third of the metric's bound
there is flagged.
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
    args = ap.parse_args()
    spec = json.load(open("BENCHMARK.json"))
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}

    runs = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload",
                            args.workload, "--seed", str(seed), "--seconds", str(seconds),
                            "--trace", "0"], stdout=subprocess.PIPE, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed}: run.py exited with {p.returncode}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append(res)
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
              f"failed={res['failed']} " + " ".join(
                  f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), file=sys.stderr)

    print(f"{args.workload}: {len(runs)} runs, {seconds} s each")
    print(f"{'metric':30s} {'unit':>6s} {'q1':>12s} {'median':>12s} {'q3':>12s} "
          f"{'spread':>7s} {'bound':>6s}")
    for name in runs[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds[name]
        flag = "" if spread <= b / 3 else "  > bound/3"
        print(f"{name:30s} {runs[0]['metrics'][name]['unit']:>6s} {q1:12.4f} {med:12.4f} "
              f"{q3:12.4f} {spread:7.3f} {b:>6}{flag}")
    shares = {r["failed"] / r["attempted"] for r in runs}
    print(f"failed share: {sorted(shares)}; all correct: {all(r['correct'] for r in runs)}")


if __name__ == "__main__":
    main()
