#!/usr/bin/env python3
"""Steadiness check: run each workload repeatedly and compare two sets.

    python3 perfbench/steady.py [--runs 10] [--sets 2]

Each set runs every workload of BENCHMARK.json --runs times, each time with
another seed; seeds count up from 1.
For every end-to-end metric it prints the median, the first and third
quartiles (statistics.quantiles(n=4)), the spread (Q3 - Q1) / median, and
whether the spread is within the metric's bound in BENCHMARK.json. With
two or more sets it also prints whether each later set's median is within
the bound of the first set's median, in the metric's worse direction.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def one_run(workload, seed, seconds):
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit("%s seed %d failed with exit code %d" % (workload, seed, r.returncode))
    result = json.loads(r.stdout.strip().splitlines()[-1])
    if not result["correct"]:
        print("  %s seed %d: %d of %d operations failed" % (
            workload, seed, result["failed"], result["attempted"]))
    return {k: v["value"] for k, v in result["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ok = True
    for w in [w["name"] for w in bench["workloads"]]:
        sets = []
        for s in range(args.sets):
            seeds = range(1 + s * args.runs, 1 + (s + 1) * args.runs)
            sets.append([one_run(w, seed, bench["run_seconds"]) for seed in seeds])
        print("%s (%d runs x %d sets)" % (w, args.runs, args.sets))
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            meds = []
            for i, runs in enumerate(sets):
                vals = [r[name] for r in runs]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med if med else float("inf")
                steady = spread <= bound
                meds.append(med)
                ok &= steady
                print("  %-12s set %d  median %-10.4g Q1 %-10.4g Q3 %-10.4g spread %.3f "
                      "(bound %.2f) %s" % (name, i + 1, med, q1, q3, spread, bound,
                                           "ok" if steady else "TOO WIDE"))
            for i, med in enumerate(meds[1:], 2):
                worse = (med - meds[0]) / meds[0] if lower else (meds[0] - med) / meds[0]
                agree = worse <= bound
                ok &= agree
                print("  %-12s set %d vs 1: %+.3f worse, %s" % (
                    name, i, worse, "agree" if agree else "DISAGREE"))
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
