#!/usr/bin/env python3
"""Steadiness check: run one workload k times and compare spreads with bounds.

    python3 perfbench/steady.py --workload curation --runs 10 [--seed0 1000]

Each run is `perfbench/run.py` exactly as BENCHMARK.json's command gives it,
with seeds seed0, seed0+1, ...; --seconds is BENCHMARK.json's run_seconds.
For every end-to-end metric it prints the median, the quartiles (Python's
statistics.quantiles(n=4)), the spread (q3 - q1) / median and the metric's
bound. A spread above its bound makes the exit code 1, except for setup_s,
whose spread is printed and flagged but does not fail the check: set-up
time is compared between two sets of runs by its median only. A spread
above a third of its bound is flagged, since two sets of runs have to agree
within the bound.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1000)
    p.add_argument("--out", help="append every run's result line to this file")
    a = p.parse_args()
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    values = {m["name"]: [] for m in spec["end_to_end"]}
    bad_runs = 0
    for i in range(a.runs):
        seed = a.seed0 + i
        cmd = spec["command"] + ["--workload", a.workload, "--seed", str(seed),
                                 "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
        lines = r.stdout.strip().splitlines()
        if r.returncode != 0 or not lines:
            print("seed %d: run failed (exit %d)" % (seed, r.returncode), flush=True)
            bad_runs += 1
            continue
        res = json.loads(lines[-1])
        if a.out:
            with open(a.out, "a") as fh:
                fh.write(json.dumps({"workload": a.workload, "seed": seed, **res}) + "\n")
        if not res["correct"]:
            bad_runs += 1
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        print("seed %d: correct=%s %s" % (seed, res["correct"], " ".join(
            "%s=%.4g" % (k, res["metrics"][k]["value"]) for k in sorted(values))), flush=True)
    worst = 0
    print("%-14s %12s %12s %12s %8s %6s" % ("metric", "median", "q1", "q3", "spread", "bound"))
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med
        flag = ""
        if spread > m["bound"] and m["name"] == "setup_s":
            flag = "OVER (not gated)"
        elif spread > m["bound"]:
            flag, worst = "OVER", 1
        elif spread > m["bound"] / 3:
            flag = "over 1/3"
        print("%-14s %12.4f %12.4f %12.4f %8.3f %6.2f %s" % (m["name"], med, q1, q3, spread,
                                                            m["bound"], flag))
    if bad_runs:
        print("%d run(s) failed or were incorrect" % bad_runs)
    return 1 if worst or bad_runs else 0


if __name__ == "__main__":
    sys.exit(main())
