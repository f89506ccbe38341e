#!/usr/bin/env python3
"""Smoke test of the benchmark itself on sf0.001 inputs.

    python3 perfbench/smoke.py

Runs one pass of every workload (the timed ones and the two full registry
workloads) with one set-up, untraced, then the first workload once traced,
and fails unless every output check passes and every metric BENCHMARK.json
names is reported. Takes about five minutes on 4 cores.
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def main():
    spec = json.load(open(os.path.join(run.ROOT, "BENCHMARK.json")))
    timed = [w["name"] for w in spec["workloads"]]
    plan = [(w, 0) for w in timed + [w for w in run.WORKLOADS if w not in timed]]
    plan.append((timed[0], 1))
    failures = []
    for w, trace in plan:
        ns = run.parser().parse_args(["--workload", w, "--seed", "7", "--seconds", "1",
                                      "--trace", str(trace), "--sf", "0.001"])
        try:
            r = run.run(ns, deadline_s=600)
        except SystemExit as e:
            failures.append("%s: %s" % (w, e))
            continue
        want = {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}
        missing = want - set(r["metrics"])
        ok = r["failed"] == 0 and not missing
        print("%s %-14s trace=%d ops=%d failed=%d%s" % ("ok  " if ok else "FAIL", w, trace,
              r["attempted"], r["failed"], " missing=%s" % sorted(missing) if missing else ""),
              flush=True)
        if not ok:
            failures.append(w)
    print("smoke: %s" % ("ALL PASS" if not failures else "FAILED " + ", ".join(failures)))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
