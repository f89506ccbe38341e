#!/usr/bin/env python3
"""Re-record the committed result fingerprints.

    python3 perfbench/record.py --sf 0.1 [--dump DIR]
    python3 perfbench/record.py --sf 0.001

Runs every fingerprinted workload (sql_core, curation_full, medallion_elt)
twice, with two seeds, into perfbench/fingerprints/sf<SF>.json; a key whose
fingerprint differs between the two runs aborts the recording. With --dump,
the results of registry rows that carry oracle SQL are also written as
parquet under DIR (with DIR/oracle_sql.json) for oracle_check.py.
Only re-record after checking that the engine's results are right.
"""
import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

WORKLOADS = ["sql_core", "curation_full", "medallion_elt"]

if __name__ == "__main__":
    p = argparse.ArgumentParser()
    p.add_argument("--sf", type=float, default=0.1)
    p.add_argument("--dump", help="directory for oracle-row results")
    a = p.parse_args()
    out = os.path.join(run.BENCH, "fingerprints", "sf%s.json" % run.fmt_sf(a.sf))
    if os.path.exists(out):
        os.remove(out)
    for seed in (1, 2):
        for w in WORKLOADS:
            ns = run.parser().parse_args(["--workload", w, "--seed", str(seed), "--seconds", "1",
                                          "--sf", str(a.sf)])
            extra = ["--record", out]
            if a.dump and seed == 1 and w != "medallion_elt":
                extra += ["--dump", os.path.abspath(a.dump)]
            r = run.run(ns, extra, deadline_s=1200)
            run.log("recorded %s seed %d: %d ops, %d failed" % (w, seed, r["attempted"], r["failed"]))
            if r["failed"]:
                raise SystemExit("perfbench: %s had failing ops; nothing recorded is trustworthy" % w)
    print(out)
