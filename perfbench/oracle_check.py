#!/usr/bin/env python3
"""Confirm recorded registry results against the DuckDB oracle.

    python3 perfbench/record.py --sf 0.1 --dump DUMP
    python3 perfbench/oracle_check.py .bench_build/data/sf0.1 DUMP

record.py fingerprints the same Spark results it dumps, so every row that
passes here has a committed fingerprint the oracle agrees with. Each dumped
row is compared with its oracle SQL run by DuckDB over the generated
tables: columns sorted by name, rows sorted, values exact. An oracle query
that runs longer than --limit seconds is interrupted and its row reported
as unconfirmed (all-pairs similarity oracles are quadratic in the corpus).
"""
import argparse
import json
import os
import sys
import threading

import duckdb
import pandas as pd


def main(data, dump, limit):
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"]:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet/*.parquet'" % (t, data, t))
    oracle = json.load(open(os.path.join(dump, "oracle_sql.json")))
    names = sorted(n for n in os.listdir(dump) if os.path.isdir(os.path.join(dump, n)))
    fail = unconfirmed = 0
    for name in names:
        a = con.execute("SELECT * FROM '%s/%s/*.parquet'" % (dump, name)).fetchdf()
        timer = threading.Timer(limit, con.interrupt)
        timer.start()
        try:
            b = con.execute(oracle[name]).fetchdf()
        except duckdb.InterruptException:
            print("n/a  %s: oracle did not finish in %ds" % (name, limit), flush=True)
            unconfirmed += 1
            continue
        finally:
            timer.cancel()
        a = a.reindex(sorted(a.columns), axis=1)
        b = b.reindex(sorted(b.columns), axis=1)
        ok = list(a.columns) == list(b.columns) and len(a) == len(b)
        if ok:
            for df in (a, b):
                for c in df.columns:
                    if df[c].dtype == object:
                        df[c] = df[c].map(lambda x: tuple(x.tolist()) if hasattr(x, "tolist")
                                          and not isinstance(x, (str, bytes)) else x)
            a = a.sort_values(list(a.columns)).reset_index(drop=True)
            b = b.sort_values(list(b.columns)).reset_index(drop=True)
            try:
                pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            except AssertionError as e:
                ok = False
                print("   ", str(e).split("\n")[0])
        print("%s %s: %d rows" % ("ok  " if ok else "FAIL", name, len(a)))
        fail += not ok
    print("%d of %d rows agree with the oracle, %d disagree, %d unconfirmed"
          % (len(names) - fail - unconfirmed, len(names), fail, unconfirmed))
    return 1 if fail else 0


if __name__ == "__main__":
    p = argparse.ArgumentParser()
    p.add_argument("data")
    p.add_argument("dump")
    p.add_argument("--limit", type=int, default=60, help="seconds per oracle query")
    a = p.parse_args()
    sys.exit(main(a.data, a.dump, a.limit))
