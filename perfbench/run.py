#!/usr/bin/env python3
"""Lakehouse benchmark: one closed-loop, single-client run of one workload.

    python3 perfbench/run.py --workload sql_core --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark into .bench_build/ and generates the sf0.1 input tables there.
Human-readable report lines go first; the last line of standard output is
the result: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones of BENCHMARK.json, with --trace 1 the
per-layer ones (spans go to .bench_build/traces/). See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)
import build  # noqa: E402

# BENCHMARK.json times curation and lakehouse; the others run by hand:
# store_churn and medallion_elt are lakehouse's two halves, sql_core and
# curation_full the full registry workloads, each too long for a timed run.
WORKLOADS = ["curation", "lakehouse", "store_churn", "medallion_elt", "sql_core", "curation_full"]
JVM_OPTS = [o for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for o in ("--add-opens", p + "=ALL-UNNAMED")]


def log(*a):
    print("perfbench:", *a, file=sys.stderr, flush=True)


def fmt_sf(sf):
    return ("%g" % sf)


def java(cp, tmp, args, deadline):
    """Run perfbench.Main in its own process group; kill it at the deadline."""
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", "-Duser.timezone=UTC",
           "-Djava.io.tmpdir=" + tmp, "-Dderby.system.home=" + tmp,
           "-Dperfbench.dir=" + BENCH, "-Dspark.ui.enabled=false",
           *JVM_OPTS, "-cp", cp, "perfbench.Main", *args]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            start_new_session=True)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit; stopping it")
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def ensure_data(cp, sf, deadline):
    data = os.path.join(OUT, "data", "sf" + fmt_sf(sf))
    if not os.path.exists(os.path.join(data, "_GENERATED")):
        log("generating sf%s tables" % fmt_sf(sf))
        shutil.rmtree(data, ignore_errors=True)
        tmp = os.path.join(OUT, "tmp", "gen-%d" % os.getpid())
        rc = java(cp, tmp, ["--generate", "1", "--data", data, "--sf", str(sf),
                            "--workload", "sql_core", "--seed", "0", "--seconds", "0",
                            "--out", os.path.join(tmp, "unused.json")], deadline)
        shutil.rmtree(tmp, ignore_errors=True)
        if rc != 0:
            raise SystemExit("perfbench: data generation failed")
    return data


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run(ns, extra_args=(), deadline_s=170):
    """One benchmark run; returns the parsed result file of perfbench.Main.
    Apart from a first run that builds, it is stopped after `deadline_s`."""
    start = time.time()
    cp, digest = build.build()
    # the first run in a checkout builds and generates; later ones must end
    # well inside three minutes
    built = time.time() - start > 5
    data = ensure_data(cp, ns.sf, start + 880)
    deadline = (start + 880) if built else (start + deadline_s)
    tag = "%s-%d-%s-%d" % (ns.workload, ns.seed, "t" if ns.trace else "u", os.getpid())
    tmp = os.path.join(OUT, "tmp", tag)
    res = os.path.join(OUT, "results", tag + ".json")
    fps = os.path.join(BENCH, "fingerprints", "sf%s.json" % fmt_sf(ns.sf))
    args = ["--workload", ns.workload, "--seed", str(ns.seed), "--seconds", str(ns.seconds),
            "--trace", str(ns.trace), "--data", data, "--sf", str(ns.sf), "--out", res,
            "--spans", os.path.join(OUT, "traces", tag + ".jsonl"),
            *extra_args]
    if os.path.exists(fps) and "--record" not in extra_args:
        args += ["--expect", fps]
    try:
        rc = java(cp, tmp, args, deadline)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not os.path.exists(res):
        raise SystemExit("perfbench: run failed (exit %s)" % rc)
    with open(res) as fh:
        result = json.load(fh)
    result["env"]["git_commit"] = git_commit() or "not a git checkout"
    result["env"]["source_digest"] = digest
    result["env"]["wall_s"] = round(time.time() - start, 3)
    return result


def report(ns, r):
    """Human-readable lines, then the one-line result."""
    print("env " + json.dumps(r["env"], sort_keys=True))
    for name, m in sorted(r["end_to_end"].items()):
        print("end_to_end %-16s %14.4f %s" % (name, m["value"], m["unit"]))
    for name, m in sorted(r["extras"].items()):
        print("extra      %-16s %14.4f %s" % (name, m["value"], m["unit"]))
    if ns.trace:
        for name, m in sorted(r["metrics"].items()):
            print("layer %-34s %16.3f %s" % (name, m["value"], m["unit"]))
        print("span %-28s %8s %12s %12s" % ("name", "count", "total_ms", "self_ms"))
        for s in r["span_table"]:
            print("span %-28s %8d %12.1f %12.1f" % (s["span"], s["count"], s["total_ms"], s["self_ms"]))
    failed = r["failed"] + r.get("traced_failed", 0)
    attempted = r["attempted"] + r.get("traced_attempted", 0)
    metrics = {k: {"value": m["value"], "unit": m["unit"]} for k, m in r["metrics"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)


def parser():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--sf", type=float, default=0.1, help="scale factor of the inputs")
    return p


if __name__ == "__main__":
    ns = parser().parse_args()
    report(ns, run(ns))
