#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (src/main/scala, plus src/main/resources) and the
benchmark's own Scala sources (perfbench/src) into .bench_build/classes with
the Scala compiler that ships among Spark's jars. A digest of every source
file is stored next to the classes, so an unchanged tree is not rebuilt.

    python3 perfbench/build.py        # from the root of a checkout
"""
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(BENCH, "src")]
    if not os.path.isdir(roots[0]):
        raise SystemExit("perfbench: no engine sources at src/main/scala")
    found = []
    for r in roots:
        for d, _, files in os.walk(r):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def resources():
    res = os.path.join(ROOT, "src", "main", "resources")
    out = []
    for d, _, files in os.walk(res):
        out += [os.path.join(d, f) for f in files]
    return res, sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    """Compile if needed; returns (classpath, source digest)."""
    jars = spark_jars()
    srcs = sources()
    res_dir, res = resources()
    want = digest(srcs + res)
    stamp = os.path.join(OUT, "classes.digest")
    cp = CLASSES + os.pathsep + os.path.join(jars, "*")
    if os.path.exists(stamp) and open(stamp).read().strip() == want:
        return cp, want
    print("perfbench: compiling %d Scala files" % len(srcs), file=log)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES, "@" + argfile]
    subprocess.run(cmd, check=True, stdout=log, stderr=log)
    for f in res:
        dst = os.path.join(CLASSES, os.path.relpath(f, res_dir))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(stamp, "w") as fh:
        fh.write(want + "\n")
    return cp, want


if __name__ == "__main__":
    cp, d = build()
    print(d)
