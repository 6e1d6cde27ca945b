#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources (src/main/scala)
together with the benchmark's own (perfbench/src) into .bench_build/perfbench/classes.

The Scala compiler and Spark come from the Spark distribution (SPARK_HOME, or
the one whose spark-submit is on PATH), so the build needs no dependency
resolution. A build is
skipped when a stamp of every source file's content matches the last one.

    python3 perfbench/build.py          # build if stale, print the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    found = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: source directory {os.path.relpath(d, ROOT)} is missing")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(log=sys.stderr):
    files = sources()
    want = stamp(files)
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == want:
                return CLASSES
    os.makedirs(OUT, exist_ok=True)
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args = os.path.join(OUT, "scalac.args")
    with open(args, "w") as fh:
        fh.write("\n".join(f'"{f}"' for f in files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + args]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    rc = subprocess.run(cmd, stdout=log, stderr=log).returncode
    if rc != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compile failed ({rc})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return CLASSES


if __name__ == "__main__":
    print(build())
