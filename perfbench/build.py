#!/usr/bin/env python3
"""The benchmark's build: compiles the program's sources
(src/main/scala) together with the harness (perfbench/src) with the
Scala compiler that ships among the Spark jars the main build compiles
against, and returns the runtime classpath.

usage: python3 perfbench/build.py      (from the repository root)

It runs `scala.tools.nsc.Main` in a plain JVM, so the build reads only
the sources and the Spark jars and writes only under
.bench_build/perfbench/. It recompiles only when a source changed.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
# the jars the main build's `unmanagedBase` names; they hold the Scala
# 2.13 compiler and library of the main build's scalaVersion
SPARK_JARS = "/opt/spark/jars"


def work_dir():
    return os.path.join(os.getcwd(), ".bench_build", "perfbench")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    roots = [os.path.join(BENCH, "src"), os.path.join(os.getcwd(), "src", "main", "scala")]
    files = []
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(files)


def build():
    """Compiles program + harness when any source changed; returns the
    runtime classpath."""
    if not os.path.isdir(os.path.join(os.getcwd(), "src", "main", "scala")):
        sys.exit("perfbench: no program sources (src/main/scala) under the current directory")
    if not os.path.isdir(SPARK_JARS):
        sys.exit(f"perfbench: no Spark jars at {SPARK_JARS}")
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs + sorted(os.listdir(SPARK_JARS)):
        h.update(f.encode())
        if f.endswith(".scala"):
            with open(f, "rb") as fh:
                h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(work_dir(), "classes")
    stamp_file = os.path.join(work_dir(), "build.stamp")
    classpath = os.pathsep.join([classes, os.path.join(SPARK_JARS, "*")])
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return classpath
    # compile into a fresh directory, then move it into place
    fresh = classes + ".new"
    tmp = os.path.join(work_dir(), "tmp")
    shutil.rmtree(fresh, ignore_errors=True)
    os.makedirs(fresh)
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(work_dir(), "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(srcs) + "\n")
    log(f"compiling {len(srcs)} Scala sources")
    t0 = time.time()
    jars = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
         "-cp", jars, "scala.tools.nsc.Main", "-nowarn", "-d", fresh, "-classpath", jars,
         f"@{args}"],
        stdout=sys.stderr, stderr=sys.stderr, stdin=subprocess.DEVNULL, timeout=840)
    if r.returncode != 0:
        sys.exit(f"perfbench: build failed (exit {r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return classpath


if __name__ == "__main__":
    print(build())
