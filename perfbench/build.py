#!/usr/bin/env python3
"""Builds the benchmark: compiles the program's sources (src/main/scala)
together with the harness (perfbench/scala) into .bench_build/perfbench,
using the Scala compiler that ships with the Spark distribution.

Usage: python3 perfbench/build.py   (from the repository root)

A build is skipped when the sources are byte-identical to the last one.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def _spark_jars():
    """The Spark jars the program's own build compiles against (build.sbt's
    `unmanagedBase`)."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except FileNotFoundError:
        m = None
    if not m:
        raise SystemExit("perfbench: no unmanagedBase in build.sbt; run from the repository root")
    return m.group(1)


SPARK_JARS = _spark_jars()


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit("perfbench: no program sources under src/main/scala; "
                         "run from the repository root")
    return prog + sorted(glob.glob(os.path.join(ROOT, "perfbench/scala/*.scala")))


def classpath():
    return f"{SPARK_JARS}/*:{CLASSES}"


def build():
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = os.path.join(OUT, "stamp")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == h.hexdigest():
                return
    shutil.rmtree(OUT, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", f"{SPARK_JARS}/*",
           "scala.tools.nsc.Main", "-nowarn", "-usejavacp", "-classpath", CLASSES,
           "-d", CLASSES] + srcs
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())


if __name__ == "__main__":
    build()
