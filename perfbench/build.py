#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft (src/main/scala) and the
benchmark program (perfbench/src) with the Scala compiler that ships in
Spark's jars, into .bench_build/classes.

Usage: python3 perfbench/build.py   (from the repository root)

A build is skipped when the sources are unchanged since the last one
(a stamp over every source file's path and content).
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory graft's build.sbt names
    (unmanagedBase). Spark's jars bring scala-compiler/-library/-reflect
    with them."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            return m.group(1)
    raise SystemExit("perfbench: set SPARK_HOME to a Spark 4 installation")


# JVM module opens Spark 4 needs outside spark-submit (as in build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_opens():
    out = []
    for p in ADD_OPENS:
        out += ["--add-opens", p + "=ALL-UNNAMED"]
    return out


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(ROOT, "perfbench", "src", "**", "*.scala"), recursive=True))
    return graft, bench


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return CLASSES + os.pathsep + os.path.join(spark_jars(), "*")


def build(log=sys.stderr):
    graft, bench = sources()
    if not graft:
        raise SystemExit("perfbench: no graft sources under src/main/scala; run from the repository root")
    jars = spark_jars()
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: Spark jars not found at {jars} (set SPARK_HOME)")
    want = stamp(graft + bench)
    if os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    cmd = ["java", "-Xss64m", "-Xmx3g", "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-cp", os.path.join(jars, "*")] + graft + bench
    print(f"perfbench: compiling {len(graft)} graft + {len(bench)} benchmark sources", file=log)
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: compile failed ({r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")


if __name__ == "__main__":
    build()
