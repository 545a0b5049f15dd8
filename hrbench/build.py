#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program's sources
(`src/main/scala`) together with the benchmark's JVM side (`hrbench/src`)
into `hrbench/target/classes` with the Scala compiler that ships among the
Spark jars (`$SPARK_HOME/jars`, else the `unmanagedBase` of `build.sbt`).
Nothing is downloaded and nothing outside the checkout is written. A stamp
over every source file skips the compile when nothing changed.

Usage: python3 hrbench/build.py     (from the repository root)
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "classes")
STAMP = os.path.join(TARGET, "build.stamp")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the sbt build names."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                         f.read()).group(1)


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"),
             os.path.join(HERE, "src")]
    if not os.path.isdir(os.path.join(roots[0], "graft")):
        raise SystemExit(f"build: program sources not found under {roots[0]}")
    out = []
    for r in roots:
        for d, _, files in os.walk(r):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update(sorted(os.listdir(spark_jars())).__repr__().encode())
    return h.hexdigest()


def classpath():
    return os.path.join(spark_jars(), "*")


def build(quiet=False):
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(TARGET, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-cp", classpath(), "scala.tools.nsc.Main", "-nowarn",
           "-d", CLASSES, "-classpath", classpath(), "@" + argfile]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"build: scalac failed with code {p.returncode}")
    with open(STAMP, "w") as f:
        f.write(want)
    if not quiet:
        print(f"build: compiled {len(files)} sources into {CLASSES}")
    return CLASSES


if __name__ == "__main__":
    build()
