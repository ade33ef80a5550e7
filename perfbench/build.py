#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the product sources (``src/main/scala``) together with the
benchmark harness (``perfbench/harness``) with the Scala 2.13 compiler
that ships among the Spark jars, into ``.bench_build/classes``. A stamp
over every source file skips the compile when nothing changed.

Usage (from the repository root): python3 perfbench/build.py
"""
import fcntl
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The Spark jars directory: $SPARK_HOME/jars, else the product's own
    `unmanagedBase` from build.sbt."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)',
                      open(os.path.join(ROOT, "build.sbt")).read())
        if not m:
            sys.exit("no unmanagedBase in build.sbt (set SPARK_HOME)")
        jars = m.group(1)
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit(f"no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def sources():
    product = os.path.join(ROOT, "src", "main", "scala")
    harness = os.path.join(ROOT, "perfbench", "harness")
    for d in (product, harness):
        if not os.path.isdir(d):
            sys.exit(f"missing source directory {os.path.relpath(d, ROOT)}")
    files = sorted(glob.glob(os.path.join(product, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(harness, "**", "*.scala"), recursive=True))
    if not files:
        sys.exit("no Scala sources found")
    return files


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; returns (classpath, source digest)."""
    files = sources()
    jars = spark_jars()
    stamp = digest(files)
    os.makedirs(OUT, exist_ok=True)
    cp = f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}"
    with open(os.path.join(OUT, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(OUT, "classes.stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return cp, stamp
        shutil.rmtree(CLASSES, ignore_errors=True)
        os.makedirs(CLASSES)
        t0 = time.time()
        args = os.path.join(OUT, "scalac.args")
        with open(args, "w") as fh:
            fh.write("\n".join(files))
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
               "scala.tools.nsc.Main", "-nowarn", "-d", CLASSES,
               "-cp", os.path.join(jars, "*"), "@" + args]
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
        if r.returncode != 0:
            sys.exit(f"scalac failed with code {r.returncode}")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
        print(f"[perfbench] compiled {len(files)} files in {time.time() - t0:.1f} s",
              file=sys.stderr)
    return cp, stamp


if __name__ == "__main__":
    build()
