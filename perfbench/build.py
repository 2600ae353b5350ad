#!/usr/bin/env python3
"""Build file of the benchmark package: compiles the graft library sources
(src/main/scala) together with the benchmark's own sources (perfbench/src)
with the Scala compiler that ships in the Spark distribution, and copies the
library's resources next to the classes.

Output goes to $CARGO_TARGET_DIR (default .bench_build) under the checkout
root. A stamp over every input file skips the compile when nothing changed.

    python3 perfbench/build.py      # prints the classpath on success
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in jars):
        sys.exit(f"build: no Spark distribution with a Scala compiler under {home}/jars")
    return jars


def inputs():
    files = []
    for d in SOURCE_DIRS + [RESOURCES]:
        if not os.path.isdir(d):
            sys.exit(f"build: missing source directory {os.path.relpath(d, ROOT)}")
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    files.append(os.path.abspath(__file__))
    return sorted(files)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath as a list and whether
    this call compiled."""
    jars = spark_jars()
    files = inputs()
    out = build_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    want = stamp(files)
    if os.path.isdir(classes) and os.path.isfile(stamp_file) \
            and open(stamp_file).read().strip() == want:
        return [classes] + jars, False
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    sources = [f for f in files if f.endswith(".scala")]
    cp = os.pathsep.join(jars)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", staging, "-classpath", cp] + sources
    print(f"build: compiling {len(sources)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        sys.exit(f"build: scalac failed with exit code {r.returncode}")
    for dirpath, _, names in os.walk(RESOURCES):
        rel = os.path.relpath(dirpath, RESOURCES)
        os.makedirs(os.path.join(staging, rel), exist_ok=True)
        for n in names:
            shutil.copy(os.path.join(dirpath, n), os.path.join(staging, rel, n))
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return [classes] + jars, True


if __name__ == "__main__":
    print(os.pathsep.join(build()[0]))
