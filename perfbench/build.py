#!/usr/bin/env python3
"""Builds the benchmark: graft's main sources plus perfbench/src, compiled
together by the Scala compiler that ships with the Spark distribution.

Usage: python3 perfbench/build.py   (prints the class path)

Classes go to $CARGO_TARGET_DIR/perfbench (default .bench_build/perfbench,
relative to the repository root). A build is reused while no source has
changed. The Spark jars are $SPARK_HOME/jars if SPARK_HOME is set, else the
`unmanagedBase` directory of the repository's build.sbt.
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        return re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read()).group(1)


def out_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "perfbench")


def sources():
    graft = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    if not graft:
        raise SystemExit("perfbench: graft sources not found under src/main/scala")
    return graft + sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))


def classpath():
    """Compiles when a source changed; returns the run-time class path."""
    srcs = sources()
    digest = hashlib.sha256()
    for path in srcs:
        digest.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            digest.update(f.read())
    stamp = digest.hexdigest()
    out = out_dir()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "stamp")
    jars = os.path.join(spark_jars(), "*")
    if not (os.path.exists(stamp_file) and open(stamp_file).read() == stamp):
        fresh = classes + ".new"
        shutil.rmtree(fresh, ignore_errors=True)
        os.makedirs(fresh)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
               "-d", fresh, "-cp", jars] + srcs
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise SystemExit("perfbench: compile failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.replace(fresh, classes)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    return classes + os.pathsep + jars


if __name__ == "__main__":
    print(classpath())
