#!/usr/bin/env python3
"""Builds the benchmark: the program's main sources plus the harness in
perfbench/src, compiled with the Scala compiler that ships among Spark's
jars into .perfbench/build/classes. A stamp of the sources' hash skips
the compile when nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench", "build")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME or beside a
    spark-submit on PATH: the first one that ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME")] + [
        os.path.dirname(os.path.realpath(d))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = os.path.join(home, "jars")
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution with a Scala "
                     "compiler found; set SPARK_HOME")


def sources():
    found = glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                      recursive=True)
    found += glob.glob(os.path.join(ROOT, "perfbench", "src", "*.scala"))
    return sorted(found)


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(spark_jars(), "*")])


def build():
    srcs = sources()
    if not any(s.startswith(os.path.join(ROOT, "src", "main", "scala")) for s in srcs):
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp_path = os.path.join(OUT, "stamp")
    stamp = h.hexdigest()
    if os.path.exists(stamp_path) and open(stamp_path).read() == stamp:
        return
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    done = subprocess.run(
        ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData",
         "-cp", os.path.join(spark_jars(), "*"),
         "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", CLASSES,
         "@" + argfile],
        stdout=sys.stderr)
    if done.returncode != 0:
        raise SystemExit(f"perfbench: the build failed ({done.returncode})")
    with open(stamp_path, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    build()
