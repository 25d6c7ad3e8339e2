#!/usr/bin/env python3
"""Build file of the lifecycle benchmark.

Compiles the engine (src/main/scala, plus src/main/resources) together
with the benchmark program (lifebench/src) into
.bench_build/lifebench/classes with the Scala compiler that ships in the
Spark distribution. No sbt: a run's JVM is then launched against the
compiled classes and the Spark jars, so sbt/zinc start-up lands in no
metric. A stamp of the sources makes the build a no-op when nothing
changed.

    python3 lifebench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".bench_build", "lifebench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME's, or those of the first
    `bin/spark-submit` on PATH whose distribution ships a Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")]
    homes += [os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
              if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    sys.exit("build: no Spark distribution with a Scala compiler found (set SPARK_HOME)")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        sys.exit(f"build: engine sources not found at {engine}")
    scala = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    scala += sorted(glob.glob(os.path.join(ROOT, "lifebench", "src", "*.scala")))
    res_root = os.path.join(ROOT, "src", "main", "resources")
    res = sorted(p for p in glob.glob(os.path.join(res_root, "**", "*"), recursive=True)
                 if os.path.isfile(p))
    return scala, res_root, res


def stamp(files, jars):
    h = hashlib.sha256(os.path.basename(min(glob.glob(os.path.join(jars, "spark-core*.jar")))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    jars = spark_jars()
    scala, res_root, res = sources()
    want = stamp(scala + res, jars)
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return CLASSES, jars
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", cp] + scala
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"build: scalac failed ({r.returncode})")
    for f in res:
        dst = os.path.join(tmp, os.path.relpath(f, res_root))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(f, dst)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(want)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    return CLASSES, jars


if __name__ == "__main__":
    print(build()[0])
