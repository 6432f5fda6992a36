#!/usr/bin/env python3
"""Build file of the benchmark.

Compiles the engine's sources (src/main/scala) together with the
benchmark's own (perfbench/src) using the Scala compiler that ships among
Spark's jars, so no build tool or network is needed, and packs the classes
into perfbench/.build/<hash>/perfbench.jar, where <hash> covers every source
file and the jar list; an existing build with the same hash is reused.

Usage: python3 perfbench/build.py   (prints the jar)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt names
    as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(REPO, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        jars = m.group(1) if m else ""
    if not os.path.isdir(jars):
        sys.exit("perfbench: Spark's jars not found; set SPARK_HOME")
    return jars


def sources():
    found = glob.glob(os.path.join(REPO, "src", "main", "scala", "**", "*.scala"),
                      recursive=True)
    found += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(found)


def classpath(jar):
    """The JVM class path: the build's jar, then Spark's jars in a fixed
    order (a class-data archive is only valid for the path it was made
    with)."""
    return os.pathsep.join([jar] + sorted(glob.glob(os.path.join(spark_jars(), "*.jar"))))


def build():
    """Returns the jar, compiling first if it is stale."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for name in sorted(os.listdir(jars)):
        h.update(name.encode())
    for path in srcs:
        h.update(os.path.relpath(path, REPO).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    out = os.path.join(HERE, ".build", h.hexdigest()[:16])
    jar = os.path.join(out, "perfbench.jar")
    if os.path.exists(jar):
        return jar
    classes = os.path.join(out, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", classes] + srcs
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for root, _, files in os.walk(classes):
            for f in sorted(files):
                p = os.path.join(root, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    os.replace(jar + ".tmp", jar)
    return jar


if __name__ == "__main__":
    print(build())
