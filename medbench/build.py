"""Builds the benchmark: the engine's sources (`src/main/scala`) and the
harness (`medbench/src`) compiled together by the Scala compiler that ships
with Spark, into `.bench_build/classes`. Rebuilds only when a source
changed.

    python3 medbench/build.py        # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        sys.exit("medbench: no Spark installation found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def sources(root):
    engine = os.path.join(root, "src", "main", "scala")
    found = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    found += sorted(glob.glob(os.path.join(BENCH, "src", "**", "*.scala"), recursive=True))
    return found


def build(root="."):
    """Compiles if needed; returns the runtime classpath."""
    srcs = sources(root)
    jars = spark_jars()
    classes = os.path.join(root, BUILD, "classes")
    stamp = os.path.join(root, BUILD, "classes.stamp")
    h = hashlib.sha256(jars.encode())
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    key = h.hexdigest()
    cp = classes + os.pathsep + jars
    if os.path.exists(stamp) and open(stamp).read() == key:
        return cp
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", jars] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        sys.exit("medbench: build failed")
    with open(stamp, "w") as f:
        f.write(key)
    return cp


if __name__ == "__main__":
    print(build())
