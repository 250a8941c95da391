#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) together
with the benchmark's own Scala sources (perfbench/scala) into
.bench_build/classes, using the Scala compiler that ships in the Spark
distribution's jars. No dependency resolution and no network: the classpath
is exactly the Spark jars, as for the engine's own build.

The output is stamped with a hash of every source file, so a second call
with unchanged sources returns at once.

    python3 perfbench/build.py            # prints the classes directory
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "scala")


def spark_jars():
    home = os.environ.get("SPARK_HOME") or "/opt/spark"
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars):
        raise SystemExit(f"perfbench: no Spark jars at {jars} (set SPARK_HOME)")
    return jars


def classpath_jars():
    return os.path.join(spark_jars(), "*")


def sources():
    if not os.path.isfile(os.path.join(ENGINE_SRC, "graft", "Pipeline.scala")):
        raise SystemExit("perfbench: engine sources (src/main/scala) not found; "
                         "run from a checkout of the repository")
    out = []
    for base in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(spark_jars()))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Returns the classes directory, compiling first if sources changed."""
    files = sources()
    want = stamp(files)
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == want:
                return classes
    os.makedirs(BUILD, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", classpath_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", classpath_jars(), "-d", tmp, "@" + argfile]
    proc = subprocess.run(cmd, cwd=ROOT)
    if proc.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise SystemExit(f"perfbench: compilation failed (exit {proc.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(want + "\n")
    return classes


if __name__ == "__main__":
    print(ensure_built())
