#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine sources (`src/main/scala`) together with the harness
(`perfbench/src`) using the Scala 2.13 compiler that ships in Spark's jar
directory, so the build needs no dependency resolution and writes only
under `.bench_build/` in the checkout. The output directory is keyed by a
digest of every source file, so an unchanged tree is never rebuilt and a
changed one never reuses stale classes.

    python3 perfbench/build.py        # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")


def spark_jars():
    """Spark's jar directory, $SPARK_HOME/jars."""
    if "SPARK_HOME" not in os.environ:
        raise SystemExit("build: SPARK_HOME is not set")
    jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Scala compiler among Spark jars in {jars}")
    return jars


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not engine:
        raise SystemExit("build: engine sources src/main/scala not found")
    if not harness:
        raise SystemExit("build: harness sources perfbench/src not found")
    return engine + harness


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compile if needed; return (classes directory, source digest)."""
    files = sources()
    key = digest(files)
    out = os.path.join(BUILD_DIR, "classes-" + key[:16])
    if os.path.exists(os.path.join(out, ".complete")):
        return out, key
    jars = spark_jars()
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-cp", cp] + files
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"build: scalac failed with exit code {res.returncode}")
    open(os.path.join(tmp, ".complete"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, key


if __name__ == "__main__":
    print(ensure_built()[0])
