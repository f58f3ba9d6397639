#!/usr/bin/env python3
"""Build file of the graft benchmark.

    python3 graftbench/build.py [--build-dir DIR]

Compiles the engine (src/main/scala) together with the benchmark's own
Scala sources (graftbench/scala) with the Scala compiler that ships in
Spark's jars, then dumps the engine's DuckDB oracle SQL
(graft.SparkEntry.oracleSql) to oracle_sql.json. Everything lands in the
build directory (default: $CARGO_TARGET_DIR, else .bench_build). A stamp
over every source file skips the work when nothing changed.

Run from the root of a checkout. Exits non-zero, with the reason on
stderr, when the engine sources or the Spark jars are missing.
"""
import argparse
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ENGINE_SRC = os.path.join("src", "main", "scala")
COMPILE_TIMEOUT_S = 600


def spark_jars():
    home = os.environ.get("SPARK_HOME", "/opt/spark")
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-core_*.jar")):
        sys.exit(f"build: no Spark jars under {jars} (set SPARK_HOME)")
    return jars


def build_dir(arg=None):
    return os.path.abspath(arg or os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources():
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"build: engine sources {ENGINE_SRC}/ not found; run from the repo root")
    found = []
    for root in (ENGINE_SRC, os.path.join(BENCH_DIR, "scala")):
        for dirpath, _, files in os.walk(root):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs, jars):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    for path in srcs:
        h.update(os.path.relpath(path).encode() + b"\0")
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def classpath(out):
    """Runtime classpath: the compiled classes, then every Spark jar."""
    return os.path.join(out, "classes") + os.pathsep + os.path.join(spark_jars(), "*")


def build(out):
    jars = spark_jars()
    srcs = sources()
    want = stamp(srcs, jars)
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == want:
                return
    os.makedirs(out, exist_ok=True)
    tmp = os.path.join(out, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as f:
        f.write("\n".join(f'"{s}"' for s in srcs) + "\n")
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                    "scala.tools.nsc.Main", "-classpath", os.path.join(jars, "*"), "-nowarn",
                    "-d", tmp, "@" + args_file],
                   check=True, timeout=COMPILE_TIMEOUT_S, stdout=sys.stderr)
    shutil.rmtree(os.path.join(out, "classes"), ignore_errors=True)
    os.rename(tmp, os.path.join(out, "classes"))
    subprocess.run(["java", "-cp", classpath(out), "graftbench.DumpOracle",
                    os.path.join(out, "oracle_sql.json")],
                   check=True, timeout=120, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--build-dir")
    a = ap.parse_args()
    build(build_dir(a.build_dir))


if __name__ == "__main__":
    main()
