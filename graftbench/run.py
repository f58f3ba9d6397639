#!/usr/bin/env python3
"""The graft benchmark: one workload, one seed, one run.

    python3 graftbench/run.py --workload <crawl_wide|crawl_deep>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the engine and the benchmark
(build.py, skipped when unchanged), generates the workload's inputs from
the seed, computes the expected results (generator manifest or the repo's
DuckDB oracles), then starts one JVM that sets up once (session, corpus
cache, the workload's checked warm-up jobs), runs the closed loop for
--seconds, and checks every job.

The last line of stdout is one JSON object: correct, attempted, failed
(jobs) and metrics — the end-to-end metrics of BENCHMARK.json with
--trace 0, the per-layer metrics with --trace 1. The full run record
(samples, JVM flags, load average, per-job numbers; spans when traced)
is written under <build dir>/runs/.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

RUN_LIMIT_S = 175  # the whole run, build excluded

# Spark 4 on JDK 17 outside spark-submit (as build.sbt passes them)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def heap_mb():
    """A quarter of the host's memory, between 1 and 3 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(1024, min(3072, kb // 4 // 1024))
    except (OSError, StopIteration, ValueError):
        return 2048


def generate(workload, seed, run_dir):
    """The workload's inputs; returns (dir, seconds)."""
    d = os.path.join(run_dir, "data")
    t0 = time.perf_counter()
    gen.generate(workload, seed, d)
    return d, time.perf_counter() - t0


def jvm_command(out, a, run_dir, data, gen_s, expect):
    return (["java", f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", "-XX:+UseParallelGC", "-Xss8m"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
               f"-Dlog4j.configurationFile={os.path.relpath(os.path.join(BENCH_DIR, 'log4j2.properties'))}",
               "-cp", build.classpath(out), "graftbench.Main",
               "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace), "--data", data, "--gen-s", f"{gen_s:.6f}", "--expect", expect,
               "--work", run_dir, "--out", os.path.join(run_dir, "artifact.json"),
               "--spans", os.path.join(run_dir, "spans.json")])


def stop(signum, _frame):
    """SIGTERM/SIGINT as an exception: subprocess.run then kills and waits
    for the child (compiler or benchmark JVM) before this process exits."""
    raise SystemExit(f"stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    out = build.build_dir()
    try:
        build.build(out)
    except subprocess.SubprocessError as e:
        sys.exit(f"build failed: {e}")
    started = time.monotonic()

    # paths relative to the checkout root (the JVM's working directory), so
    # the run record names no host-specific directory
    run_dir = os.path.relpath(os.path.join(out, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    data, gen_s = generate(a.workload, a.seed, run_dir)
    expect = os.path.join(run_dir, "expect")
    oracle.write_expected(a.workload, data, expect, os.path.join(out, "oracle_sql.json"), a.trace == 1)

    cmd = jvm_command(out, a, run_dir, data, gen_s, expect)
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                timeout=max(10.0, RUN_LIMIT_S - (time.monotonic() - started))).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    shutil.rmtree(data, ignore_errors=True)
    if rc != 0:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        sys.exit(f"benchmark JVM failed ({rc}); log: {log}")

    with open(os.path.join(run_dir, "artifact.json")) as f:
        art = json.load(f)
    section = art["per_layer"] if a.trace else art["end_to_end"]
    bad = [k for k, m in section.items() if not math.isfinite(m["value"])]
    if bad:
        sys.exit(f"metrics without a value: {bad}; record: {run_dir}")
    for name, m in section.items():
        print(f"{name} = {m['value']:.6g} {m['unit']} (n={m['n']})")
    if art["failures"]:
        print("failures: " + " | ".join(art["failures"][:3]))
    print(f"record: {os.path.join(run_dir, 'artifact.json')}")
    print(json.dumps({
        "correct": art["failed"] == 0,
        "attempted": art["attempted"],
        "failed": art["failed"],
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in section.items()},
    }))


if __name__ == "__main__":
    main()
