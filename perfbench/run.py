#!/usr/bin/env python3
"""Dedup pipeline benchmark.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload web_long --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark (perfbench/build.py), runs one
workload in one JVM with Spark at local[nproc], and prints as its last
stdout line one JSON object: {"correct", "attempted", "failed", "metrics"}.
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The line before it stamps the run (nproc, heap, Spark conf, source id).
Everything the run writes stays under .bench_build/ and the per-run
directory is deleted when the run ends.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("web_long", "pair_dense", "incremental_append")
HEAP = "3g"
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the list build.sbt uses)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_id(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True)
        if r.returncode == 0 and r.stdout.strip():
            return "git:" + r.stdout.strip()
    except OSError:
        pass
    return "sources-sha256:" + build.source_hash(root)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    # a SIGTERM unwinds through subprocess.run, which then kills the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    try:
        classes = build.build(root)
        jars = build.spark_jars()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(root, "fixtures", "corpus.jsonl")):
        print("[perfbench] fixtures/corpus.jsonl not found", file=sys.stderr)
        return 2

    work = os.path.join(root, build.OUT, "runs", f"{a.workload}-{a.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    # AlwaysPreTouch faults the whole heap in at start-up, in set-up time:
    # otherwise the first runs pay for first-touch page faults as G1 spreads
    # over fresh regions, and the timed runs differ by how far it got.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp"]
           + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--fixtures", os.path.join(root, "fixtures"),
              "--source", source_id(root)])
    try:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines:
        print(f"[perfbench] benchmark JVM exited with {r.returncode}", file=sys.stderr)
        return 1
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        print(f"[perfbench] malformed result line: {lines[-1][:200]}", file=sys.stderr)
        return 1
    for ln in lines[:-1]:
        print(ln)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
