#!/usr/bin/env python3
"""Compile the engine (src/main/scala) together with the benchmark
(perfbench/scala) using the Scala compiler that ships in Spark's jars.

Usage, from the root of a checkout:  python3 perfbench/build.py

The classes land in .bench_build/perfbench/classes. A content hash of
every source file is stored next to them; a build with unchanged sources
is skipped.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import tempfile

ENGINE_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "scala")
OUT = os.path.join(".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The jars directory of the Spark distribution (SPARK_HOME, else the
    installation that spark-submit on PATH belongs to)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise BuildError("no Spark distribution found: set SPARK_HOME")
    return jars


def _sources(root):
    engine = os.path.join(root, ENGINE_SRC)
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources {ENGINE_SRC} not found: run from the root of a checkout")
    out = []
    for base in (engine, os.path.join(root, BENCH_SRC)):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def source_hash(root):
    h = hashlib.sha256()
    for f in _sources(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(root="."):
    """Returns the classes directory, compiling when a source changed."""
    jars = spark_jars()
    srcs = _sources(root)
    classes = os.path.join(root, OUT, "classes")
    stamp = classes + ".sha256"
    want = source_hash(root) + ":" + ",".join(sorted(os.listdir(jars)))
    if os.path.isdir(classes) and os.path.exists(stamp):
        with open(stamp) as fh:
            if fh.read() == want:
                return classes

    def jar(prefix):
        hits = [f for f in os.listdir(jars) if f.startswith(prefix) and f.endswith(".jar")]
        if not hits:
            raise BuildError(f"{prefix}*.jar missing from {jars}")
        return os.path.join(jars, hits[0])

    compiler_cp = os.pathsep.join(jar(p) for p in ("scala-compiler-", "scala-library-", "scala-reflect-"))
    os.makedirs(os.path.join(root, OUT), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes.", dir=os.path.join(root, OUT))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(srcs))
    outdir = os.path.join(tmp, "out")
    os.makedirs(outdir)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", compiler_cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", outdir, "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(outdir, classes)
    shutil.rmtree(tmp, ignore_errors=True)
    with open(stamp, "w") as fh:
        fh.write(want)
    return classes


if __name__ == "__main__":
    try:
        print(build("."))
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
