#!/usr/bin/env python3
"""Compile the graft library (src/main/scala) together with the benchmark
program (perfbench/src) into one class directory, with the Scala compiler that
ships in the Spark distribution.

Usage, from the root of a checkout:

    python3 perfbench/build.py

The output lands in .bench_build/perfbench/<digest>/classes, keyed by a digest
of every compiled source, so an unchanged tree is compiled once.  The Spark
distribution is found through SPARK_HOME, or through spark-submit on PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD_ROOT = os.path.join(ROOT, ".bench_build", "perfbench")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory (library classpath + scalac)."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        raise BuildError("Spark distribution not found: set SPARK_HOME")
    if not any(n.startswith("scala-compiler-") for n in os.listdir(jars)):
        raise BuildError(f"no scala-compiler jar in {jars}")
    return jars


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        raise BuildError("java not found: set JAVA_HOME or put java on PATH")
    return exe


def sources():
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        raise BuildError(
            "library sources not found at src/main/scala/graft: "
            "run from the root of a repository checkout")
    out = []
    for base in (LIB_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile if needed; return the class directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    out = os.path.join(BUILD_ROOT, h.hexdigest()[:20])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "OK")):
        return classes

    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "classes"))
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = [java(), "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + tmp, "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-nowarn", "-d", os.path.join(tmp, "classes"),
           "@" + argfile]
    print(f"[perfbench] compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        raise BuildError(f"scalac exited with {r.returncode}")
    open(os.path.join(tmp, "OK"), "w").close()
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent build of the same tree finished first
        shutil.rmtree(tmp, ignore_errors=True)
    for old in os.listdir(BUILD_ROOT):  # drop builds of other trees
        if old != os.path.basename(out) and ".tmp" not in old:
            shutil.rmtree(os.path.join(BUILD_ROOT, old), ignore_errors=True)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
