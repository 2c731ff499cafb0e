#!/usr/bin/env python3
"""Run one benchmark workload against the graft library built from this
checkout.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: medallion_daily, stream_validate, corpus_dedup (see
perfbench/DESIGN.md).  The first run compiles the library and the benchmark
program (perfbench/build.py).  The run prints its metrics by name, then, as the
last line of standard output, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`.  It exits non-zero, without that line,
when the build or the run fails, and with it when an output check fails.

Everything the run writes stays inside the checkout: the build under
.bench_build/ and the run's scratch data under .bench_work/, which is
emptied before the run and removed after it.

--stream-eps and --stream-backlog override stream_validate's phase-1 rate
and backlog size; they exist for the saturation sweep in perfbench/DESIGN.md
and change what the run measures.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("medallion_daily", "stream_validate", "corpus_dedup")
# One run must end within 180 s once the build is done.
RUN_DEADLINE_S = 170
HEAP = "3g"

# The module opens Spark needs on JDK 17 outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def parse():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    p.add_argument("--stream-eps", type=int)
    p.add_argument("--stream-backlog", type=int)
    return p.parse_args()


def cpus():
    # local[n] with n <= nproc; four is the size the workloads are tuned at
    return max(1, min(4, len(os.sched_getaffinity(0))))


def main():
    args = parse()
    try:
        classes = build.build()
        jars = build.spark_jars()
        java = build.java()
    except build.BuildError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2

    props = []
    if args.stream_eps:
        props.append(f"-Dperfbench.stream.eps={args.stream_eps}")
    if args.stream_backlog:
        props.append(f"-Dperfbench.stream.backlog={args.stream_backlog}")
    work = os.path.join(ROOT, ".bench_work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false"] + props
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")]), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--work", work, "--cpus", str(cpus())]

    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, env=env)

    def kill():
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()

    signal.signal(signal.SIGTERM, lambda *a: sys.exit(143))
    deadline = time.monotonic() + RUN_DEADLINE_S
    lines = []
    # the JVM prints little, so a blocking read loop with a watchdog suffices
    timer = threading.Timer(RUN_DEADLINE_S, kill)
    timer.daemon = True
    timer.start()
    try:
        for line in proc.stdout:
            lines.append(line.rstrip("\n"))
        rc = proc.wait()
    finally:
        timer.cancel()
        kill()
        shutil.rmtree(work, ignore_errors=True)

    out = [l for l in lines if l.strip()]
    result = None
    if out:
        try:
            result = json.loads(out[-1])
        except ValueError:
            result = None
    for l in out[:-1] if result is not None else out:
        print(l)
    if time.monotonic() >= deadline:
        print(f"[perfbench] run exceeded {RUN_DEADLINE_S} s and was stopped", file=sys.stderr)
        return 3
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        print(f"[perfbench] run ended with code {rc} and no result line", file=sys.stderr)
        return rc or 4
    print(json.dumps(result))
    return 0 if rc == 0 and result["correct"] else (rc or 1)


if __name__ == "__main__":
    sys.exit(main())
