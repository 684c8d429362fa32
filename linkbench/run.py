#!/usr/bin/env python3
"""Runs one workload of the link-graph benchmark.

    python3 linkbench/run.py --workload graph_loops --seed 1 --seconds 16 --trace 0

Builds the engine and the benchmark if their sources changed (see
build.py), then runs `linkbench.Main` in one local-mode JVM with as many
cores as the machine has. Human-readable lines come first; the last line
of standard output is the JSON result. Everything the run writes stays
under `.bench_build/` of the checkout. The exit code is 0 only when a
result was printed.
"""
import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["graph_loops", "crawl_extract"]
# a run must end within 180 s; the first one in a checkout may also build
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die_with_parent():
    # PR_SET_PDEATHSIG: the JVM gets SIGKILL if this process dies first
    ctypes.CDLL("libc.so.6", use_errno=True).prctl(1, signal.SIGKILL)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="small input, for the checker's self-check")
    ap.add_argument("--corrupt", action="store_true",
                    help="alter one output before it is checked")
    args = ap.parse_args()

    start = time.monotonic()
    try:
        classes, built = build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)

    state = build.STATE
    work = state / "run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = state / "logs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    log.parent.mkdir(exist_ok=True)

    cmd = ["java", *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dspark.local.dir={work / 'spark-local'}",
           f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{build.spark_jars()}/*",
           "linkbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", str(work / "data"), "--state", str(state)]
    cmd += ["--small"] * args.small + ["--corrupt"] * args.corrupt

    proc = None
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(log, "w") as err:
            # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir: keep both inside
            env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                    stderr=err, text=True, preexec_fn=die_with_parent)
            try:
                out, _ = proc.communicate(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                print(f"timed out; JVM log: {log}", file=sys.stderr)
                return 1
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    lines = out.rstrip("\n").split("\n")
    result = None
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, AssertionError):
        result = None
    if proc.returncode != 0 or result is None:
        sys.stdout.write("\n".join(lines[:-1] if result else lines) + "\n")
        print(f"run failed (exit {proc.returncode}); JVM log: {log}", file=sys.stderr)
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return 1
    sys.stdout.write(out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
