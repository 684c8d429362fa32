#!/usr/bin/env python3
"""Build file of the link-graph benchmark.

Compiles the engine (`src/main/scala` of the checkout) together with the
benchmark's own sources (`linkbench/src`) into `.bench_build/classes`, with
the Scala compiler that ships in the Spark distribution's `jars` directory.
A build is reused while the sources are byte-identical to the last one.

    python3 linkbench/build.py
"""
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
STATE = ROOT / ".bench_build"


class BuildError(Exception):
    pass


def spark_jars() -> Path:
    """The Spark distribution's jars directory: $SPARK_HOME, else the one
    `spark-submit` on PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    jars = Path(home) / "jars" if home else None
    if jars is None or not any(jars.glob("scala-compiler-*.jar")):
        raise BuildError("no Spark distribution with a Scala compiler found "
                         "(set SPARK_HOME)")
    return jars


def sources() -> list:
    engine = ROOT / "src" / "main" / "scala"
    if not engine.is_dir():
        raise BuildError(f"engine sources not found under {engine}")
    files = sorted(engine.rglob("*.scala")) + sorted((BENCH / "src").rglob("*.scala"))
    if not files:
        raise BuildError("no sources to compile")
    return files


def build() -> tuple:
    """Returns the classes directory and whether it was compiled now, which
    happens only when the sources changed."""
    jars = spark_jars()
    srcs = sources()
    digest = hashlib.sha256()
    for f in srcs:
        digest.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    for j in sorted(jars.glob("scala-*.jar")):
        digest.update(j.name.encode())
    want = digest.hexdigest()

    STATE.mkdir(exist_ok=True)
    classes = STATE / "classes"
    stamp = STATE / "classes.sha256"
    with open(STATE / "build.lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if classes.is_dir() and stamp.is_file() and stamp.read_text() == want:
            return classes, False
        tmp = STATE / "classes.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        args = STATE / "scalac.args"
        args.write_text("\n".join(str(f) for f in srcs) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*",
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
               "-d", str(tmp), f"@{args}"]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                             text=True, timeout=800)
        if res.returncode != 0:
            raise BuildError("scalac failed:\n" + res.stdout[-4000:])
        shutil.rmtree(classes, ignore_errors=True)
        tmp.rename(classes)
        stamp.write_text(want)
        return classes, True


if __name__ == "__main__":
    try:
        print(build()[0])
    except (BuildError, subprocess.TimeoutExpired) as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
