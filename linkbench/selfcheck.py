#!/usr/bin/env python3
"""Self-check of the link-graph benchmark's checker, on the small inputs.

For every workload:
  * a clean run must print every metric BENCHMARK.json names, with its unit
    (end-to-end metrics untraced, per-layer metrics traced);
  * a run with one output deliberately altered must count more failures
    than the clean run.

    python3 linkbench/selfcheck.py
"""
import json
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, str(BENCH / "run.py"), "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--small", *extra]
    res = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    if res.returncode != 0:
        raise SystemExit(f"{' '.join(cmd)} exited {res.returncode}")
    return json.loads(res.stdout.strip().split("\n")[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            got = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            have = {k: v["unit"] for k, v in got["metrics"].items()}
            if have != want:
                problems.append(f"{w} trace {trace}: metrics {sorted(set(have) ^ set(want))} "
                                f"or their units differ from BENCHMARK.json")
            if trace == 0:
                clean = got
        bad = run(w, 0, "--corrupt")
        if bad["failed"] <= clean["failed"] or bad["correct"]:
            problems.append(f"{w}: the altered output was not counted as a failure "
                            f"(clean {clean['failed']}, altered {bad['failed']})")
        print(f"{w}: clean {clean['failed']}/{clean['attempted']} failed, "
              f"altered {bad['failed']}/{bad['attempted']} failed", flush=True)
    for p in problems:
        print("PROBLEM", p)
    print("self-check", "failed" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
