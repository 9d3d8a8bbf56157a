"""Smoke self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload once, traced and untraced, on small inputs
(--scale 0.05), and asserts that each run prints every metric it
promises with its unit and passes its oracle checks; then runs each
workload with one written output damaged (--corrupt-sink) and asserts
that the checks catch it as a failure. Takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def invoke(workload: str, trace: int, *extra: str) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "1",
           "--seconds", "2", "--trace", str(trace), "--scale", "0.05", *extra]
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    if out.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    failures = []
    for workload in bench.WORKLOADS:
        for trace, names in ((0, bench.E2E), (1, bench.per_layer_metrics())):
            res = invoke(workload, trace)
            got = {n: m["unit"] for n, m in res["metrics"].items()}
            if got != dict(names):
                failures.append(f"{workload} trace={trace}: metrics {sorted(set(got) ^ set(dict(names)))} differ")
            elif not res["correct"] or res["failed"] or res["attempted"] < 1:
                failures.append(f"{workload} trace={trace}: not correct: {res}")
            else:
                print(f"ok   {workload} trace={trace}: {len(got)} metrics, {res['attempted']} ops")
        res = invoke(workload, 0, "--corrupt-sink")
        if res["correct"] or not res["failed"]:
            failures.append(f"{workload}: damaged output not caught: {res}")
        else:
            print(f"ok   {workload}: damaged output caught ({res['failed']} of {res['attempted']} ops failed)")
    for f in failures:
        print("FAIL", f)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
