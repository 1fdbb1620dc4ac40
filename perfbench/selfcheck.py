#!/usr/bin/env python3
"""Self-check: run every workload in BENCHMARK.json at minimal length on
sf0.001, untraced and traced, and assert that each run exits 0, reports
no failed operation, and prints every declared metric with its unit.

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check(workload: str, trace: int, declared: list[dict]) -> list[str]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    label = f"{workload} --trace {trace}"
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        return [f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    result = json.loads(lines[-1])
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"{label}: result keys {sorted(result)}")
    if not result.get("correct") or result.get("failed") or result.get("attempted", 0) < 1:
        problems.append(f"{label}: correct={result.get('correct')} "
                        f"failed={result.get('failed')} attempted={result.get('attempted')}")
    metrics = result.get("metrics", {})
    want = {m["name"]: m["unit"] for m in declared}
    if set(metrics) != set(want):
        problems.append(f"{label}: metrics {sorted(metrics)} != declared {sorted(want)}")
    for name, unit in want.items():
        got = metrics.get(name, {})
        if got.get("unit") != unit or not isinstance(got.get("value"), (int, float)):
            problems.append(f"{label}: {name} printed as {got!r}, expected unit {unit}")
    print(f"{'ok  ' if not problems else 'FAIL'} {label}: {len(metrics)} metrics, "
          f"{result.get('attempted')} operations", flush=True)
    return problems


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    problems = []
    for w in spec["workloads"]:
        problems += check(w["name"], 0, spec["end_to_end"])
        problems += check(w["name"], 1, spec["per_layer"])
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
