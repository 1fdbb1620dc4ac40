#!/usr/bin/env python3
"""Run every workload in BENCHMARK.json untraced and traced, then print
one row per workload: the workload-named end-to-end figures with units,
the declared end-to-end metrics with the tracing overhead (traced minus
untraced), and the per-layer metrics of the traced run.

    python3 perfbench/report.py [--seed N] [--seconds S]

Exits 1 if any run fails or reports a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end figures under the workloads' own names; a workload prints
#: the ones that apply to it
NAMED = [
    ("setup_s", "s"), ("failed_share", "ratio"), ("call_p50_ms", "ms"),
    ("call_tail_ms", "ms"), ("calls_per_s", "1/s"), ("pass_s", "s"),
]


def run_one(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} --trace {trace} failed:\n{proc.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2][len("PERFBENCH "):])


def _fmt(v) -> str:
    return "-" if v is None else f"{v:.4g}"


def table(title: str, cols: list[str], rows: list[list[str]]) -> None:
    print(f"\n{title}")
    widths = [max(len(c), *(len(r[i]) for r in rows)) for i, c in enumerate(cols)]
    print("  ".join(c.ljust(w) for c, w in zip(cols, widths)))
    for r in rows:
        print("  ".join(x.ljust(w) for x, w in zip(r, widths)))


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    args = ap.parse_args()

    names = [w["name"] for w in spec["workloads"]]
    runs = {}
    for w in names:
        for trace in (0, 1):
            runs[w, trace] = run_one(w, args.seed, args.seconds, trace)
            res = runs[w, trace][0]
            print(f"{w} --trace {trace}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)

    table("end-to-end, by workload-specific name (untraced)",
          ["workload"] + [f"{n} [{u}]" for n, u in NAMED],
          [[w] + [_fmt(runs[w, 0][1]["named_metrics"].get(n, {}).get("value")) for n, _ in NAMED]
           for w in names])
    e2e = spec["end_to_end"]
    table("end-to-end (untraced / traced / tracing overhead)",
          ["workload"] + [f"{m['name']} [{m['unit']}]" for m in e2e],
          [[w] + [" / ".join(_fmt(x) for x in (
              runs[w, 0][0]["metrics"][m["name"]]["value"],
              runs[w, 1][1]["end_to_end"][m["name"]],
              runs[w, 1][1]["end_to_end"][m["name"]] - runs[w, 0][0]["metrics"][m["name"]]["value"],
          )) for m in e2e] for w in names])
    table("per layer (traced run)", ["metric", "unit"] + names,
          [[m["name"], m["unit"]] + [_fmt(runs[w, 1][0]["metrics"][m["name"]]["value"])
                                     for w in names] for m in spec["per_layer"]])
    fp = ["load_1m_before", "load_1m_after", "nproc", "spark_graft_cpus", "calibration_s"]
    table("machine fingerprint (untraced run)", ["workload"] + fp,
          [[w] + [str(runs[w, 0][1]["fingerprint"][k]) for k in fp] for w in names])
    bad = [k for k, (res, _) in runs.items() if not res["correct"] or res["failed"]]
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
