#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload athena_interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from
``--seed``, starts one SparkSession on ``local[$SPARK_GRAFT_CPUS]``
(half the CPUs this process may use), builds the workload's
fixtures, warms up, then measures whole passes for ``--seconds``,
with reference jobs (``REFERENCE_SQL``) before the first pass and after
every one. Everything it writes lives under ``.perfbench_tmp/`` (removed
at exit) and, for traced runs, ``.perfbench_out/``.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``:
end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``. The line before it, prefixed ``PERFBENCH``, carries the
wall-clock figures under the workload's own names, the tail percentile
and the machine fingerprint. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: data scale every workload generates (TPC-H scale factor)
SF = 0.01

#: the workloads run.py accepts (defined in workloads.py)
WORKLOAD_NAMES = ("athena_interactive", "curation_batch")

END_TO_END = {
    "setup_s": "s",
    "pass_p50_rel": "ratio",
}

#: reference jobs run before the first measured pass and after every one
REF_PER_PASS = 4
#: reference jobs run at the end of set-up, untimed
REF_WARMUP = 16

REFERENCE_SQL = (
    "SELECT sum(hash(id, 1) % 1000) AS a, max(id % 97) AS b, min(id * 3 % 89) AS c, "
    "sum(CASE WHEN id % 5 = 0 THEN 1 ELSE 0 END) AS d "
    "FROM range(0, 200000, 1, 2) WHERE id % 11 <> 4"
)


def per_layer_units(queries: list[str]) -> dict[str, str]:
    units = {
        "session.get_spark_s": "s",
        "client.sql_df_ms": "ms",
        "client.materialize_ms": "ms",
        "client.bind_ms": "ms",
        "client.unload_ms": "ms",
        "catalog.resolve_ms": "ms",
    }
    for q in queries:
        units[f"queries.plan_s.{q}"] = "s"
        units[f"queries.exec_s.{q}"] = "s"
    units["spark.ref_job_ms"] = "ms"
    units["spark.jobs"] = "count"
    units["spark.stages"] = "count"
    for q in queries:
        units[f"spark.shuffle_bytes.{q}"] = "B"
        units[f"spark.spill_bytes.{q}"] = "B"
    units["spark.cached_blocks_after_query"] = "count"
    return units


def tail(values: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least 10 samples beyond it (with fewer
    than 40 samples: a quarter of them). Returns (value, percentile, n)."""
    xs = sorted(values)
    n = len(xs)
    beyond = min(10, n // 4)
    idx = n - 1 - beyond
    return xs[idx], round(100.0 * (idx + 1) / n, 1), n


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


class Runner:
    """Times operations, checks their results and counts failures."""

    def __init__(self, workload, spark, tracer, sparkstat, rng, data_dir, work_dir):
        self.workload = workload
        self.spark = spark
        self.tracer = tracer
        self.sparkstat = sparkstat
        self.rng = rng
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.records: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, kind, fn, check=None, warm=False, label=None) -> None:
        self.attempted += 1
        op_id = f"{self.workload}#{self.attempted}:{kind}"
        self.tracer.op_id = op_id
        if self.sparkstat is not None:
            self.sparkstat.begin(op_id)
        error = None
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{kind}"):
                got = fn()
        except Exception as exc:  # noqa: BLE001 — every failure is counted
            error = f"{type(exc).__name__}: {exc}"
        ms = (time.perf_counter() - t0) * 1000.0
        rec = {"op": op_id, "kind": kind, "label": label, "ms": ms, "warm": warm}
        if self.sparkstat is not None:
            rec["spark"] = self.sparkstat.end(op_id)
        if error is None and check is not None:
            try:
                check(got)
            except Exception as exc:  # noqa: BLE001
                error = f"{type(exc).__name__}: {exc}"
        rec["ok"] = error is None
        if error is not None:
            self.failed += 1
            self.errors.append(f"{op_id}: {error.splitlines()[0][:300]}")
        self.records.append(rec)
        self.tracer.op_id = None


def _prepare_env(tmp_root: str) -> None:
    """Point every scratch location inside the checkout."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(tmp_root, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(tmp_root, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp_root, "spark-local")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        os.environ.get("SPARK_LAUNCHER_OPTS", "") + " -XX:-UsePerfData").strip()
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_CPUS"] = str(spark_cores())


def spark_cores() -> int:
    """Half the CPUs this process may use. With every vCPU busy, CPU the
    host steals from any one of them stalls a whole stage, and pass times
    spread twice as wide across runs (measured on a 4-vCPU VM)."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds used so far by ``root_pid`` and every descendant (the
    JVM and its Python workers), from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    ticks: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        pid = int(name)
        children[int(fields[1])].append(pid)
        ticks[pid] = sum(int(x) for x in fields[11:15])  # u/s time + waited children
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += ticks.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def reference_job_s(spark) -> float:
    """One run of the reference job: a fixed plain Spark SQL aggregate over
    ``range()`` (two tasks, one single-partition exchange) that calls no
    code of the program under test. Like a client call it is mostly
    parsing, analysis, planning and job launch, and like a query pass it
    runs generated code. Its wall time tracks how fast the host runs Spark
    at that moment: on a shared host that speed drifts by a factor of two
    within minutes, and the ratio of a pass to the reference jobs around
    it drifts far less than either."""
    t0 = time.perf_counter()
    spark.sql(REFERENCE_SQL).collect()
    return time.perf_counter() - t0


def calibrate(spark, data_dir: str) -> list[float]:
    """bench.py's fixed calibration aggregate (lineitem grouped by
    returnflag/linestatus), timed twice by this harness."""
    import pyspark.sql.functions as F

    li = spark.read.parquet(os.path.join(data_dir, "lineitem.parquet"))
    out = []
    for _ in range(2):
        t0 = time.perf_counter()
        (li.groupBy("l_returnflag", "l_linestatus")
         .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("q"),
              F.count(F.lit(1)).alias("n"))
         .write.format("noop").mode("overwrite").save())
        out.append(time.perf_counter() - t0)
    return out


def run(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "trino_iceberg_spark")):
        print(f"perfbench: no trino_iceberg_spark package under {ROOT}", file=sys.stderr)
        return 2
    tmp_parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_parent, exist_ok=True)
    tmp_root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_parent)
    try:
        _prepare_env(tmp_root)
        return _run(args, tmp_root)
    finally:
        shutil.rmtree(tmp_root, ignore_errors=True)
        try:
            os.rmdir(tmp_parent)
        except OSError:
            pass


def _run(args, tmp_root: str) -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import numpy as np

    import datagen
    from spans import NULL_TRACER, Spark, Tracer
    from workloads import CURATION_QUERIES, WORKLOADS

    load_before = os.getloadavg()[0]
    sf = args.sf if args.sf is not None else SF
    data_dir = os.path.join(tmp_root, "data")
    work_dir = os.path.join(tmp_root, "work")
    os.makedirs(work_dir)
    datagen.generate(data_dir, sf, args.seed)

    from trino_iceberg_spark.session import get_spark

    tracer = Tracer(args.workload) if args.trace else NULL_TRACER
    wl = WORKLOADS[args.workload]()
    t_setup = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            warehouse_dir=os.path.join(tmp_root, "warehouse"),
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.driver.memory": "2g",
                "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            },
        )
    session_s = time.perf_counter() - t_setup
    try:
        sparkstat = Spark(spark) if args.trace else None
        r = Runner(args.workload, spark, tracer, sparkstat,
                   np.random.default_rng(args.seed), data_dir, work_dir)
        wl.setup(r)
        # The reference job itself keeps getting faster for about a dozen
        # runs while the JVM compiles its path.
        for _ in range(REF_WARMUP):
            reference_job_s(spark)
        setup_s = time.perf_counter() - t_setup
        first_measured = len(r.records)
        first_span = len(getattr(tracer, "spans", []))

        # Every pass is bracketed by reference jobs: pass_ref_ms[i] is the
        # median of the jobs run just before and just after pass i, and
        # pass_ms[i] the summed wall of its operations.
        passes: list[float] = []
        pass_ms: list[float] = []
        pass_ref_ms: list[float] = []
        pass_cpu: list[float] = []
        ref_s: list[float] = []
        t_run = time.perf_counter()
        before = [reference_job_s(spark) for _ in range(REF_PER_PASS)]
        while True:
            n0 = len(r.records)
            t0, c0 = time.perf_counter(), tree_cpu_s(os.getpid())
            wl.run_pass(r)
            passes.append(time.perf_counter() - t0)
            pass_cpu.append(tree_cpu_s(os.getpid()) - c0)
            pass_ms.append(sum(x["ms"] for x in r.records[n0:]))
            after = [reference_job_s(spark) for _ in range(REF_PER_PASS)]
            pass_ref_ms.append(_median(before + after) * 1000.0)
            for rec in r.records[n0:]:
                rec["ref_ms"] = pass_ref_ms[-1]
            ref_s += before
            before = after
            if time.perf_counter() - t_run >= args.seconds:
                break
        ref_s += before
        calibration = calibrate(spark, data_dir)
    finally:
        tracer.unwrap_all()
        _stop_spark(spark)
    load_after = os.getloadavg()[0]

    measured = r.records[first_measured:]
    if wl.primary:
        primary = [x["ms"] for x in measured if x["kind"] in wl.primary]
        rel = [x["ms"] / x["ref_ms"] for x in measured if x["kind"] in wl.primary]
    else:  # a batch caller waits for the whole pass
        primary = [p * 1000.0 for p in passes]
        rel = [m / ref for m, ref in zip(pass_ms, pass_ref_ms)]
    tail_ms, tail_pct, tail_n = tail(primary) if primary else (0.0, 0.0, 0)
    pass_rel = [m / ref for m, ref in zip(pass_ms, pass_ref_ms)]
    wall = {
        "op_p50_ms": _median(primary),
        "op_tail_ms": tail_ms,
        "ops_per_s": len(primary) / sum(passes),
        "ref_job_ms": _median(ref_s) * 1000.0,
    }
    e2e = {
        "setup_s": setup_s,
        "pass_p50_rel": _median(pass_rel),
    }

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "sf": sf,
        "passes": len(passes),
        "pass_walls_s": [round(p, 4) for p in passes],
        "pass_cpu_s": [round(c, 3) for c in pass_cpu],
        "pass_rel": [round(x, 4) for x in pass_rel],
        "pass_ref_ms": [round(x, 2) for x in pass_ref_ms],
        "end_to_end": e2e,
        "op_p50_rel": _median(rel),
        "op_tail_rel": tail(rel)[0] if rel else 0.0,
        "wall": wall,
        "tail": {"percentile": tail_pct, "samples": tail_n},
        "failed_share": r.failed / max(1, r.attempted),
        "errors": r.errors[:10],
        "named_metrics": _named_metrics(args.workload, setup_s, wall, passes, r),
        "fingerprint": {
            "load_1m_before": load_before,
            "load_1m_after": load_after,
            "nproc": os.cpu_count(),
            "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "calibration_s": [round(c, 4) for c in calibration],
        },
        "session_s": session_s,
    }

    if args.trace:
        layers = _per_layer(tracer, r, measured, first_span, session_s, wl)
        layers["spark.ref_job_ms"] = wall["ref_job_ms"]
        units = per_layer_units(CURATION_QUERIES)
        metrics = {k: {"value": float(layers.get(k, 0.0)), "unit": u} for k, u in units.items()}
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json"),
            {"ops": r.records, "per_layer": layers, "detail": detail},
        )
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u} for k, u in END_TO_END.items()}

    print("PERFBENCH " + json.dumps(detail), flush=True)
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


def _named_metrics(workload, setup_s, wall, passes, r) -> dict:
    """The per-workload wall-clock figures under their workload-specific
    names."""
    out = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "failed_share": {"value": r.failed / max(1, r.attempted), "unit": "ratio"},
    }
    if workload == "athena_interactive":
        out["call_p50_ms"] = {"value": wall["op_p50_ms"], "unit": "ms"}
        out["call_tail_ms"] = {"value": wall["op_tail_ms"], "unit": "ms"}
        out["calls_per_s"] = {"value": wall["ops_per_s"], "unit": "1/s"}
    else:
        out["pass_s"] = {"value": _median(passes), "unit": "s"}
    return out


def _per_layer(tracer, r, measured, first_span, session_s, wl) -> dict:
    spans = tracer.spans[first_span:]
    self_ms = _self_times(tracer.spans, first_span)

    def durations(name):
        return [(s["end"] - s["start"]) * 1000.0 for s in spans
                if s["name"] == name and s["end"] is not None]

    out = {"session.get_spark_s": session_s}
    out["client.sql_df_ms"] = _median(durations("client.sql_df"))
    out["client.materialize_ms"] = _median(
        [ms for name, ms in self_ms if name in ("op.scalar", "op.typed", "op.version", "op.groupby")])
    out["client.bind_ms"] = _median(durations("client.bind"))
    out["client.unload_ms"] = _median(durations("op.unload"))
    out["catalog.resolve_ms"] = _median(r.samples["catalog.resolve_ms"])
    for key, xs in r.samples.items():
        if key.startswith("queries."):
            out[key] = _median(xs)
    spark_info = [x["spark"] for x in measured if "spark" in x]
    out["spark.jobs"] = _mean([s["jobs"] for s in spark_info])
    out["spark.stages"] = _mean([s["stages"] for s in spark_info])
    for q in getattr(wl, "queries", []):
        info = [x["spark"] for x in measured if x.get("label") == q and "spark" in x]
        out[f"spark.shuffle_bytes.{q}"] = _median([s["shuffle_bytes"] for s in info])
        out[f"spark.spill_bytes.{q}"] = _median([s["spill_bytes"] for s in info])
    blocks = r.samples["spark.cached_blocks_after_query"]
    out["spark.cached_blocks_after_query"] = max(blocks) if blocks else 0
    return out


def _self_times(spans, first) -> list[tuple[str, float]]:
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [(s["name"], (s["end"] - s["start"] - child[i]) * 1000.0)
            for i, s in enumerate(spans) if i >= first and s["end"] is not None]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None,
                    help="override the workload's data scale (self-check uses 0.001)")
    args = ap.parse_args(argv)
    # A terminated run still stops Spark and removes its scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return run(args)
    except Exception:  # noqa: BLE001 — no result line on failure
        traceback.print_exc()
        return 1


if __name__ == "__main__":
    sys.exit(main())
