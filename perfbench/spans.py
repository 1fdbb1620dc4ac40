"""Span recorder and Spark status readers for the traced run.

A span is one timed call: name, start, end, parent, workload and
operation id. Spans stay in memory and are written once, when the run
ends. A layer's self time is a span's duration minus its child spans.

``Spark`` reads what Spark itself recorded for an operation: the jobs
and stages of its job group (``statusTracker``), and the per-node
metrics of its SQL executions (the SQL status store, readable with the
UI disabled and without running a job).

Untraced runs use ``NULL_TRACER``, whose spans record nothing (a few
microseconds per operation).
"""

from __future__ import annotations

import contextlib
import functools
import json
import re
import time


class Tracer:
    enabled = True

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "workload": self.workload,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a version that runs inside a span."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return original(*args, **kwargs)

        self._patches.append((owner, attr, original))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            dict(s, start=round(s["start"] - t0, 6),
                 end=None if s["end"] is None else round(s["end"] - t0, 6))
            for s in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"workload": self.workload, "spans": spans, **extra}, fh)


class _NullTracer:
    enabled = False
    op_id = None

    @contextlib.contextmanager
    def span(self, name: str):
        yield None

    def unwrap_all(self) -> None:
        pass


NULL_TRACER = _NullTracer()


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-6, "ms": 1.0, "s": 1000.0, "m": 60_000.0, "h": 3_600_000.0}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> float:
    """Spark's rendered metric value ('1.4 s', '327.0 KiB', 'total (min,
    med, max ...)\\n2.4 s (...)', '60,000') as a number: bytes for sizes,
    ms for timings."""
    if not text:
        return 0.0
    lines = text.split("\n")
    line = lines[1] if lines[0].startswith("total") and len(lines) > 1 else lines[0]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2) or ""
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


class Spark:
    """Reads jobs, stages and SQL plan metrics for one operation."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sharedState().statusStore()
        self._seen = self.store.executionsCount()

    def begin(self, op_id: str) -> None:
        self._seen = self.store.executionsCount()
        self.sc.setJobGroup(op_id, op_id, False)

    def end(self, op_id: str) -> dict:
        """Jobs, stages, shuffle/spill bytes and top-3 operators by time
        of the operation started by ``begin(op_id)``."""
        self.sc.setJobGroup("idle", "idle", False)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(op_id)
        stages = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            stages += len(info.stageIds) if info is not None else 0
        count = self.store.executionsCount()
        shuffle = spill = 0.0
        nodes: list[tuple[float, str]] = []
        if count > self._seen:
            execs = self.store.executionsList(self._seen, count - self._seen)
            for i in range(execs.size()):
                e = execs.apply(i)
                if e.description() != op_id:
                    continue
                graph = self.store.planGraph(e.executionId())
                values = self.store.executionMetrics(e.executionId())
                all_nodes = graph.allNodes()
                for k in range(all_nodes.size()):
                    node = all_nodes.apply(k)
                    metrics = node.metrics()
                    node_ms = 0.0
                    for m in range(metrics.size()):
                        metric = metrics.apply(m)
                        opt = values.get(metric.accumulatorId())
                        if not opt.isDefined():
                            continue
                        name, value = metric.name(), parse_metric(opt.get())
                        if name == "shuffle bytes written":
                            shuffle += value
                        elif name == "spill size":
                            spill += value
                        elif metric.metricType() in ("timing", "nsTiming") and (
                            not node.name().startswith("WholeStageCodegen")
                        ):
                            node_ms = max(node_ms, value)
                    if node_ms > 0:
                        nodes.append((node_ms, node.name().strip()))
        self._seen = count
        nodes.sort(reverse=True)
        return {
            "jobs": len(jobs),
            "stages": stages,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
            "top_operators": [{"name": n, "ms": round(ms, 1)} for ms, n in nodes[:3]],
        }

    def cached_blocks(self) -> int:
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(int(info.numCachedPartitions()) for info in infos)
