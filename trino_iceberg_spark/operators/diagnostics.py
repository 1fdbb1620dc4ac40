"""Lazy (off-the-query-path) diagnostics for skew-guard recall loss.

Round 16 introduced ``eager_diagnostics=False`` on the guarded dedup /
similarity operators: it keeps the guard's FILTER (identical output) but
used to drop the dropped-rows *report* entirely, so on exactly the bench
paths a guard silently excluding data at scale would never surface
(VERDICT r16 "What's wrong #4"). This module restores the report without
restoring its costs.

Design notes (round 17). The first attempt attached the counts as a
``DataFrame.observe`` query observation — truly zero extra jobs — but a
``CollectMetrics`` node in the guarded subtree stops the planner from
broadcasting that subtree, flipping the downstream pair join from
BroadcastHashJoin to SortMergeJoin (measured +2 s/pass on dd11 at
sf0.1, plan-verified). So instead the REPORT LEAVES THE QUERY PLAN
UNTOUCHED: every guarded operator already lazy-checkpoints the table
the guard sizes, so a daemon thread polls the block manager (a JVM
metadata call, no Spark job) until the checkpoint's RDD blocks appear —
i.e. until the caller's own action has materialized the data — and only
then collects the tiny dropped-count aggregate as an asynchronous
micro-job over the already-cached blocks (two stages over #cells rows,
milliseconds; it backfills idle cores behind the caller's job tail,
guide §2.6). Plan construction runs NO job; a plan that is never
executed reports nothing and costs one sleeping daemon thread (0.2 s →
30 s backoff; threads die with the process).

Known race: if the caller releases the checkpoint (CacheRegistry
``unpersist_all`` / session stop) in the instant between the poller
seeing blocks and its collect, the micro-job recomputes the lineage or
fails; the poller swallows the failure — the report is best-effort by
design, the guard FILTER is what protects the result.
"""

from __future__ import annotations

import itertools
import logging
import threading
import time
from typing import Callable

from pyspark.sql import DataFrame

__all__ = ["async_skew_report", "skew_guard_report"]

_SEQ = itertools.count()

#: test hook — threads register here so tests can join them; finished
#: threads are pruned on each registration
_LIVE_POLLERS: list[threading.Thread] = []
_POLLERS_LOCK = threading.Lock()


def async_skew_report(
    checkpointed: DataFrame,
    metrics: DataFrame,
    report: Callable[[list], None],
) -> None:
    """Arrange for ``report(metrics.collect()[0])`` to run once, from a
    daemon thread, after the caller's own action has materialized
    ``checkpointed`` (a lazily local-checkpointed DataFrame whose blocks
    the poller watches). Runs nothing at plan-build time and never
    touches the caller's plan."""
    try:
        rdd_id = checkpointed._jdf.logicalPlan().rdd().id()
        jsc = checkpointed.sparkSession.sparkContext._jsc.sc()
    except Exception:  # noqa: BLE001 — no handle, no report; the filter still guards
        return

    def poll() -> None:
        delay = 0.2
        while True:
            try:
                infos = jsc.getRDDStorageInfo()
                if any(
                    i.id() == rdd_id and i.numCachedPartitions() > 0 for i in infos
                ):
                    break
            except Exception:  # noqa: BLE001 — a stopped session ends the poller
                return
            time.sleep(delay)
            delay = min(delay * 1.6, 30.0)
        try:
            report(metrics.collect()[0])
        except Exception:  # noqa: BLE001 — best-effort: released blocks / racing stop
            return

    t = threading.Thread(
        target=poll, daemon=True, name=f"tis-skew-report-{next(_SEQ)}"
    )
    # Finished pollers are dropped here, so a long-lived driver holds only
    # the threads still waiting.
    with _POLLERS_LOCK:
        _LIVE_POLLERS[:] = [p for p in _LIVE_POLLERS if p.is_alive()]
        _LIVE_POLLERS.append(t)
    t.start()


def skew_guard_report(op_name: str, message: str) -> Callable[[list], None]:
    """Standard reporter: WARN through the operators logger when the
    first metric (a dropped-count) is non-zero. ``message`` is a
    %-format string receiving the collected row's values in order."""

    def _report(row) -> None:
        vals = list(row)
        if vals and vals[0]:
            logging.getLogger("trino_iceberg_spark.operators").warning(
                "%s: " + message, op_name, *vals
            )

    return _report
