"""Query scope — one owner for what an operator run shares and reports.

Several operators share an intermediate that their plan reads more
than once. They do it in one of two ways:

- :func:`pin` persists a bounded table (margin mining's two top-k
  tables, the inverted-index df-sizes table, ngram_novelty's gram
  table, incremental MinHash's signature tables, embedding dedup's
  plane projections);
- :func:`checkpoint_lazy` lazily local-checkpoints a corpus-sized one
  (MinHash's signature table, the inverted-index explode, semantic
  dedup's routed cells, tf-idf's posting table, curate_documents' pair
  table), because cache plan-matching silently recomputed those under
  composed/AQE plans and a checkpoint is shared by identity.

The returned DataFrame's lineage reads what was shared, so the operator
cannot release it before returning: the caller owns it. The two skew
guards (the inverted index's ``max_df`` cap and semantic dedup's
``max_cell_size``) also owe the caller a report of the rows they drop.

:class:`CacheRegistry` is the scope that owns all three. Entered with
``with``, it becomes the innermost open scope of the current context,
and every pin, checkpoint and guard report made inside registers with
it implicitly::

    with CacheRegistry():
        pairs = ngram_jaccard_pairs(df, "text", "doc_id")
        pairs.write.parquet(out)     # materialize while the scope is open
    # guard reports logged, pins and checkpoint blocks released

On normal exit the scope first runs, synchronously, each queued guard
report whose watched checkpoint holds cached partitions, i.e. whose
plan the body actually ran: one small collect over blocks that are
already materialized. A plan built and never run reports nothing and
costs no job. Then the scope releases every pin and checkpoint it
recorded, and nothing else. A nested scope owns only what was made
while it was innermost. A body that raises still releases, but runs no
report.

Outside any scope, pins and checkpoints are made exactly as inside one
but nobody records them: the caller falls back to ``clearCache()`` for
pins, and checkpoint blocks live until ContextCleaner GC or session
stop. Guards then queue and report nothing. The scope never changes
WHAT is persisted or checkpointed, nor the storage level, so the
physical plan is the same in and out of a scope.
"""

from __future__ import annotations

import contextvars
import logging

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["CacheRegistry", "pin", "checkpoint_lazy", "skew_guard_report"]

_log = logging.getLogger("trino_iceberg_spark.operators")

_SCOPE: contextvars.ContextVar["CacheRegistry | None"] = contextvars.ContextVar(
    "trino_iceberg_spark_cache_scope", default=None
)


class CacheRegistry:
    """A query scope: records the pins, checkpoints and skew-guard
    reports made while it is the innermost open scope, runs the reports
    and releases exactly those handles when it exits.

    A result used after its scope exits behaves as follows:

    - a pinned table was unpersisted, so a later action recomputes it
      from its lineage (slower, same rows);
    - a local checkpoint has no lineage (the checkpoint truncated it),
      so a later action over it fails with Spark's "Checkpoint block
      ... not found" error; a checkpointed plan the body never ran fails
      instead with "Storage level ... is not appropriate for local
      checkpointing".

    So materialize every result that reads a checkpoint inside the
    scope. A registry is not reentrant: enter each instance once at a
    time."""

    def __init__(self) -> None:
        self._pinned: list[DataFrame] = []
        self._checkpointed: list[DataFrame] = []
        self._reports: list[tuple[DataFrame, DataFrame, str, str, str]] = []
        self._token: contextvars.Token | None = None

    def __len__(self) -> int:
        return len(self._pinned) + len(self._checkpointed)

    def __iter__(self):
        return iter(self._pinned + self._checkpointed)

    def unpersist_all(self, blocking: bool = False) -> int:
        """Unpersist every recorded table; returns how many were released.
        Safe to call twice (the lists are drained on first call).

        Checkpoint blocks bypass both ``df.unpersist()`` and
        ``spark.catalog.clearCache()`` (which only clears the SQL cache
        manager), so they are freed by unpersisting the checkpointed RDD
        behind the LogicalRDD plan."""
        released = 0
        while self._pinned:
            df = self._pinned.pop()
            try:
                df.unpersist(blocking)
                released += 1
            except Exception:  # noqa: BLE001 — a dead session never blocks cleanup
                pass
        while self._checkpointed:
            df = self._checkpointed.pop()
            try:
                df._jdf.logicalPlan().rdd().unpersist(blocking)
                released += 1
            except Exception:  # noqa: BLE001 — a dead session never blocks cleanup
                pass
        return released

    def _run_reports(self) -> None:
        """Run each queued report whose watched checkpoint holds cached
        partitions. The block-manager lookup is a JVM metadata call, not
        a Spark job; only a report that runs adds one small collect."""
        if not self._reports:
            return
        try:
            jsc = self._reports[0][0].sparkSession.sparkContext._jsc.sc()
            cached = {
                i.id() for i in jsc.getRDDStorageInfo() if i.numCachedPartitions() > 0
            }
        except Exception:  # noqa: BLE001 — a stopped session reports nothing
            return
        for watched, dropped, size_col, op_name, message in self._reports:
            try:
                if watched._jdf.logicalPlan().rdd().id() not in cached:
                    continue
                row = dropped.agg(
                    F.count(F.lit(1)), F.coalesce(F.sum(size_col), F.lit(0))
                ).collect()[0]
            except Exception as exc:  # noqa: BLE001 — the guard filter, not the report, protects the result
                _log.warning("%s: skew guard report failed: %s", op_name, exc)
                continue
            if row[0]:
                _log.warning("%s: " + message, op_name, *row)

    def __enter__(self) -> "CacheRegistry":
        self._token = _SCOPE.set(self)
        return self

    def __exit__(self, exc_type, *exc) -> None:
        _SCOPE.reset(self._token)
        self._token = None
        try:
            if exc_type is None:
                self._run_reports()
        finally:
            self._reports.clear()
            self.unpersist_all()


def pin(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK) -> DataFrame:
    """Persist ``df`` at ``level`` and record it in the innermost open
    scope, if any.

    Every operator whose persisted intermediate OUTLIVES the call (the
    caller-owns-the-cache set listed in the module docstring) routes its
    persists through here. Persists that an operator RELEASES itself
    before returning (connected_components' per-round labels, dsir's
    collected weight table) stay direct: they are transient, not
    caller-owned, and registering them would release them twice."""
    df = df.persist(level)
    scope = _SCOPE.get()
    if scope is not None:
        scope._pinned.append(df)
    return df


def checkpoint_lazy(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)``, recorded in the innermost open
    scope, if any, so its blocks are freed at scope exit.

    On clusters, note the documented trade: a local checkpoint forfeits
    lineage recovery of that intermediate on executor loss; long-lived
    pipelines that need that should persist the table to storage
    instead."""
    out = df.localCheckpoint(eager=False)
    scope = _SCOPE.get()
    if scope is not None:
        scope._checkpointed.append(out)
    return out


def skew_guard_report(
    watched: DataFrame, dropped: DataFrame, size_col: str, op_name: str, message: str
) -> None:
    """Queue a skew guard's dropped-rows report on the innermost open
    scope; outside a scope this does nothing.

    ``watched`` is the guard's lazily checkpointed input. At scope exit,
    if the body materialized it, the scope collects
    ``(count(dropped), sum(dropped[size_col]))`` and, when the count is
    non-zero, logs ``message`` (a %-format string receiving those two
    values) as a WARN prefixed with ``op_name``.

    The report stays out of the query plan. A ``DataFrame.observe`` node
    in the guarded subtree was measured stopping the planner from
    broadcasting that subtree, flipping dd11's pair join from a
    broadcast to a sort-merge join (+2 s per pass at sf0.1)."""
    scope = _SCOPE.get()
    if scope is not None:
        scope._reports.append((watched, dropped, size_col, op_name, message))
