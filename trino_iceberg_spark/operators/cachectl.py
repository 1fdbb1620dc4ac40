"""Operator cache accounting — release exactly what an operator pinned.

Several operators persist bounded intermediates because their plan
consumes them more than once (margin mining's two top-k tables, the
inverted-index df-sizes table, ngram_novelty's gram table; round 16
moved the corpus-sized multi-consumer intermediates — MinHash's shingle
table, the inverted-index explode, semantic dedup's routed cells — to
lazy localCheckpoint for identity reuse, and curate_documents' victim
set became a single window pass, so none of those pin anymore). The
module contract has always been CALLER OWNS THE CACHE:
the returned DataFrame's lineage pins the persisted table, and the
operator cannot unpersist without forcing a recompute.

Before round 8 the only release lever was ``spark.catalog.clearCache()``,
which nukes every cached table in the session — hostile to a long-lived
session that interleaves library calls with its own caching (ADVICE r7).
:class:`CacheRegistry` closes that gap: pass ``caches=reg`` to a
persisting operator and every table it pins is recorded in ``reg``, so
after materializing the result the caller releases exactly those::

    reg = CacheRegistry()
    pairs = ngram_jaccard_pairs(df, "text", "doc_id", caches=reg)
    pairs.write.parquet(out)     # materialize while caches are warm
    reg.unpersist_all()          # release ONLY what this call pinned

or, scoped::

    with CacheRegistry() as reg:
        curate_documents(df, caches=reg).write.parquet(out)
    # caches released on exit

``caches=None`` (every operator's default) keeps the historical
behavior byte-for-byte: the operator persists, nothing is recorded, the
caller falls back to ``clearCache()``. The registry never changes WHAT
is persisted or the storage level — only whether a handle is kept.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

__all__ = ["CacheRegistry", "pin", "checkpoint_lazy"]


class CacheRegistry:
    """Collects the DataFrames an operator run persisted so the caller
    can release exactly those (and nothing else) when done."""

    def __init__(self) -> None:
        self._pinned: list[DataFrame] = []
        self._checkpointed: list[DataFrame] = []

    def add(self, df: DataFrame) -> DataFrame:
        self._pinned.append(df)
        return df

    def add_checkpoint(self, df: DataFrame) -> DataFrame:
        """Record a locally-checkpointed DataFrame for block release.

        ``localCheckpoint`` blocks bypass both ``df.unpersist()`` and
        ``spark.catalog.clearCache()`` (which only clears the SQL cache
        manager), so without a handle they linger until nondeterministic
        ContextCleaner GC (ADVICE r16). ``unpersist_all`` frees them by
        unpersisting the checkpointed RDD behind the LogicalRDD plan.
        NOTE: unlike a pinned table, a released checkpoint does not
        recompute. A released pin falls back to its lineage; a released
        local checkpoint has no lineage (the checkpoint truncated it), so
        any later action over it fails with "block not found". Release
        only after every result that reads it is fully materialized."""
        self._checkpointed.append(df)
        return df

    def __len__(self) -> int:
        return len(self._pinned) + len(self._checkpointed)

    def __iter__(self):
        return iter(self._pinned + self._checkpointed)

    def unpersist_all(self, blocking: bool = False) -> int:
        """Unpersist every recorded table; returns how many were released.
        Safe to call twice (the list is drained on first call)."""
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

    def __enter__(self) -> "CacheRegistry":
        return self

    def __exit__(self, *exc) -> None:
        self.unpersist_all()


def pin(
    df: DataFrame,
    caches: CacheRegistry | None,
    level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
) -> DataFrame:
    """Persist ``df`` at ``level`` and record it in ``caches`` when one is
    supplied.

    Every operator whose persisted intermediate OUTLIVES the call (the
    caller-owns-the-cache set: ngram_jaccard_pairs' df-sizes table,
    containment_pairs, incremental_minhash_pairs, embedding_dedup_pairs,
    margin_mining, ngram_novelty) routes its
    persists through here and exposes ``caches=``. Persists that an
    operator RELEASES itself before returning (connected_components'
    per-round labels, dsir's collected weight table) stay direct — they
    are transient, not caller-owned, and registering them would release
    them twice."""
    df = df.persist(level)
    if caches is not None:
        caches.add(df)
    return df


def checkpoint_lazy(df: DataFrame, caches: CacheRegistry | None) -> DataFrame:
    """``df.localCheckpoint(eager=False)`` with an exact-release handle.

    The identity-reuse intermediates (MinHash signature table, the
    inverted-index explode, semantic dedup's routed cells, tf-idf's
    posting table) moved from persist() to lazy local checkpoints in
    rounds 16-17 because cache plan-matching silently recomputed them
    under composed/AQE plans. Checkpoint blocks, however, have no
    release lever of their own (ADVICE r16): they bypass CacheRegistry's
    ``unpersist`` AND ``spark.catalog.clearCache()``. Routing them
    through here restores the module contract — pass ``caches=`` and
    ``unpersist_all()`` frees exactly these blocks once the result is
    materialized. ``caches=None`` keeps the historical behavior (blocks
    freed by ContextCleaner GC / session stop). On clusters, note the
    documented trade: a local checkpoint forfeits lineage recovery of
    that intermediate on executor loss; long-lived pipelines that need
    that should persist the table to storage instead."""
    out = df.localCheckpoint(eager=False)
    if caches is not None:
        caches.add_checkpoint(out)
    return out
