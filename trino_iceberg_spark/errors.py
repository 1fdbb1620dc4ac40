"""Engine error types.

The reference surfaces engine failures as exceptions with context
(invalid relation → TrinoException, /root/reference/tests/IntegrationTests/
TrinoClientIntegrationTests.cs:126-132; UNLOAD failures wrapped with the
target path, /root/reference/src/AthenaTrinoClient/AthenaClient.cs:200-207).
We mirror that: Spark's AnalysisException and friends are wrapped in engine
exceptions so callers program against one error surface.
"""

from __future__ import annotations

__all__ = [
    "EngineError",
    "QueryError",
    "UnloadError",
    "StorageError",
    "CommitConflictError",
    "SchemaMismatchError",
]


class EngineError(Exception):
    """Base class for all engine errors."""


class QueryError(EngineError):
    """A SQL statement failed to parse, analyze, or execute."""

    def __init__(self, message: str, sql: str | None = None):
        super().__init__(message)
        self.sql = sql


class UnloadError(EngineError):
    """UNLOAD (query → parquet export) failed; carries the target path,
    matching AthenaClient.cs:200-207."""

    def __init__(self, message: str, target_path: str | None = None):
        super().__init__(message)
        self.target_path = target_path


class StorageError(EngineError):
    """Object-store operation failed (missing key, missing local file...)."""


class CommitConflictError(EngineError):
    """A catalog commit lost its compare-and-swap race more times than the
    retry budget allows (Nessie-style optimistic concurrency), or the
    refreshed head was incompatible with the staged write (e.g. the schema
    evolved underneath a data commit)."""


class SchemaMismatchError(EngineError):
    """A data commit's columns do not match the table's current schema.
    On a direct append this is a caller error (evolve the schema first);
    inside a read-modify-write commit it can only mean concurrent
    evolution between the read and the staging write, so the full-table
    copy-on-write rewrite (``SnapshotTable._rewrite_commit``, taken while
    equality deletes are outstanding) treats it as retryable."""
