"""SQL-text time travel — ``FOR TIMESTAMP AS OF`` inside a query string.

The reference issues time travel as plain SQL through the client
(/root/reference/tests/IntegrationTests/AthenaClientTests.cs:374):

    SELECT ... FROM events_time_travel
    FOR TIMESTAMP AS OF TIMESTAMP '2024-01-01 00:00:00.000000'
    WHERE event_time < ... ORDER BY event_id

Spark's parser doesn't accept the Athena/Trino ``FOR TIMESTAMP AS OF``
clause on plain parquet-backed tables, and the engine's snapshot tables
("iceberg-lite", catalog/snapshots.py) live outside the Spark catalog. So
the client rewrites the clause *before* handing the text to Catalyst:

1. scan the statement quote-aware (string literals are opaque — a clause
   inside a ``'...'`` literal is never rewritten);
2. for every ``<table> FOR TIMESTAMP AS OF <ts>`` / ``FOR VERSION AS OF
   <n>`` (the Athena form) or ``<table> TIMESTAMP AS OF <ts>`` /
   ``VERSION AS OF <n>`` (the Spark/Iceberg form — accepted too so either
   dialect's query strings run), resolve the table to a
   :class:`~trino_iceberg_spark.catalog.snapshots.SnapshotTable`, find
   the requested snapshot id from metadata alone, and look up that
   snapshot's temp view (:meth:`SnapshotResolver.snapshot_view`);
3. splice the view name into the SQL where the table+clause stood.

Everything after the rewrite is ordinary Catalyst planning — WHERE /
ORDER BY / joins around the clause compose untouched, and the snapshot
read is still a plain parquet scan (pushdown and pruning intact).

A snapshot never changes once committed, so its view is built once per
session: the first read pays the parquet footer/schema job, later reads
of the same snapshot cost one manifest-header read.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import threading
import uuid

from pyspark.sql import SparkSession

from .catalog.snapshots import SnapshotTable
from .errors import EngineError, QueryError

__all__ = ["rewrite_time_travel", "SnapshotResolver"]

# <table> [FOR] TIMESTAMP AS OF [TIMESTAMP] '<literal>'
#         [FOR] VERSION   AS OF <int>          (snapshot id)
#         [FOR] VERSION   AS OF '<ref-name>'   (branch or tag — Iceberg
#                                               lets VERSION AS OF name a ref)
_TT_RE = re.compile(
    r"""
    (?P<table>[A-Za-z_][\w$]*(?:\.[A-Za-z_][\w$]*)*)      # dotted table name
    \s+(?:FOR\s+)?
    (?:
        TIMESTAMP\s+AS\s+OF\s+(?:TIMESTAMP\s+)?'(?P<ts>[^']+)'
      | VERSION\s+AS\s+OF\s+(?:(?P<ver>\d+)|'(?P<ref>[^']+)')
    )
    """,
    re.IGNORECASE | re.VERBOSE,
)

_KEYWORDS_NOT_TABLES = frozenset({"from", "join", "where", "select", "on", "as"})


def _string_literal_spans(sql: str) -> list[tuple[int, int]]:
    """Half-open [start, end) spans of ``'...'`` literals ('' and \\ escapes,
    matching the dialect pinned in session.py / formatting.split_statements)."""
    spans: list[tuple[int, int]] = []
    i, n = 0, len(sql)
    while i < n:
        if sql[i] == "'":
            start = i
            i += 1
            while i < n:
                if sql[i] == "\\" and i + 1 < n:
                    i += 2
                    continue
                if sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":
                        i += 2
                        continue
                    break
                i += 1
            spans.append((start, min(i + 1, n)))
        i += 1
    return spans


def parse_ts_literal(lit: str) -> dt.datetime:
    """Parse the µs-precision literal the formatter emits (formatting.py:54);
    ISO 'T' separators and date-only forms are accepted as well."""
    text = lit.strip().replace("T", " ")
    for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
        try:
            return dt.datetime.strptime(text, fmt).replace(tzinfo=dt.timezone.utc)
        except ValueError:
            continue
    raise QueryError(f"unparseable timestamp literal in time-travel clause: {lit!r}")


class SnapshotResolver:
    """Maps SQL table names to snapshot-table directories.

    Explicit registrations win; otherwise a warehouse-dir convention is
    tried: ``<warehouse>/<part>/<part>/...`` (dotted names become nested
    dirs) holding a ``metadata/`` manifest dir.

    The resolver also owns the temp views that snapshot reads are served
    from (:meth:`snapshot_view`); clients that share a resolver share
    them."""

    def __init__(self, warehouse_dir: str | None = None):
        self.warehouse_dir = warehouse_dir
        self._tables: dict[str, str] = {}
        # (session uuid, table dir, snapshot id) → (committed_at_us, view
        # name, session). The commit time tells a snapshot apart from a
        # later one that reuses its id: ids restart after DROP/CREATE at
        # the same dir, and the newest id is reused after it expires.
        self._views: dict[tuple[str, str, int], tuple[int, str, SparkSession]] = {}
        self._views_lock = threading.Lock()

    def register(self, name: str, table_dir: str) -> None:
        self._tables[name.lower()] = table_dir

    def rename(self, old: str, new: str) -> None:
        """Re-key a registration (Trino's ``ALTER TABLE x RENAME TO y``
        catalog rename — the table DIRECTORY is untouched, only the SQL
        name moves). Only explicitly-registered names rename; a
        warehouse-convention name's SQL identity IS its directory path,
        so renaming it would require moving data."""
        ko, kn = old.lower(), new.lower()
        if ko not in self._tables:
            raise EngineError(f"unknown snapshot table {old!r} (not registered)")
        if kn in self._tables:
            raise EngineError(f"snapshot table {new!r} already registered")
        self._tables[kn] = self._tables.pop(ko)

    def unregister(self, name: str) -> None:
        self._tables.pop(name.lower(), None)

    def registered_names(self) -> list[str]:
        return list(self._tables)

    def resolve(self, spark: SparkSession, name: str) -> SnapshotTable | None:
        key = name.lower()
        if key in self._tables:
            return SnapshotTable(spark, self._tables[key])
        # unqualified name matching a registered qualified one (schema search)
        suffix = "." + key
        hits = [d for k, d in self._tables.items() if k.endswith(suffix)]
        if len(hits) == 1:
            return SnapshotTable(spark, hits[0])
        if self.warehouse_dir:
            cand = os.path.join(self.warehouse_dir, *key.split("."))
            if os.path.isdir(os.path.join(cand, "metadata")):
                return SnapshotTable(spark, cand)
        return None

    def snapshot_view(
        self, spark: SparkSession, table: SnapshotTable, snapshot_id: int
    ) -> str:
        """Name of a temp view in ``spark`` over snapshot ``snapshot_id``
        of ``table``, built on first use and reused after that. A hit costs
        one manifest-header read and runs no Spark job; a miss reads the
        snapshot (parquet footer/schema job) under a lock, so concurrent
        callers build each view once, and first evicts this table's
        entries whose manifest is gone or was replaced."""
        key = (spark._jsparkSession.sessionUUID(), table.table_dir, snapshot_id)
        hdr = table._snapshot_header(snapshot_id)
        committed = hdr["committed_at_us"]
        hit = self._views.get(key)
        if hit is None or hit[0] != committed:
            with self._views_lock:
                hit = self._views.get(key)
                if hit is None or hit[0] != committed:
                    self._sweep(table.table_dir)
                    base = re.sub(r"\W", "_", os.path.basename(table.table_dir))
                    view = f"__snap_{base}_{snapshot_id}_{uuid.uuid4().hex[:8]}"
                    df = table._read_snapshot(table._resolve_snapshot(hdr))
                    df.createOrReplaceTempView(view)
                    hit = self._views[key] = (committed, view, spark)
        return hit[1]

    def evict(self, table_dir: str) -> None:
        """Drop every snapshot view over ``table_dir`` (DROP TABLE)."""
        table_dir = os.path.abspath(table_dir)
        with self._views_lock:
            for key in [k for k in self._views if k[1] == table_dir]:
                self._drop(key)

    def _sweep(self, table_dir: str) -> None:
        """Under the lock: drop entries whose manifest is gone, and those
        of ``table_dir`` whose manifest now holds another snapshot."""
        for key, (committed, _, _) in list(self._views.items()):
            path = os.path.join(key[1], "metadata", f"v{key[2]}.json")
            if not os.path.isfile(path):
                self._drop(key)
            elif key[1] == table_dir:
                try:
                    now = SnapshotTable._load_manifest_header(path)["committed_at_us"]
                except OSError:  # expired since the isfile check
                    now = None
                if now != committed:
                    self._drop(key)

    def _drop(self, key: tuple[str, str, int]) -> None:
        _, view, spark = self._views.pop(key)
        spark.catalog.dropTempView(view)


def rewrite_time_travel(
    spark: SparkSession,
    sql: str,
    resolver: SnapshotResolver | None,
    transient: list[str] | None = None,
) -> str:
    """Replace every time-travel clause with the temp view of the resolved
    snapshot. Bare references to *registered* snapshot tables are also
    rewritten — to the view of the current snapshot — so the same table
    name queries normally and time-travels in one statement (the reference
    reads ``events_time_travel`` both ways, AthenaClientTests.cs:367-380).
    Returns the SQL unchanged when nothing applies.

    Snapshot views are shared and outlive the call
    (:meth:`SnapshotResolver.snapshot_view`). ``$metadata`` relations get
    fresh per-call views; their names are appended to ``transient`` when
    given, for the caller to drop once the statement is analyzed."""
    has_clause = "as of" in sql.lower()
    registered = resolver.registered_names() if resolver is not None else []
    has_bare = any(
        re.search(rf"(?<![\w.]){re.escape(n)}(?![\w.])", sql, re.IGNORECASE)
        for n in registered
    )
    if not has_clause and not has_bare:
        return sql  # fast path — no literal scan
    literal_spans = _string_literal_spans(sql)

    def in_literal(pos: int) -> bool:
        return any(s <= pos < e for s, e in literal_spans)

    # (start, end, replacement) spans. Metadata tables first (their names
    # CONTAIN a registered name, so they must claim their spans before the
    # bare-name pass), then time-travel clauses, then bare names; later
    # passes drop any match overlapping an earlier span.
    repls: list[tuple[int, int, str]] = []
    if "$" in sql and registered:
        # Trino-style metadata relations: <table>$snapshots / $files /
        # $delete_files / $history / $refs / $health / $partitions /
        # $properties / $manifests (optionally backtick-quoted), served
        # fresh from the manifests at rewrite time.
        _META_DF = {
            "snapshots": lambda t: t.snapshots_df(),
            "files": lambda t: t.files_df(),
            "delete_files": lambda t: t.delete_files_df(),
            "history": lambda t: t.history_df(),
            "refs": lambda t: t.refs_df(),
            "health": lambda t: t.health_df(),
            "partitions": lambda t: t.partitions_df(),
            "properties": lambda t: t.properties_df(),
            "manifests": lambda t: t.manifests_df(),
        }
        for name in registered:
            pat = (
                rf"(?<![\w.$])`?(?P<tbl>{re.escape(name)})"
                rf"\$(?P<kind>snapshots|delete_files|files|history|refs"
                rf"|health|partitions|properties|manifests)`?(?!\w)"
            )
            meta_views: dict[str, str] = {}
            for m in re.finditer(pat, sql, re.IGNORECASE):
                if in_literal(m.start()):
                    continue
                kind = m.group("kind").lower()
                if kind not in meta_views:
                    table = resolver.resolve(spark, name)
                    if table is None:
                        continue
                    view = f"__meta_{name.split('.')[-1]}_{kind}_{uuid.uuid4().hex[:8]}"
                    _META_DF[kind](table).createOrReplaceTempView(view)
                    if transient is not None:
                        transient.append(view)
                    meta_views[kind] = view
                repls.append((m.start(), m.end(), meta_views[kind]))
    if has_clause:
        for m in _TT_RE.finditer(sql):
            if in_literal(m.start()) or m.group("table").lower() in _KEYWORDS_NOT_TABLES:
                continue
            if any(s < m.end() and m.start() < e for s, e, _ in repls):
                continue  # inside a metadata-table span
            name = m.group("table")
            if resolver is None:
                raise QueryError(
                    f"time-travel clause on {name!r} but no snapshot catalog is "
                    "configured (pass snapshot_resolver/warehouse to the client)"
                )
            table = resolver.resolve(spark, name)
            if table is None:
                raise QueryError(
                    f"time travel requested on unknown snapshot table {name!r}"
                )
            if m.group("ts") is not None:
                sid = table.snapshot_id_as_of(parse_ts_literal(m.group("ts")))
            elif m.group("ref") is not None:
                sid = table.ref_snapshot_id(m.group("ref"))  # branch or tag head
            else:
                sid = int(m.group("ver"))
            repls.append((m.start(), m.end(), resolver.snapshot_view(spark, table, sid)))
    if has_bare:
        for name in registered:
            view = None
            for m in re.finditer(
                rf"(?<![\w.]){re.escape(name)}(?![\w.])", sql, re.IGNORECASE
            ):
                if in_literal(m.start()) or any(
                    s < m.end() and m.start() < e for s, e, _ in repls
                ):
                    continue
                if view is None:
                    table = resolver.resolve(spark, name)
                    sid = table.current_snapshot_id()
                    if sid is None:
                        raise EngineError(f"table {table.table_dir} has no snapshots")
                    view = resolver.snapshot_view(spark, table, sid)
                repls.append((m.start(), m.end(), view))
    if not repls:
        return sql
    repls.sort()
    out: list[str] = []
    last = 0
    for start, end, view in repls:
        out.append(sql[last:start])
        out.append(view)
        last = end
    out.append(sql[last:])
    return "".join(out)


# -- QUALIFY rewrite ---------------------------------------------------------

_QUALIFY_TERMINATORS = re.compile(
    # ORDER BY/LIMIT/OFFSET end the predicate; a top-level set operator does
    # too (a QUALIFY in a non-final UNION/INTERSECT/EXCEPT branch must not
    # swallow the following branch into the predicate). Select-list
    # `* EXCEPT (cols)` can't appear inside a scalar predicate, so the bare
    # keywords are unambiguous here.
    r"(?i)\b(ORDER\s+BY|LIMIT|OFFSET|UNION|INTERSECT|EXCEPT)\b"
)

_SETOP = re.compile(r"(?i)\b(UNION|INTERSECT|EXCEPT)\b(\s+(ALL|DISTINCT)\b)?")


def _is_setop(sql: str, m: "re.Match") -> bool:
    """True when a UNION/INTERSECT/EXCEPT match is a set OPERATOR — i.e. is
    followed by a query expression (SELECT/WITH/VALUES/TABLE/FROM, possibly
    parenthesized) — as opposed to Spark's select-list ``* EXCEPT (cols)``,
    whose parenthesized operand starts with a bare column name."""
    j = m.end()
    while j < len(sql):
        if sql[j].isspace() or sql[j] == "(":
            # a set-op operand may be wrapped in ANY depth of parens
            j += 1
            continue
        break
    return bool(re.match(r"(?i)(SELECT|WITH|VALUES|TABLE|FROM)\b", sql[j:]))


def _top_level_spans(sql: str) -> tuple[list[tuple[int, int]], "callable"]:
    """String-literal spans plus a depth map for paren nesting, shared by
    top-level keyword scans. Returns (literal_spans, at_top_level(pos)).

    One forward walk with a cursor into the (position-sorted) literal spans
    — amortized O(1) per character, not a per-character scan of all spans
    (quadratic for literal-heavy SQL on the every-statement rewrite path)."""
    literal_spans = _string_literal_spans(sql)

    in_lit = [False] * (len(sql) + 1)
    depth_at: list[int] = [0] * (len(sql) + 1)
    d = 0
    li = 0
    for i, ch in enumerate(sql):
        while li < len(literal_spans) and literal_spans[li][1] <= i:
            li += 1
        if li < len(literal_spans) and literal_spans[li][0] <= i:
            in_lit[i] = True
            depth_at[i] = d
            continue
        if ch == "(":
            depth_at[i] = d
            d += 1
            continue
        if ch == ")":
            d -= 1
        depth_at[i] = d
    depth_at[len(sql)] = d

    def at_top_level(pos: int) -> bool:
        return depth_at[pos] == 0 and not in_lit[pos]

    return literal_spans, at_top_level


def rewrite_qualify(sql: str) -> str:
    """Rewrite a top-level ``QUALIFY <predicate>`` clause (DuckDB/Snowflake/
    BigQuery syntax — filter on window-function results without a manual
    subquery; Trino and Spark both lack it) into the equivalent nested
    query::

        SELECT * EXCEPT (__q) FROM (
          SELECT __i.*, (<predicate>) AS __q FROM (<query sans QUALIFY>) __i
        ) WHERE __q  [ORDER BY/LIMIT tail]

    The predicate may reference select-list aliases and window functions
    (both are columns/expressions over the wrapped subquery). Top-level
    clauses only: a QUALIFY inside a subquery or a string literal is left
    untouched. Returns the SQL unchanged when no clause is present.

    Evaluation-order note: the wrapped form computes windows over the
    SELECT's result rows — exactly QUALIFY's documented semantics (it
    filters AFTER windows are evaluated), so predicates against base
    columns dropped by the projection are out of scope (as in DuckDB)."""
    if "qualify" not in sql.lower():
        return sql
    _, at_top = _top_level_spans(sql)
    m = None
    for cand in re.finditer(r"(?i)\bQUALIFY\b", sql):
        if at_top(cand.start()):
            m = cand
            break
    if m is None:
        return sql
    # QUALIFY binds to its own SELECT branch (DuckDB/Snowflake semantics):
    # in a set-operation query, wrap only the final branch before the
    # QUALIFY, not the whole UNION/INTERSECT/EXCEPT chain.
    branch_start = 0
    for sm in _SETOP.finditer(sql, 0, m.start()):
        if at_top(sm.start()) and _is_setop(sql, sm):
            branch_start = sm.end()
    prefix = sql[:branch_start] + " " if branch_start else ""
    head = sql[branch_start : m.start()].strip().rstrip(";")
    rest = sql[m.end():]
    # The predicate runs until a TOP-LEVEL ORDER BY / LIMIT / OFFSET.
    _, rest_top = _top_level_spans(rest)
    tail_start = len(rest)
    for t in _QUALIFY_TERMINATORS.finditer(rest):
        if rest_top(t.start()):
            tail_start = t.start()
            break
    pred = rest[:tail_start].strip().rstrip(";")
    tail = rest[tail_start:].strip().rstrip(";")
    if not pred:
        raise QueryError("QUALIFY requires a predicate", sql=sql)
    if tail:
        # A set-op tail may carry its own per-branch QUALIFY (valid
        # DuckDB/Snowflake: one QUALIFY per branch) — rewrite recursively;
        # each pass consumes exactly one clause, so this terminates.
        tail = rewrite_qualify(tail)
    q = uuid.uuid4().hex[:8]
    return (
        prefix
        + f"SELECT * EXCEPT (__q_{q}) FROM ("
        f"SELECT __i_{q}.*, ({pred}) AS __q_{q} FROM ({head}) AS __i_{q}"
        f") WHERE __q_{q}" + (f" {tail}" if tail else "")
    )
