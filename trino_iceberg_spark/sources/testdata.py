"""Loaders for the driver-provided parquet tables.

Tables: region nation customer supplier part orders lineitem events
documents embeddings (TESTDATA.md). Every loader is a plain parquet
scan so Catalyst gets full pushdown/pruning; nothing is cached or
collected here. The one thing remembered is each file's schema
(:func:`read_parquet`), so a repeat read runs no inference job.
"""

from __future__ import annotations

import os
import shutil
import stat
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

__all__ = [
    "TABLES",
    "read_parquet",
    "load_table",
    "load_tables",
    "register_views",
    "default_sf_dir",
    "work_dir",
]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


_WORK_ROOT_INIT = False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _sweep_stale_work_roots(min_age_s: float = 3600.0) -> None:
    """Delete tis_<pid> trees left by processes that no longer exist —
    unique-per-PID paths never self-recycle the way the old fixed names
    did, so without this (plus the atexit hook) /tmp grows one full set
    of staged tables per process, forever.

    The age guard closes a PID-recycling race: a tree younger than
    ``min_age_s`` may belong to a JUST-launched process that was handed
    the dead process's pid between our liveness check and the rmtree —
    skip it; it either cleans itself up via atexit or ages into the next
    process's sweep."""
    tmp = tempfile.gettempdir()
    now = __import__("time").time()
    try:
        names = os.listdir(tmp)
    except OSError:
        return
    for name in names:
        if not name.startswith("tis_"):
            continue
        suffix = name[4:]
        if suffix.isdigit():
            # PID-namespaced tree: sweep only when its owner is dead.
            if _pid_alive(int(suffix)):
                continue
        # Non-numeric tis_* names are legacy fixed-name scratch dirs from
        # before PID namespacing (tis_st08_events, tis_a11_unload, ...) —
        # nothing writes them anymore, so any survivor is stale. The age
        # guard scans the WHOLE tree's mtimes (a directory's own mtime
        # only reflects direct-child changes — a long stream writing into
        # nested stage/ dirs never bumps the top level), so a tree is
        # only removed once nothing anywhere inside it has been touched
        # for min_age_s. Legacy trees are small staged-table dirs; the
        # walk is bounded and runs once per process.
        path = os.path.join(tmp, name)
        try:
            newest = os.path.getmtime(path)
            for dirpath, _dirnames, filenames in os.walk(path):
                newest = max(newest, os.path.getmtime(dirpath))
                for f in filenames:
                    newest = max(newest, os.path.getmtime(os.path.join(dirpath, f)))
            if now - newest < min_age_s:
                continue
        except OSError:
            continue
        shutil.rmtree(path, ignore_errors=True)


def work_dir(tag: str) -> str:
    """Fresh scratch dir for registry entries that stage files on disk.

    Namespaced by PID so two concurrent registry runs (the serial driver
    plus a parallel pytest or plan audit in another process) can never
    clobber each other's snapshot tables / stream stage dirs — the exact
    collision observed on st08's old fixed ``/tmp/tis_st08_events`` path.
    Recreated empty on every call so a re-run inside one process starts
    clean. This process's tree is removed at interpreter exit, and trees
    orphaned by dead PIDs are swept on first use.
    """
    global _WORK_ROOT_INIT
    parent = os.path.join(tempfile.gettempdir(), f"tis_{os.getpid()}")
    if not _WORK_ROOT_INIT:
        _WORK_ROOT_INIT = True
        import atexit

        atexit.register(shutil.rmtree, parent, True)
        _sweep_stale_work_roots()
    root = os.path.join(parent, tag)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    return root


def _scan_splits(path: str) -> tuple[int, int] | None:
    """(row_groups, rows) of a parquet file from its footer — the REAL
    upper bound on scan parallelism. A parquet row group is decoded by
    exactly one task (byte-range splits assign each group to the split
    holding its midpoint), so a single-row-group file pins the whole scan
    stage — and every map-side projection fused into it — to ONE core no
    matter what ``spark.sql.files.maxPartitionBytes`` says. Spark cannot
    see this at planning time (it splits by bytes, not groups); the
    footer read is a few KB. Returns None for layouts this heuristic does
    not model (directories, missing file) — callers must then leave the
    scan alone."""
    try:
        import pyarrow.parquet as pq

        if not os.path.isfile(path):
            return None
        md = pq.ParquetFile(path).metadata
        return md.num_row_groups, md.num_rows
    except Exception:  # noqa: BLE001 — a footer we cannot read never blocks a load
        return None


#: Minimum rows per partition worth scheduling a task for when spreading —
#: below this, task overhead beats the parallelism (the heavy operators
#: this serves do ~ms of expression work per row-batch of this size).
_SPREAD_MIN_ROWS_PER_PART = 64


def _spread(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scale-adaptive fix for unsplittable input (optimization guide §2.5:
    "one huge unsplittable file … repartition immediately after the
    read"): when the file's row-group count caps scan parallelism below
    the cluster's cores, hash-repartition up to ``defaultParallelism`` so
    downstream map-side work (shingling, MinHash, chunk explodes — orders
    of magnitude heavier than the shuffle of these small rows) runs on
    every core instead of one. Self-disabling at scale: a production
    table has thousands of row groups, so ``splits >= par`` and the scan
    is untouched; tiny SFs fall below the rows-per-partition floor and
    are untouched too. Round-robin ``repartition(n)`` is deliberately
    avoided — it pays a per-partition sort (SPARK-23207); hashing the
    whole row spreads deterministically without one."""
    par = spark.sparkContext.defaultParallelism
    info = _scan_splits(path)
    if info is None:
        return df
    splits, rows = info
    if splits >= par:
        return df
    target = min(par, max(1, rows // _SPREAD_MIN_ROWS_PER_PART))
    if target <= splits:
        return df
    from pyspark.sql import functions as F

    return df.repartition(target, F.col(df.columns[0]))


#: SQL confs that change what parquet schema inference returns for the
#: same file; their current values are part of every memo stamp.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.mergeSchema",
)

#: absolute file path -> (stamp, inferred StructType); one entry per path.
_SCHEMAS: dict[str, tuple[tuple, T.StructType]] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job on
    repeat reads of an unchanged file.

    Inference runs a one-task Spark job (~0.1 s) on every call; here the
    inferred schema is remembered per absolute path, stamped with the
    file's ``(st_mtime_ns, st_size)`` and the current values of the confs
    that change inference. A matching stamp reads with that schema,
    which plans the same scan; any other stamp re-infers and replaces
    the entry. Every call returns a fresh relation (fresh attribute
    ids), so DataFrame self-joins of two reads keep working. Paths that
    are not a regular file (directories, missing files) always infer:
    a directory's stamp does not see its files being rewritten."""
    key = os.path.abspath(path)
    try:
        st = os.stat(key)
    except OSError:
        st = None
    if st is None or not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    stamp = (st.st_mtime_ns, st.st_size) + tuple(
        spark.conf.get(c, None) for c in _SCHEMA_CONFS
    )
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[0] == stamp:
        return spark.read.schema(hit[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (stamp, df.schema)
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, *, spread: bool = False
) -> DataFrame:
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark rejects outright
        # (PARQUET_TYPE_ILLEGAL) unless nanosAsLong is on.  This must be set on
        # the session that does the read — callers (e.g. an external harness)
        # may build their own SparkSession without our session.py defaults, so
        # set it here; it is a runtime SQL conf, safe to flip post-startup.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp[us]-no-tz must read as TIMESTAMP, not TIMESTAMP_NTZ
        # (unix_micros/withWatermark reject NTZ).  Runtime-settable; the
        # schema check below still handles sessions that locked it on.
        try:
            spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        except Exception:  # noqa: BLE001 — locked-down conf never blocks a read
            pass
    df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        from pyspark.sql import functions as F

        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # With nanosAsLong=true a TIMESTAMP(NANOS) column arrives as
            # bigint nanos — floor-divide to µs (DuckDB's TIMESTAMP_NS →
            # TIMESTAMP conversion floors identically).  Integer DIV, not
            # double division — ns values exceed double's 53-bit mantissa
            # and would round up at the µs boundary.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # timestamp[us] with no timezone reads as TIMESTAMP_NTZ on
            # Spark 4, which unix_micros() and withWatermark() reject.
            # Cast to session-tz TIMESTAMP; the session tz is pinned UTC
            # (session.py defaults + __spark_entry__._TUNED_CONFS) so the
            # wall-clock instant is identical to what DuckDB reads and
            # oracle hashes are unaffected.
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    if spread:
        df = _spread(spark, df, os.path.join(sf_dir, f"{name}.parquet"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so ``spark.sql`` sees the same
    names the DuckDB oracle does."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
