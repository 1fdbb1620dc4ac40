"""Structured Streaming query entry — windowed event aggregation with a
watermark, driven to completion on the batch testdata (memory sink +
processAllAvailable), oracle-checked against the equivalent batch SQL.

The streaming pipeline is the real one (readStream → withWatermark →
window → writeStream); feeding it a finite parquet directory makes it
deterministic: after processAllAvailable + stop, the memory table holds the
complete windowed aggregate (append mode emits all windows once the stream
drains; the watermark only governs state eviction here — no late data in a
replayed file source).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import load_table, read_parquet, work_dir
from .registry import register



def _staged_stream(spark: SparkSession, sf_dir: str, tag: str):
    """readStream over the events parquet staged into a per-entry dir
    (symlink, no copy), with the same ns->us ts conversion as
    sources.testdata.load_table."""
    stage_dir = work_dir(f"{tag}_events")  # fresh per call: link never pre-exists
    link = os.path.join(stage_dir, "events.parquet")
    src = os.path.join(sf_dir, "events.parquet")
    os.symlink(src, link)
    raw_schema = read_parquet(spark, src).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
    )
    return _fix_ts(stream)


def _fix_ts(stream: DataFrame) -> DataFrame:
    """Same ts normalization as sources.testdata.load_table: bigint nanos →
    µs timestamp; TIMESTAMP_NTZ → session-tz TIMESTAMP (UTC-pinned, so the
    instant matches what DuckDB reads)."""
    ts_dtype = dict(stream.dtypes).get("ts")
    if ts_dtype == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif ts_dtype == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


@register(
    "st01_windowed_stream",
    oracle="""
    SELECT DATE_TRUNC('hour', ts) AS window_start, event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def st01_windowed_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling-window counts per event_type via readStream over the
    events parquet (10-minute watermark), complete-mode memory sink.

    window(ts, '1 hour').start == date_trunc('hour', ts), so the batch SQL
    oracle checks the streaming result exactly."""
    # File-stream sources need a directory; _staged_stream symlinks the
    # single events file into one (no data copy).
    stream = _staged_stream(spark, sf_dir, "st01")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
    )
    qname = f"st01_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return (
        spark.table(qname)
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "cnt",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "st02_session_stream",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    sessions AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_no
        FROM ordered
    )
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           COUNT(*) AS events_in_session
    FROM sessions GROUP BY user_id, session_no
    ORDER BY user_id, session_no
    """,
)
def st02_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-minute gap) per user via
    session_window, numbered per user in event-time order — equivalent to
    the batch gap-sessionization SQL, so the session sizes hash-match the
    oracle exactly (native session_window merges events with gaps < 30min
    exactly like the LAG/cumulative-sum construction)."""
    stream = _staged_stream(spark, sf_dir, "st02")
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("events_in_session"))
    )
    qname = f"st02_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("complete").format("memory").queryName(qname).start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    from pyspark.sql import Window as W

    sessions = spark.table(qname).select(
        "user_id", F.col("w.start").alias("_start"), "events_in_session"
    )
    num = W.partitionBy("user_id").orderBy("_start")
    return (
        sessions.withColumn("session_no", F.row_number().over(num).cast("long"))
        .select("user_id", "session_no", "events_in_session")
        .orderBy("user_id", "session_no")
    )


@register(
    "st03_sliding_stream",
    oracle="""
    WITH panes AS (
        SELECT event_type,
               unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                       time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE])
                 AS window_start
        FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS cnt
    FROM panes GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def st03_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 via readStream: each event lands
    in exactly two panes (starts: floor(ts,5m) and floor(ts,5m)−5m), which
    is what the batch unnest oracle enumerates — the sliding-window
    semantics proven equal to their SQL expansion."""
    stream = _staged_stream(spark, sf_dir, "st03")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    qname = f"st03_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("complete").format("memory").queryName(qname).start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return (
        spark.table(qname)
        .select(F.col("w.start").alias("window_start"), "event_type", "cnt")
        .orderBy("window_start", "event_type")
    )

@register(
    "st04_stream_stream_join",
    oracle="""
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
    ORDER BY v.user_id, view_id, purchase_id
    """,
)
def st04_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: views joined to same-user purchases
    within 30 minutes (StreamingSymmetricHashJoin, both sides watermarked
    1 hour so join state is evicted past view_ts + 30min). Driven on the
    finite testdata and hash-checked against the batch interval join —
    the oracle proves the streaming join emits exactly the batch result."""
    views = (
        _staged_stream(spark, sf_dir, "st04v")
        .where(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        _staged_stream(spark, sf_dir, "st04p")
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 30 minutes"
        ),
    )
    qname = f"st04_{uuid.uuid4().hex[:8]}"
    query = (
        joined.writeStream.outputMode("append").format("memory").queryName(qname).start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return (
        spark.table(qname)
        .select(F.col("v_user").alias("user_id"), "view_id", "purchase_id")
        .orderBy("user_id", "view_id", "purchase_id")
    )


@register(
    "st05_stateful_running_totals",
    oracle="""
    SELECT user_id, COUNT(*) AS lifetime_events,
           CAST(SUM(ROUND(value * 10000)) / 10000 AS DOUBLE) AS lifetime_value
    FROM events GROUP BY user_id ORDER BY user_id
    """,
)
def st05_stateful_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming op (streaming.stateful.running_user_totals,
    applyInPandasWithState): lifetime per-user counters driven over the
    finite event stream and checked against the batch aggregate.

    Values are pre-scaled to integral doubles (round(value*1e4)) so the
    pandas-side float accumulation is exact integer arithmetic — the
    oracle's SUM sees the same integers, making the double outputs
    bit-identical regardless of summation order. Running totals are
    monotone, so max_by(lifetime_events) picks each user's final row even
    if the file source were split into multiple micro-batches."""
    from ..streaming.stateful import running_user_totals

    stream = _staged_stream(spark, sf_dir, "st05").withColumn(
        "value", F.round(F.col("value") * 10000)
    )
    totals = running_user_totals(stream)
    qname = f"st05_{uuid.uuid4().hex[:8]}"
    query = (
        totals.writeStream.outputMode("update").format("memory").queryName(qname).start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return (
        spark.table(qname)
        .groupBy("user_id")
        .agg(
            F.max("lifetime_events").alias("lifetime_events"),
            (F.max_by("lifetime_value", "lifetime_events") / 10000).alias(
                "lifetime_value"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "st06_stream_snapshot_ingest",
    oracle="""
    SELECT event_type, COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def st06_stream_snapshot_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest into the snapshot catalog
    (streaming.events.stream_ingest_into_snapshot_table): readStream over
    the events parquet, each micro-batch appended as one atomic snapshot
    commit with per-query batch-id markers (a replayed batch is skipped,
    not double-appended — idempotence pinned in tests/test_streaming.py).
    The aggregate over the ingested table must equal the batch aggregate
    over the source, proving no rows were lost or duplicated on the way
    through the stream."""

    from ..catalog.snapshots import SnapshotTable
    from ..streaming.events import stream_ingest_into_snapshot_table

    stream = _staged_stream(spark, sf_dir, "st06")
    tdir = work_dir("st06_table")
    table = SnapshotTable(spark, tdir)
    q = stream_ingest_into_snapshot_table(
        stream, table, f"st06_{uuid.uuid4().hex[:8]}"
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        table.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


@register(
    "st07_stream_dedup",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS distinct_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def st07_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingest-path exact dedup via dropDuplicatesWithinWatermark:
    keep the first row per (user_id, event_type) with dedup state bounded
    by the 1-hour watermark — the scale-correct streaming dedup (plain
    dropDuplicates retains state forever; the watermark variant evicts
    keys once the event-time horizon passes, so state is proportional to
    the watermark window, not the stream's lifetime). The replayed file
    source emits every key's first occurrence exactly once, so the
    per-type count of deduped rows equals batch COUNT(DISTINCT user_id) —
    which is exactly what the oracle checks."""
    stream = _staged_stream(spark, sf_dir, "st07")
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    qname = f"st07_{uuid.uuid4().hex[:8]}"
    query = (
        deduped.writeStream.outputMode("append").format("memory").queryName(qname).start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return (
        spark.table(qname)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("distinct_users"))
        .orderBy("event_type")
    )


@register(
    "st08_stream_cdc_upsert",
    oracle="""
    SELECT user_id, event_type AS last_event_type, ts AS last_ts FROM (
        SELECT user_id, event_type, ts,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
)
def st08_stream_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC upsert (MERGE) into the snapshot catalog via
    foreachBatch: each micro-batch reduces to its latest row per user_id
    ((ts, event_id) tiebreak), challenges the table's current rows for
    those keys, and commits one atomic merge snapshot
    (catalog.snapshots.SnapshotTable.merge — the Delta/Iceberg
    `foreachBatch + MERGE INTO` pattern). The reducer re-compares against
    current state, so the final table is the GLOBAL latest row per key
    regardless of how the stream was batched — pinned here by replaying
    the events file as two micro-batches (duplicate staging, same
    content) whose second pass must leave the table unchanged. The oracle
    is the batch argmax per user."""

    from pyspark.sql import Window

    from ..catalog.snapshots import SnapshotTable

    # Two staged copies of the same file -> two micro-batches
    # (maxFilesPerTrigger=1): batch 2 exercises the merge-vs-current path
    # and must be a no-op, proving latest-wins idempotence.
    stage_dir = work_dir("st08_events")
    src = os.path.join(sf_dir, "events.parquet")
    os.symlink(src, os.path.join(stage_dir, "a.parquet"))
    os.symlink(src, os.path.join(stage_dir, "b.parquet"))
    raw_schema = read_parquet(spark, src).schema
    stream = _fix_ts(
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
    )

    tdir = work_dir("st08_table")
    table = SnapshotTable(spark, tdir)
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def latest_per_key(df: DataFrame) -> DataFrame:
        return (
            df.select("user_id", "event_type", "ts", "event_id")
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def upsert(batch: DataFrame, _batch_id: int) -> None:
        latest = latest_per_key(batch)
        if table.current_snapshot() is None:
            table.append(latest)
            return
        challenged = table.read().join(
            latest.select("user_id"), "user_id", "semi"
        )
        table.merge(latest_per_key(challenged.unionByName(latest)), ["user_id"])

    query = stream.writeStream.foreachBatch(upsert).start()
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return table.read().select(
        "user_id",
        F.col("event_type").alias("last_event_type"),
        F.col("ts").alias("last_ts"),
    ).orderBy("user_id")


@register(
    "st09_stream_enrich",
    oracle="""
    WITH dim AS (
        SELECT DISTINCT user_id, CAST(user_id % 4 AS INT) AS segment FROM events
    )
    SELECT DATE_TRUNC('hour', e.ts) AS window_start, d.segment,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events e JOIN dim d USING (user_id)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def st09_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join — the standard streaming-dimension
    pattern (click stream × user/account dim): the micro-batch joins each
    batch against a STATIC dimension (no watermark needed on the
    static side; Spark re-plans the join per micro-batch), then a
    tumbling-window aggregate rolls up per enriched segment. The batch
    oracle replays join + rollup exactly. The join strategy is left to
    the optimizer ON PURPOSE: a user/account dim is not boundable in
    general, so a forced broadcast hint would be a scale landmine —
    Spark broadcasts it while it fits the threshold and shuffles the
    batch side once it doesn't, re-planned per micro-batch; the stream
    side is never buffered beyond the window state either way."""
    dim = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .withColumn("segment", F.pmod(F.col("user_id"), F.lit(4)).cast("int"))
    )
    stream = _staged_stream(spark, sf_dir, "st09")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .join(dim, "user_id")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("segment"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("total_value"),
        )
    )
    qname = f"st09_{uuid.uuid4().hex[:8]}"
    query = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(qname)
        .start()
    )
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    return (
        spark.table(qname)
        .select(
            F.col("w.start").alias("window_start"), "segment", "cnt", "total_value"
        )
        .orderBy("window_start", "segment")
    )


@register(
    "st10_stream_rollup",
    oracle="""
    SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket, event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS value_sum
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def st10_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming continuous aggregate (streaming.events.
    stream_rollup_into_snapshot_table): the event stream arrives as TWO
    micro-batches (the staged parquet is split in half,
    maxFilesPerTrigger=1) and each batch incrementally refreshes an
    hourly rollup SNAPSHOT TABLE — delta aggregate, cells-sized merge,
    one atomic commit per batch with the exactly-once batch ledger. The
    oracle recomputes the rollup from all raw events: hash-equality
    proves the per-batch incremental refreshes converge to exactly the
    from-scratch aggregate (exact DECIMAL sums make the merge
    order-independent)."""
    from ..catalog.snapshots import SnapshotTable
    from ..streaming.events import stream_rollup_into_snapshot_table

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    stage = work_dir("st10_stage")
    # two files -> two micro-batches: real multi-commit incremental refresh
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        stage, mode="overwrite"
    )
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(stage)
    tdir = work_dir("st10_table")
    table = SnapshotTable(spark, tdir)
    stream = (
        spark.readStream.schema(e.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage)
    )
    q = stream_rollup_into_snapshot_table(stream, table, "st10_rollup")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    if len(table.snapshots()) < 2:  # explicit raise: survives python -O
        raise RuntimeError("stream rollup refresh was not incremental")
    # Exact-DECIMAL internals keep the per-batch merges order-independent;
    # cast only the output boundary to double (ev08 convention) so the
    # driver's value hash is type-stable vs the DuckDB oracle.
    return (
        table.read()
        .withColumn("value_sum", F.col("value_sum").cast("double"))
        .orderBy("bucket", "event_type")
    )
