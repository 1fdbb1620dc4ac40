"""Source/sink registry and skew-mitigation tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from trino_iceberg_spark.operators.skew import salted_aggregate, salted_join
from trino_iceberg_spark.sources.formats import read_source, write_sink


@pytest.fixture(scope="module")
def sample(spark):
    return spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        (F.col("id") * 1.5).alias("v"),
        F.concat(F.lit("row_"), F.col("id").cast("string")).alias("s"),
    )


@pytest.mark.parametrize("fmt", ["parquet", "csv", "json", "orc"])
def test_roundtrip_all_formats(spark, sample, tmp_path, fmt):
    path = str(tmp_path / f"data_{fmt}")
    write_sink(sample, path, fmt=fmt)
    back = read_source(spark, path, fmt=fmt, schema=sample.schema)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sample.collect()))


def test_csv_requires_schema(spark, sample, tmp_path):
    path = str(tmp_path / "noschema_csv")
    write_sink(sample, path, fmt="csv")
    with pytest.raises(ValueError, match="explicit schema"):
        read_source(spark, path, fmt="csv")


def test_partitioned_write_layout(spark, sample, tmp_path):
    path = str(tmp_path / "parted")
    write_sink(sample, path, fmt="parquet", partition_by=["k"])
    import os

    assert any(d.startswith("k=") for d in os.listdir(path))
    back = read_source(spark, path, fmt="parquet")
    assert back.count() == 1000
    # partition pruning: filter on k reads only one directory
    pruned = back.filter(F.col("k") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == sample.filter(F.col("k") == 3).count()


def test_salted_aggregate_matches_plain(spark, sample):
    plain = {
        (r["k"]): (r["sum_v"], r["cnt_rows"], r["min_id"], r["max_id"])
        for r in sample.groupBy("k")
        .agg(
            F.sum(F.col("v").cast("decimal(18,4)")).cast("double").alias("sum_v"),
            F.count(F.lit(1)).alias("cnt_rows"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
        .collect()
    }
    salted = {
        (r["k"]): (r["sum_v"], r["cnt_rows"], r["min_id"], r["max_id"])
        for r in salted_aggregate(
            sample,
            ["k"],
            {
                "sum_v": F.sum(F.col("v").cast("decimal(18,4)")).cast("double"),
                "cnt_rows": F.count(F.lit(1)),
                "min_id": F.min("id"),
                "max_id": F.max("id"),
            },
            num_salts=8,
        ).collect()
    }
    assert plain == salted


def test_salted_join_matches_plain(spark, sample):
    dim = spark.createDataFrame([(k, f"name_{k}") for k in range(7)], "k long, name string")
    plain = sorted(map(tuple, sample.join(dim, "k").select("id", "name").collect()))
    salted = sorted(map(tuple, salted_join(sample, dim, "k", num_salts=4).select("id", "name").collect()))
    assert plain == salted


def test_ctas_returns_rowcount(spark):
    from trino_iceberg_spark.client import AthenaSparkClient

    client = AthenaSparkClient(spark)
    client.execute("DROP TABLE IF EXISTS common_test_data.ctas_out")
    n = client.ctas(
        "common_test_data.ctas_out",
        "SELECT category, SUM(amount) AS total FROM common_test_data.category_data GROUP BY category",
    )
    assert n == 2
    assert spark.table("common_test_data.ctas_out").count() == 2
    client.execute("DROP TABLE common_test_data.ctas_out")


def test_partitioned_write_prunes_scan(spark, sf_dir, tmp_path):
    """Hive-partitioned layout + a partition-key predicate must prune at
    planning time: the scan's PartitionFilters carries the predicate and
    only matching directories are read."""
    from pyspark.sql import functions as F

    from trino_iceberg_spark.sources.formats import write_sink
    from trino_iceberg_spark.sources.testdata import load_table

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.col("ts").cast("date")
    )
    out = str(tmp_path / "events_by_day")
    write_sink(ev, out, partition_by=["day"])

    back = spark.read.parquet(out).filter(F.col("day") == "2024-01-05")
    plan = back._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "day" in pf_line and "2024-01-05" in pf_line
    expected = ev.filter(F.col("day") == "2024-01-05").count()
    assert back.count() == expected


def test_load_events_sets_nanos_conf_itself(spark):
    """The driver's harness builds its own SparkSession without our session
    defaults; load_table must set nanosAsLong on the passed session, not
    assume get_spark() did (round-1 failure: PARQUET_TYPE_ILLEGAL on
    events.parquet's TIMESTAMP(NANOS) column)."""
    from pyspark.sql import types as T

    from trino_iceberg_spark.sources.testdata import load_table

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")  # simulate bare session
    try:
        df = load_table(spark, "/root/testdata/sf0.001", "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert df.limit(1).count() == 1
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    finally:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


# --- memoized parquet schemas (sources.testdata.read_parquet) --------------


def _jobs_in_group(spark, fn):
    """(result of fn(), number of Spark jobs it ran) via a fresh job group."""
    import uuid

    sc = spark.sparkContext
    gid = f"schema_memo_{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        out = fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(gid))


def _write_tiny(path, table):
    import pyarrow.parquet as pq

    pq.write_table(table, str(path))


def test_repeat_load_runs_no_schema_job(spark, tmp_path):
    """The first load of a file infers its schema (one job); a second load
    of the unchanged file runs no job and returns the same schema, as a
    fresh relation that can be self-joined."""
    import pyarrow as pa

    from trino_iceberg_spark.sources.testdata import load_table

    _write_tiny(tmp_path / "nation.parquet",
                pa.table({"k": [1, 2, 3], "name": ["a", "b", "c"]}))
    first, jobs1 = _jobs_in_group(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    second, jobs2 = _jobs_in_group(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert jobs1 >= 1
    assert jobs2 == 0
    assert second.schema == first.schema
    joined = first.alias("a").join(second.alias("b"), first["k"] == second["k"] + 1)
    assert sorted(r["k"] for r in joined.select(first["k"]).collect()) == [2, 3]


def test_rewritten_file_reads_its_new_schema(spark, tmp_path):
    import pyarrow as pa

    from trino_iceberg_spark.sources.testdata import read_parquet

    path = tmp_path / "t.parquet"
    _write_tiny(path, pa.table({"a": [1, 2]}))
    assert read_parquet(spark, str(path)).columns == ["a"]
    _write_tiny(path, pa.table({"a": [1, 2], "b": ["x", "y"]}))
    df = read_parquet(spark, str(path))
    assert df.columns == ["a", "b"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, "x"), (2, "y")]


def test_binary_as_string_flip_changes_memoized_schema(spark, tmp_path):
    import pyarrow as pa
    from pyspark.sql import types as T

    from trino_iceberg_spark.sources.testdata import read_parquet

    key = "spark.sql.parquet.binaryAsString"
    path = tmp_path / "bin.parquet"
    _write_tiny(path, pa.table({"b": pa.array([b"xy", b"z"], type=pa.binary())}))
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "false")
        assert isinstance(read_parquet(spark, str(path)).schema["b"].dataType, T.BinaryType)
        spark.conf.set(key, "true")
        df = read_parquet(spark, str(path))
        assert isinstance(df.schema["b"].dataType, T.StringType)
        assert sorted(r["b"] for r in df.collect()) == ["xy", "z"]
        spark.conf.set(key, "false")
        assert isinstance(read_parquet(spark, str(path)).schema["b"].dataType, T.BinaryType)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def test_repeat_events_load_keeps_timestamp_ts(spark, sf_dir):
    """events (the nanosAsLong path) loads with ts as TIMESTAMP on the
    inferring read and on the memoized one."""
    from pyspark.sql import types as T

    from trino_iceberg_spark.sources.testdata import load_table

    for _ in range(2):
        df = load_table(spark, sf_dir, "events")
        assert isinstance(df.schema["ts"].dataType, T.TimestampType)
        assert df.filter(F.col("ts").isNotNull()).limit(1).count() == 1
