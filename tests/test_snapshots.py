"""Snapshot-table (iceberg-lite) lifecycle tests — the reference's Iceberg
time-travel contract (AthenaClientTests.cs:347-391) plus maintenance ops."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from trino_iceberg_spark.catalog.snapshots import SnapshotTable
from trino_iceberg_spark.errors import EngineError


@pytest.fixture()
def table(spark, tmp_path):
    return SnapshotTable(spark, str(tmp_path / "events_tt"))


def _events(spark, ids, etype):
    return spark.createDataFrame(
        [(i, etype, dt.datetime(2024, 1, 1, 10, 0, i)) for i in ids],
        "event_id long, event_type string, event_time timestamp",
    )


def test_two_commit_time_travel(spark, table):
    """The reference's time-travel golden: snapshot 1 = events 1-2,
    snapshot 2 = events 3-4; AS OF between commits sees only 1-2 and
    composes with ordinary predicates."""
    s1 = table.append(_events(spark, [1, 2], "login"))
    between = dt.datetime.now(dt.timezone.utc)
    table.append(_events(spark, [3, 4], "purchase"))

    current = {r["event_id"] for r in table.read().collect()}
    assert current == {1, 2, 3, 4}
    asof = table.read_as_of(between)
    assert {r["event_id"] for r in asof.collect()} == {1, 2}
    filtered = asof.filter(F.col("event_time") < dt.datetime(2024, 1, 1, 10, 0, 2))
    assert [r["event_id"] for r in filtered.collect()] == [1]
    assert s1.snapshot_id == 1 and s1.row_count == 2


def test_as_of_before_first_commit_raises(spark, table):
    table.append(_events(spark, [1], "x"))
    with pytest.raises(EngineError):
        table.read_as_of(dt.datetime(2000, 1, 1, tzinfo=dt.timezone.utc))


def test_overwrite_isolation(spark, table):
    table.append(_events(spark, [1, 2, 3], "a"))
    table.overwrite(_events(spark, [9], "b"))
    assert {r["event_id"] for r in table.read().collect()} == {9}
    assert {r["event_id"] for r in table.read_version(1).collect()} == {1, 2, 3}


def test_expire_snapshots_drops_history_keeps_current(spark, table):
    table.append(_events(spark, [1], "a"))
    table.append(_events(spark, [2], "a"))
    table.overwrite(_events(spark, [3], "b"))
    expired = table.expire_snapshots()
    assert expired == 2
    assert {r["event_id"] for r in table.read().collect()} == {3}
    with pytest.raises(EngineError):
        table.read_version(1)
    # files of expired snapshots gone, current files intact
    live = set(table.current_snapshot().files)
    on_disk = {f"data/{f}" for f in os.listdir(table.data_dir)}
    assert on_disk == live


def test_remove_orphan_files(spark, table):
    table.append(_events(spark, [1], "a"))
    orphan = os.path.join(table.data_dir, "deadbeef-99999.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not a real parquet")
    # the default age floor spares RECENT unreferenced files — they may
    # be an in-flight commit's staged data (Iceberg's 3-day rule)
    assert table.remove_orphan_files() == 0
    assert os.path.exists(orphan)
    # explicit zero floor: caller asserts no writer is active
    assert table.remove_orphan_files(older_than_s=0.0) == 1
    assert not os.path.exists(orphan)
    assert table.read().count() == 1


def test_append_row_counts_accumulate(spark, table):
    table.append(_events(spark, [1, 2], "a"))
    s2 = table.append(_events(spark, [3], "a"))
    assert s2.row_count == 3
    assert table.read().count() == 3


def test_compact_small_files_preserves_rows_and_history(spark, tmp_path):
    from trino_iceberg_spark.catalog.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "compact_t"))
    # Five tiny append commits — the streaming small-file pattern.
    for i in range(5):
        t.append(spark.range(i * 10, (i + 1) * 10).toDF("id"))
    before = t.current_snapshot()
    assert len(before.files) >= 5
    total_before = t.read().count()

    compacted = t.compact_small_files(target_files=1)
    assert compacted is not None
    assert len(compacted.files) == 1
    assert t.read().count() == total_before
    assert sorted(r["id"] for r in t.read().collect()) == list(range(50))
    # History preserved: the pre-compaction snapshot still reads.
    assert t.read_version(before.snapshot_id).count() == total_before
    # No-op when already compact.
    assert t.compact_small_files(target_files=1) is None


def test_merge_upserts_and_appends(spark, tmp_path):
    from pyspark.sql import functions as F

    from trino_iceberg_spark.catalog.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "merge_t"))
    t.append(
        spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "name", "val"]
        )
    )
    before = t.current_snapshot()
    t.merge(
        spark.createDataFrame([(2, "B", 99.0), (4, "d", 40.0)], ["id", "name", "val"]),
        key_cols=["id"],
    )
    got = {r["id"]: (r["name"], r["val"]) for r in t.read().collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}
    # Atomic history: pre-merge snapshot unchanged.
    assert t.read_version(before.snapshot_id).count() == 3


def test_delete_and_update_where(spark, tmp_path):
    from pyspark.sql import functions as F

    from trino_iceberg_spark.catalog.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "dml_t"))
    t.append(spark.range(10).toDF("id"))
    t.delete_where(F.col("id") >= 7)
    assert sorted(r["id"] for r in t.read().collect()) == list(range(7))
    t.update_where(F.col("id") < 3, {"id": F.col("id") + 100})
    assert sorted(r["id"] for r in t.read().collect()) == [3, 4, 5, 6, 100, 101, 102]


def test_changelog_append_only_prunes_shared_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cl1"))
    v1 = t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")).snapshot_id
    v2 = t.append(spark.createDataFrame([(3, "c")], "id long, v string")).snapshot_id
    out = t.changelog(v1, v2, ["id"]).collect()
    assert [(r.id, r._change_type) for r in out] == [(3, "insert")]


def test_changelog_keyed_update_pairs(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cl2"))
    v1 = t.append(
        spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    ).snapshot_id
    t.merge(spark.createDataFrame([(2, "B"), (4, "d")], "id long, v string"), ["id"])
    v3 = t.delete_where(F.col("id") == 3).snapshot_id
    got = sorted((r.id, r._change_type, r.v) for r in t.changelog(v1, v3, ["id"]).collect())
    assert got == [
        (2, "update_after", "B"),
        (2, "update_before", "b"),
        (3, "delete", "c"),
        (4, "insert", "d"),
    ]
    # unchanged key 1 emitted nothing despite its file being rewritten


def test_changelog_unkeyed_multiset(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cl3"))
    v1 = t.append(spark.createDataFrame([(1, "x"), (1, "x")], "id long, v string")).snapshot_id
    v2 = t.overwrite(spark.createDataFrame([(1, "x")], "id long, v string")).snapshot_id
    out = [(r.id, r._change_type) for r in t.changelog(v1, v2).collect()]
    assert out == [(1, "delete")]  # multiset: one surplus copy deleted


def test_changelog_missing_snapshot_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "cl4"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    with pytest.raises(EngineError):
        t.changelog(1, 99)


def _clustered_ids(spark, t, n=1000, files=4):
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") % 13).cast("long").alias("v")
    )
    return t.append(df, cluster_by=["k"], cluster_partitions=files)


def test_changelog_position_delete_reads_only_named_files(spark, tmp_path):
    """Round-11 directive #3: a changelog across a MOR position-delete
    boundary derives the delta FROM the delete file, reading only the
    data files it names — proved behaviorally by HIDING every untouched
    data file on disk before calling changelog: if the O(table) fallback
    were still in play, the read would crash on the missing files."""
    t = SnapshotTable(spark, str(tmp_path / "clp"))
    s1 = _clustered_ids(spark, t)
    s2 = t.delete_where(F.col("k") < 50, mode="merge-on-read")
    touched = t._mor_touched_files(s2)
    assert len(touched) == 1 and len(s2.files) == 4
    hidden = []
    for f in s2.files:
        if f not in touched:
            p = os.path.join(t.table_dir, f)
            os.rename(p, p + ".hidden")
            hidden.append(p)
    try:
        out = t.changelog(s1.snapshot_id, s2.snapshot_id).collect()
    finally:
        for p in hidden:
            os.rename(p + ".hidden", p)
    assert sorted(r["k"] for r in out) == list(range(50))
    assert {r["_change_type"] for r in out} == {"delete"}


def test_changelog_equality_delete_prunes_by_zone_maps(spark, tmp_path):
    """Equality-delete changelog delta: the dead keys' [min, max]
    envelope zone-map-prunes the horizon (by key FIELD ID), so a
    contained key retraction reads only the file(s) whose range can hold
    the keys — again proved by hiding the rest of the table. A row
    killed by BOTH a new position delete and a new equality delete
    surfaces exactly once."""
    t = SnapshotTable(spark, str(tmp_path / "cle"))
    s1 = _clustered_ids(spark, t)
    t.delete_where(F.col("k") == 10, mode="merge-on-read")
    # the key ENVELOPE [10, 20] fits one clustered file; a wide envelope
    # would conservatively keep every file (correct, just unpruned)
    keys = spark.createDataFrame([(10,), (20,)], "k long")
    s3 = t.delete_by_key(keys, ["k"])
    assert len(s3.files) == 4
    # hide every file whose k-range cannot hold any dead key — the
    # changelog's zone-map pruning (by key FIELD ID) must never open them
    kfid = str(next(c["id"] for c in s3.schema_columns if c["name"] == "k"))
    hidden = []
    for f in s3.files:
        lo, _hi = s3.file_stats[f][kfid]
        if lo > 20:
            p = os.path.join(t.table_dir, f)
            os.rename(p, p + ".hidden")
            hidden.append(p)
    assert hidden, "zone-map pruning left nothing to hide"
    try:
        out = t.changelog(s1.snapshot_id, s3.snapshot_id).collect()
    finally:
        for p in hidden:
            os.rename(p + ".hidden", p)
    # k=10 died twice (position + equality) but surfaces once
    assert sorted(r["k"] for r in out) == [10, 20]
    assert {r["_change_type"] for r in out} == {"delete"}


def test_changelog_maintenance_range_is_o1_empty(spark, tmp_path):
    """A changelog range consisting ONLY of maintenance commits
    (compaction, delete-file consolidation, sorted/z-order rewrites) is
    a visible-rows no-op by construction — proved by the parent-chain
    walk, answering empty with ZERO data reads (pinned by hiding every
    data file). A range that also contains real DML still diffs."""
    t = SnapshotTable(spark, str(tmp_path / "clm"))
    s1 = _clustered_ids(spark, t)
    t.delete_where(F.col("k") < 5, mode="merge-on-read")
    s2 = t.current_snapshot()
    t.rewrite_delete_files()
    t.compact_small_files(target_files=2)
    t.rewrite_sorted(["k"], target_files=2)
    s5 = t.current_snapshot()
    hidden = []
    for f in set(s2.files) | set(s5.files):
        p = os.path.join(t.table_dir, f)
        if os.path.exists(p):
            os.rename(p, p + ".hidden")
            hidden.append(p)
    try:
        out = t.changelog(s2.snapshot_id, s5.snapshot_id)
        assert out.count() == 0
        assert "_change_type" in out.columns and "k" in out.columns
    finally:
        for p in hidden:
            os.rename(p + ".hidden", p)
    # a range that includes the DML itself is NOT empty
    real = t.changelog(s1.snapshot_id, s5.snapshot_id).collect()
    assert sorted(r["k"] for r in real) == list(range(5))


def test_changelog_eqdelete_on_column_added_mid_range(spark, tmp_path):
    """Regression (round-11 code review, reproduced): an equality delete
    keyed on a column ADDED after the changelog's from-snapshot must
    contribute NOTHING to that range's delta when its key set has no
    NULLs (rows there read the column as NULL, and per the Iceberg
    null-matching rule only a NULL delete key matches those) — not raise
    through field-id resolution against the older schema. A later
    from-snapshot that HAS the column still sees the delete."""
    t = SnapshotTable(spark, str(tmp_path / "cladd"))
    s1 = t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1)
    )
    t.add_column("c", "int")
    s2 = t.append(
        spark.createDataFrame(
            [(3, "c", 7), (4, "d", 8)], "k long, v string, c int"
        ).coalesce(1)
    )
    s3 = t.delete_by_key(spark.createDataFrame([(7,)], "c int"), ["c"])
    # from s1 (no column c): the delete kills nothing visible there; the
    # delta is the appended rows minus the one the delete killed
    out = t.changelog(s1.snapshot_id, s3.snapshot_id).collect()
    assert sorted((r["k"], r["_change_type"]) for r in out) == [
        (4, "insert")
    ]
    # from s2 (has column c): the same delete surfaces as a delete
    out2 = t.changelog(s2.snapshot_id, s3.snapshot_id).collect()
    assert [(r["k"], r["_change_type"]) for r in out2] == [(3, "delete")]
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 4]


def test_changelog_null_keyed_delete_on_added_column_kills_old_rows(
    spark, tmp_path
):
    """The sharp edge of Iceberg's null-matching rule: rows written
    BEFORE a column was added read it as NULL, so an equality delete
    keyed on (k, newcol) with a NULL newcol key kills matching pre-add
    rows — and the changelog's delete-file-derived delta must say so
    even though the column doesn't resolve against the from-snapshot's
    schema."""
    t = SnapshotTable(spark, str(tmp_path / "clnulladd"))
    s1 = t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string").coalesce(1)
    )
    t.add_column("c", "int")
    t.append(
        spark.createDataFrame(
            [(3, "c", 7), (1, "z", None)], "k long, v string, c int"
        ).coalesce(1)
    )
    # kills k=1 rows whose c IS NULL: the pre-add row (reads c as NULL)
    # AND the post-add row written with c = NULL
    s3 = t.delete_by_key(
        spark.createDataFrame([(1, None)], "k long, c int"), ["k", "c"]
    )
    assert sorted(r["k"] for r in t.read().collect()) == [2, 3]
    out = t.changelog(s1.snapshot_id, s3.snapshot_id).collect()
    assert sorted((r["k"], r["_change_type"]) for r in out) == [
        (1, "delete"),
        (3, "insert"),
    ]


def test_changelog_maintenance_marker_not_forgeable(spark, tmp_path):
    """Regression (round-11 code review): the maintenance no-op shortcut
    keys off an ENGINE-set snapshot field, so a caller tagging a real DML
    commit with properties={'maintenance': ...} cannot make the changelog
    silently swallow its deletes."""
    t = SnapshotTable(spark, str(tmp_path / "clforge"))
    s1 = _clustered_ids(spark, t, n=100, files=2)
    s2 = t.delete_where(
        F.col("k") < 10,
        mode="merge-on-read",
        properties={"maintenance": "totally-a-nightly-job"},
    )
    out = t.changelog(s1.snapshot_id, s2.snapshot_id).collect()
    assert sorted(r["k"] for r in out) == list(range(10))
    assert {r["_change_type"] for r in out} == {"delete"}
    assert s2.maintenance is None  # the caller's tag never became engine state


def test_changelog_mor_upsert_pairs_updates(spark, tmp_path):
    """A merge-on-read upsert's changelog (equality delete + append in
    one commit) pairs old/new images into update_before/update_after
    under the key contract — via the delete-file-derived delta, not a
    full diff."""
    t = SnapshotTable(spark, str(tmp_path / "clu"))
    s1 = t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
        ).coalesce(1)
    )
    t.merge(
        spark.createDataFrame([(2, "B"), (9, "new")], "k long, v string"),
        ["k"],
        mode="merge-on-read",
    )
    s2 = t.current_snapshot()
    got = sorted(
        (r.k, r._change_type, r.v)
        for r in t.changelog(s1.snapshot_id, s2.snapshot_id, ["k"]).collect()
    )
    assert got == [
        (2, "update_after", "B"),
        (2, "update_before", "b"),
        (9, "insert", "new"),
    ]


# --- schema evolution (Iceberg-style id-based column mapping) --------------


def test_add_column_old_files_read_null(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev1"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string"))
    t.add_column("score", "double")
    t.append(
        spark.createDataFrame([(3, "c", 0.5)], "id long, v string, score double")
    )
    rows = {r["id"]: (r["v"], r["score"]) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 0.5)}


def test_rename_column_remaps_old_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev2"))
    t.append(spark.createDataFrame([(1, 10.0)], "id long, amount double"))
    t.rename_column("amount", "price")
    t.append(spark.createDataFrame([(2, 20.0)], "id long, price double"))
    out = t.read()
    assert out.columns == ["id", "price"]
    assert {r["id"]: r["price"] for r in out.collect()} == {1: 10.0, 2: 20.0}


def test_drop_column_hides_everywhere_current(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev3"))
    t.append(spark.createDataFrame([(1, "x", 5)], "id long, v string, n int"))
    t.drop_column("v")
    assert t.read().columns == ["id", "n"]
    # a column with the same NAME re-added later is a NEW field id:
    # old files must NOT resurrect their bytes under it (Iceberg semantics)
    t.add_column("v", "string")
    rows = t.read().collect()
    assert rows[0]["v"] is None


def test_promote_column_upcasts_old_files(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev4"))
    t.append(spark.createDataFrame([(1, 7)], "id long, n int"))
    t.promote_column("n", "bigint")
    t.append(spark.createDataFrame([(2, 2**40)], "id long, n long"))
    out = t.read()
    assert dict(out.dtypes)["n"] == "bigint"
    assert {r["id"]: r["n"] for r in out.collect()} == {1: 7, 2: 2**40}


def test_time_travel_sees_snapshot_schema(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev5"))
    v1 = t.append(spark.createDataFrame([(1, "a")], "id long, v string")).snapshot_id
    t.rename_column("v", "label")
    t.add_column("extra", "int")
    # the schema travels with the snapshot: v1 still reads as (id, v)
    assert t.read_version(v1).columns == ["id", "v"]
    assert t.read().columns == ["id", "label", "extra"]


def test_commit_schema_mismatch_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev6"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.add_column("score", "double")
    with pytest.raises(EngineError):
        t.append(spark.createDataFrame([(2, "b")], "id long, v string"))


def test_changelog_across_evolution_boundary(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev7"))
    v1 = t.append(spark.createDataFrame([(1, "a")], "id long, v string")).snapshot_id
    t.rename_column("v", "label")
    v3 = t.append(spark.createDataFrame([(2, "b")], "id long, label string")).snapshot_id
    out = {(r["id"], r["label"], r["_change_type"]) for r in t.changelog(v1, v3).collect()}
    assert out == {(2, "b", "insert")}


def test_evolution_survives_compaction_and_merge(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev8"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, v string"))
    t.rename_column("v", "w")
    t.add_column("z", "int")
    t.compact_small_files(target_files=1)
    assert t.read().columns == ["id", "w", "z"]
    t.merge(
        spark.createDataFrame([(2, "B", 9), (3, "c", 1)], "id long, w string, z int"),
        ["id"],
    )
    rows = {r["id"]: (r["w"], r["z"]) for r in t.read().collect()}
    assert rows == {1: ("a", None), 2: ("B", 9), 3: ("c", 1)}


def test_evolve_on_empty_table_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "ev9"))
    with pytest.raises(EngineError):
        t.add_column("x", "int")


# --- file-stats (zone map) pruned scans ------------------------------------


def test_scan_prunes_files_by_zone_maps(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "zm1"))
    # three commits with disjoint key ranges → per-file min/max are tight
    for lo in (0, 100, 200):
        t.append(
            spark.range(lo, lo + 100).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            )
        )
    snap = t.current_snapshot()
    pruned = t.prune_files(snap, [("k", ">=", 250)])
    assert len(pruned) < len(snap.files)  # planning skipped whole files
    assert pruned  # but kept the matching range
    out = t.scan([("k", ">=", 250)])
    expected = t.read().filter(F.col("k") >= 250)
    assert sorted(r["k"] for r in out.collect()) == sorted(
        r["k"] for r in expected.collect()
    )


def test_scan_equality_and_empty_result(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "zm2"))
    t.append(spark.range(0, 50).select(F.col("id").alias("k")))
    t.append(spark.range(100, 150).select(F.col("id").alias("k")))
    snap = t.current_snapshot()
    # a key in the gap between commits prunes EVERY file
    assert t.prune_files(snap, [("k", "=", 75)]) == []
    assert t.scan([("k", "=", 75)]).count() == 0
    assert [r["k"] for r in t.scan([("k", "=", 120)]).collect()] == [120]


def test_prune_survives_rename(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "zm3"))
    t.append(spark.range(0, 10).select(F.col("id").alias("old_name")))
    t.append(spark.range(1000, 1010).select(F.col("id").alias("old_name")))
    t.rename_column("old_name", "k")
    snap = t.current_snapshot()
    # stats were recorded under the old name's field id; pruning by the
    # NEW name must still hit them
    assert len(t.prune_files(snap, [("k", "<", 100)])) < len(snap.files)
    assert {r["k"] for r in t.scan([("k", "<", 5)]).collect()} == {0, 1, 2, 3, 4}


def test_prune_unknown_column_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "zm4"))
    t.append(spark.range(3).select(F.col("id").alias("k")))
    with pytest.raises(EngineError):
        t.prune_files(t.current_snapshot(), [("nope", "=", 1)])
    with pytest.raises(EngineError):
        t.prune_files(t.current_snapshot(), [("k", "!=", 1)])


def test_string_zone_maps(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "zm5"))
    t.append(spark.createDataFrame([("apple",), ("banana",)], "w string"))
    t.append(spark.createDataFrame([("yak",), ("zebra",)], "w string"))
    snap = t.current_snapshot()
    assert len(t.prune_files(snap, [("w", ">=", "yak")])) < len(snap.files)
    assert {r["w"] for r in t.scan([("w", ">=", "yak")]).collect()} == {"yak", "zebra"}


# --- branches, tags, write-audit-publish (Nessie-style refs) ---------------


def test_wap_branch_isolated_until_publish(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "br1"))
    t.append(spark.range(0, 10).select(F.col("id").alias("k")))
    t.create_branch("audit")
    t.append(spark.range(100, 105).select(F.col("id").alias("k")), branch="audit")
    # main unchanged while the branch accumulates commits
    assert t.read().count() == 10
    assert t.read_ref("audit").count() == 15
    t.publish("audit")
    assert t.read().count() == 15  # one atomic pointer swap


def test_branch_commits_do_not_leak_into_legacy_main(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "br2"))
    t.append(spark.range(5).select(F.col("id").alias("k")))
    t.create_branch("wip")  # pins main explicitly at snapshot 1
    t.overwrite(spark.range(99).select(F.col("id").alias("k")), branch="wip")
    assert t.read().count() == 5
    assert t.read_ref("wip").count() == 99
    assert t.read_ref("main").count() == 5


def test_tag_is_immutable_and_survives_expiry(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "br3"))
    t.append(spark.range(3).select(F.col("id").alias("k")))
    t.create_tag("v1.0")
    t.overwrite(spark.range(50).select(F.col("id").alias("k")))
    t.overwrite(spark.range(60).select(F.col("id").alias("k")))
    with pytest.raises(EngineError):
        t.append(spark.range(1).select(F.col("id").alias("k")), branch="v1.0")
    t.expire_snapshots(retain_last=1)
    # the tagged snapshot survived expiry; untagged history is gone
    assert t.read_ref("v1.0").count() == 3
    assert t.read().count() == 60


def test_duplicate_ref_and_drop(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "br4"))
    t.append(spark.range(2).select(F.col("id").alias("k")))
    t.create_branch("b")
    with pytest.raises(EngineError):
        t.create_tag("b")
    with pytest.raises(EngineError):
        t.drop_ref("main")
    t.drop_ref("b")
    with pytest.raises(EngineError):
        t.read_ref("b")


def test_metadata_tables(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "md1"))
    t.append(spark.range(4).select(F.col("id").alias("k")))
    t.append(spark.range(4, 6).select(F.col("id").alias("k")))
    t.create_tag("rel")
    snaps = t.snapshots_df().collect()
    assert [(r["snapshot_id"], r["operation"], r["row_count"]) for r in snaps] == [
        (1, "append", 4),
        (2, "append", 6),
    ]
    files = t.files_df().collect()
    assert len(files) == len(t.current_snapshot().files)
    assert all(r["size_bytes"] > 0 for r in files)
    # non-empty files carry zone maps; a 0-row partition file legitimately has none
    assert sum(r["stats_columns"] >= 1 for r in files) >= 2
    hist = t.history_df().collect()
    assert [r["is_current"] for r in hist] == [False, True]
    refs = {(r["name"], r["type"], r["snapshot_id"]) for r in t.refs_df().collect()}
    assert ("main", "branch", 2) in refs and ("rel", "tag", 2) in refs


def test_cluster_by_makes_single_commit_prunable(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "zm6"))
    # ONE commit of the whole key space, range-clustered into tight files
    t.overwrite(
        spark.range(0, 1000).select(F.col("id").alias("k")),
        cluster_by=["k"],
        cluster_partitions=8,
    )
    snap = t.current_snapshot()
    assert len(snap.files) > 1
    pruned = t.prune_files(snap, [("k", ">=", 990)])
    assert len(pruned) < len(snap.files)  # clustering made zone maps selective
    assert t.scan([("k", ">=", 990)]).count() == 10


# --- multi-table catalog (Nessie-style atomic cross-table commits) ---------


def test_multi_table_transaction_is_atomic(spark, tmp_path):
    from trino_iceberg_spark.catalog.multi import MultiTableCatalog

    cat = MultiTableCatalog(spark, str(tmp_path / "cat1"))
    with cat.transaction("init") as txn:
        txn.append("src", spark.range(10).toDF("id"))
        txn.append("dst", spark.range(0).toDF("id"))
    v1 = cat.current_version()
    # move ids >= 7 from src to dst in ONE commit
    src = cat.read("src")
    with cat.transaction("move") as txn:
        txn.overwrite("src", src.filter(F.col("id") < 7))
        txn.append("dst", src.filter(F.col("id") >= 7))
    assert cat.read("src").count() == 7
    assert sorted(r["id"] for r in cat.read("dst").collect()) == [7, 8, 9]
    # version v1 is a CONSISTENT cross-table snapshot: all 10 in src, 0 in dst
    assert cat.read("src", version=v1).count() == 10
    assert cat.read("dst", version=v1).count() == 0


def test_failed_transaction_publishes_nothing(spark, tmp_path):
    from trino_iceberg_spark.catalog.multi import MultiTableCatalog

    cat = MultiTableCatalog(spark, str(tmp_path / "cat2"))
    with cat.transaction("init") as txn:
        txn.append("t", spark.range(5).toDF("id"))
    v = cat.current_version()
    with pytest.raises(RuntimeError):
        with cat.transaction("doomed") as txn:
            txn.overwrite("t", spark.range(99).toDF("id"))
            raise RuntimeError("validation failed")
    # catalog state unchanged despite the staged table snapshot
    assert cat.current_version() == v
    assert cat.read("t").count() == 5


def test_conflicting_transactions_never_lose_commits(spark, tmp_path):
    """Two transactions branch the same table off the same base; the one
    publishing second must CONFLICT (base CAS at the publish point), not
    silently move main past the first's commits — and a conflicted
    transaction publishes NOTHING (no table pointer, no catalog
    version): Nessie's all-or-nothing multi-table commit."""
    from trino_iceberg_spark.catalog.multi import MultiTableCatalog
    from trino_iceberg_spark.errors import CommitConflictError

    cat = MultiTableCatalog(spark, str(tmp_path / "cat_conflict"))
    with cat.transaction("init") as txn:
        txn.append("t1", spark.range(5).toDF("id"))
        txn.append("t2", spark.range(5).toDF("id"))
    v_init = cat.current_version()
    with pytest.raises(CommitConflictError):
        with cat.transaction("loser") as txn:
            txn.append("t1", spark.range(100, 103).toDF("id"))
            txn.append("t2", spark.range(100, 103).toDF("id"))
            # a whole competing transaction lands on an overlapping
            # table while this one is still staging
            with cat.transaction("winner") as inner:
                inner.append("t1", spark.range(50, 52).toDF("id"))
    # the winner's commit survives; the loser published NOTHING on
    # either table (t2 untouched despite its staged snapshot)
    assert sorted(r["id"] for r in cat.read("t1").collect()) == [0, 1, 2, 3, 4, 50, 51]
    assert cat.read("t2").count() == 5
    assert cat.current_version() == v_init + 1  # only the winner's version
    # staging refs dropped on both tables
    for name in ("t1", "t2"):
        refs = cat.table(name)._load_refs()
        assert not [b for b in refs["branches"] if b.startswith("_txn_")]


def test_publish_requires_fast_forward(spark, tmp_path):
    """WAP publish validates the fast-forward rule: main advancing after
    the branch point makes the publish a conflict (it would erase the
    newer main commits), and force=True remains the escape hatch."""
    from trino_iceberg_spark.errors import CommitConflictError

    t = SnapshotTable(spark, str(tmp_path / "ff_tt"))
    t.append(spark.range(3).toDF("id"))
    t.create_branch("audit")
    t.append(spark.range(10, 12).toDF("id"), branch="audit")
    t.append(spark.range(20, 21).toDF("id"))  # main advances independently
    with pytest.raises(CommitConflictError):
        t.publish("audit")
    assert t.read().count() == 4  # main intact: 3 + 1
    t.publish("audit", force=True)  # explicit override still available
    assert t.read().count() == 5  # audit chain: 3 + 2


def test_publish_with_expired_history_fails_safe(spark, tmp_path):
    """expire_snapshots pins ref HEADS, not a head's ancestors, so the
    ancestry walk can hit a deleted intermediate manifest. publish must
    then fail SAFE with the documented CommitConflictError (ancestry
    unprovable — not an EngineError crash), and force=True publishes a
    working table."""
    from trino_iceberg_spark.errors import CommitConflictError

    t = SnapshotTable(spark, str(tmp_path / "exp_ff_tt"))
    t.append(spark.range(3).toDF("id"))
    t.create_branch("audit")
    t.append(spark.range(10, 12).toDF("id"), branch="audit")
    t.append(spark.range(20, 22).toDF("id"), branch="audit")
    # expires the middle audit commit; both ref heads survive
    assert t.expire_snapshots(retain_last=1) == 1
    with pytest.raises(CommitConflictError):
        t.publish("audit")
    t.publish("audit", force=True)
    assert t.read().count() == 7  # 3 + 2 + 2 — chained files all live


def test_untouched_tables_carry_forward(spark, tmp_path):
    from trino_iceberg_spark.catalog.multi import MultiTableCatalog

    cat = MultiTableCatalog(spark, str(tmp_path / "cat3"))
    with cat.transaction() as txn:
        txn.append("a", spark.range(3).toDF("id"))
        txn.append("b", spark.range(4).toDF("id"))
    with cat.transaction() as txn:
        txn.append("a", spark.range(3, 6).toDF("id"))
    assert cat.read("a").count() == 6
    assert cat.read("b").count() == 4  # resolvable at the new version too
    with pytest.raises(EngineError):
        cat.read("nope")


def test_time_travel_excludes_unpublished_branch(spark, tmp_path):
    """FOR TIMESTAMP AS OF resolves along the MAIN branch's ancestry —
    commits on an unpublished write-audit-publish branch are invisible to
    timestamp travel (the same isolation read() has) until publish."""
    t = SnapshotTable(spark, str(tmp_path / "br_tt"))
    t.append(spark.range(0, 10).select(F.col("id").alias("k")))
    t.create_branch("audit")
    t.append(spark.range(100, 105).select(F.col("id").alias("k")), branch="audit")
    after_branch_commit = dt.datetime.now(dt.timezone.utc) + dt.timedelta(seconds=1)
    # timestamp travel during the WAP window sees only published main
    assert t.read_as_of(after_branch_commit).count() == 10
    # $history lists the main lineage only
    assert [r["snapshot_id"] for r in t.history_df().collect()] == [1]
    # explicit id-addressed reads still reach the branch snapshot (Iceberg
    # VERSION AS OF semantics) and $snapshots still lists everything
    assert t.read_version(2).count() == 15
    assert t.snapshots_df().count() == 2
    t.publish("audit")
    assert t.read_as_of(dt.datetime.now(dt.timezone.utc) + dt.timedelta(seconds=1)).count() == 15
    assert [r["snapshot_id"] for r in t.history_df().collect()] == [1, 2]


def test_snapshot_properties_committed_atomically(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "props"))
    t.append(
        spark.range(3).toDF("id"),
        properties={"streaming.query": "q", "streaming.batch-id": "0"},
    )
    snap = t.current_snapshot()
    assert snap.properties == {"streaming.query": "q", "streaming.batch-id": "0"}
    # the ledger is part of the manifest itself, not a side file
    import json

    with open(os.path.join(t.metadata_dir, f"v{snap.snapshot_id}.json")) as fh:
        assert json.load(fh)["properties"]["streaming.batch-id"] == "0"


def test_aborted_transaction_does_not_poison_next_append(spark, tmp_path):
    """The atomicity contract survives a FOLLOW-UP append: after an aborted
    transaction, the next transaction chains off the last PUBLISHED state,
    not the aborted snapshot — aborted rows never resurrect."""
    from trino_iceberg_spark.catalog.multi import MultiTableCatalog

    cat = MultiTableCatalog(spark, str(tmp_path / "cat_abort"))
    with cat.transaction("init") as txn:
        txn.append("t", spark.range(5).toDF("id"))
    with pytest.raises(RuntimeError):
        with cat.transaction("doomed") as txn:
            txn.append("t", spark.range(100, 199).toDF("id"))
            raise RuntimeError("validation failed")
    # main head untouched by the abort — not just the catalog version
    assert cat.table("t").read().count() == 5
    with cat.transaction("after") as txn:
        txn.append("t", spark.range(5, 8).toDF("id"))
    assert sorted(r["id"] for r in cat.read("t").collect()) == list(range(8))
    # aborted staging ref is gone; its snapshot is expirable garbage
    assert not any(
        n.startswith("_txn_") for n in cat.table("t")._load_refs()["branches"]
    )


def test_aborted_first_commit_on_new_table_stays_empty(spark, tmp_path):
    """Abort of the FIRST-ever commit to a brand-new table must not let
    main float onto the aborted snapshot (empty tables pin main at an
    explicit null head when staging begins)."""
    from trino_iceberg_spark.catalog.multi import MultiTableCatalog

    cat = MultiTableCatalog(spark, str(tmp_path / "cat_new"))
    with pytest.raises(RuntimeError):
        with cat.transaction("doomed") as txn:
            txn.append("fresh", spark.range(9).toDF("id"))
            raise RuntimeError("nope")
    with pytest.raises(EngineError):
        cat.table("fresh").read()  # still no published snapshot
    with cat.transaction("ok") as txn:
        txn.append("fresh", spark.range(3).toDF("id"))
    assert cat.read("fresh").count() == 3


def test_partition_spec_evolution_prunes_and_stays_exact(spark, tmp_path):
    """Iceberg-style partition evolution: a metadata-only spec change,
    hidden-partition layout for post-spec commits, per-file partition
    values in the manifest, range pruning through the monotonic day()
    transform, and untouched pre-spec files that still prune by zone
    maps only."""
    import datetime as dt

    from pyspark.sql import functions as F

    from trino_iceberg_spark.catalog.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "spec_evo"))
    rows = [(i, dt.datetime(2024, 1, 1 + i % 10, 8), i * 10) for i in range(100)]
    df = spark.createDataFrame(rows, "id long, ts timestamp, v long")
    t.append(df.filter("id < 50"))  # pre-spec (unpartitioned)
    t.set_partition_spec([("ts", "day")])
    t.append(df.filter("id >= 50"))  # hidden-partitioned by day(ts)

    snap = t.current_snapshot()
    assert snap.default_spec_id == 1
    parts = snap.file_partitions or {}
    assert parts, "partitioned commit recorded no partition values"
    # data files must NOT contain the hidden partition column
    assert "_p_ts_day" not in t.read().columns
    # range predicate prunes partitioned files through the transform
    cutoff = dt.datetime(2024, 1, 9)
    pruned = t.prune_files(snap, [("ts", ">=", cutoff)])
    kept_partitioned = [f for f in pruned if f in parts]
    assert len(kept_partitioned) < len(parts)
    # exactness: scan == full filter
    got = sorted(r["id"] for r in t.scan([("ts", ">=", cutoff)]).collect())
    want = sorted(
        r["id"] for r in t.read().filter(F.col("ts") >= cutoff).collect()
    )
    assert got == want and got
    # equality predicate keeps exactly one day partition (+ pre-spec files)
    eq = t.prune_files(snap, [("ts", "=", dt.datetime(2024, 1, 3, 8))])
    days = {parts[f]["values"]["_p_ts_day"] for f in eq if f in parts}
    assert days == {"2024-01-03"}
    # spec metadata survives schema evolution commits
    t.add_column("w", "long")
    s2 = t.current_snapshot()
    assert s2.default_spec_id == 1 and s2.file_partitions


def test_partition_spec_bucket_layout_not_used_for_pruning(spark, tmp_path):
    """bucket[N] lays files out but never prunes (no Python twin of the
    JVM murmur hash — a wrong bucket id would silently drop rows)."""
    from trino_iceberg_spark.catalog.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "spec_bucket"))
    t.append(spark.range(100).selectExpr("id", "id % 7 AS k"))
    t.set_partition_spec([("k", "bucket[4]")])
    t.append(spark.range(100, 200).selectExpr("id", "id % 7 AS k"))
    snap = t.current_snapshot()
    parts = snap.file_partitions or {}
    assert parts
    buckets = {p["values"]["_p_k_bucket_4_"] for p in parts.values()}
    assert len(buckets) > 1  # layout actually spread across buckets
    # equality filter on k must keep every bucketed file (no false prune)
    pruned = t.prune_files(snap, [("k", "=", 3)])
    assert [f for f in parts if f in pruned] == list(parts)
    got = sorted(r["id"] for r in t.scan([("k", "=", 3)]).collect())
    want = sorted(r["id"] for r in t.read().filter("k = 3").collect())
    assert got == want


def test_rewrite_sorted_restores_pruning(spark, tmp_path):
    from pyspark.sql import functions as F

    from trino_iceberg_spark.catalog.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "sorted_t"))
    # Ingest order orthogonal to the query key: interleaved ids, so every
    # file's [min, max] on id spans nearly the whole key space.
    base = spark.range(0, 1000).toDF("id").withColumn("v", F.col("id") * 2)
    for m in range(4):
        # one file per append, spanning ~the whole id range
        t.append(base.filter(F.col("id") % 4 == m).coalesce(1))
    before = t.current_snapshot()
    assert len(before.files) == 4
    # Zone maps are useless pre-rewrite: a narrow band matches every file.
    assert len(t.prune_files(before, [("id", ">=", 400), ("id", "<", 500)])) == len(
        before.files
    )

    after = t.rewrite_sorted(["id"], target_files=4)
    assert after is not None and len(after.files) == 4
    # Post-rewrite the band opens a strict subset of files...
    pruned = t.prune_files(after, [("id", ">=", 400), ("id", "<", 500)])
    assert 0 < len(pruned) < len(after.files)
    # ...and the visible rows are bit-identical.
    assert sorted(r["id"] for r in t.scan([("id", ">=", 400), ("id", "<", 500)]).collect()) == list(
        range(400, 500)
    )
    assert t.read().count() == 1000
    # History preserved: pre-rewrite snapshot still time-travels.
    assert t.read_version(before.snapshot_id).count() == 1000
    # Empty table is a no-op.
    empty = SnapshotTable(spark, str(tmp_path / "sorted_empty"))
    assert empty.rewrite_sorted(["id"]) is None


def test_rollback_restores_state_metadata_only(spark, tmp_path):
    from pyspark.sql import functions as F

    from trino_iceberg_spark.catalog.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "rb_t"))
    good = t.append(spark.range(0, 100).toDF("id"))
    t.append(spark.range(100, 140).toDF("id"))          # bad write 1
    t.overwrite(spark.range(0, 7).toDF("id"))           # bad write 2
    n_files_before = len(
        [f for f in __import__("os").listdir(t.data_dir)]
    )
    rb = t.rollback_to(good.snapshot_id)
    assert rb.operation == "rollback"
    assert t.read().count() == 100
    assert sorted(r["id"] for r in t.read().collect()) == list(range(100))
    # metadata-only: no new data files were written by the rollback
    assert len(__import__("os").listdir(t.data_dir)) == n_files_before
    # the bad snapshots still time-travel until expired
    assert t.read_version(good.snapshot_id + 2).count() == 7
    # zone-map stats survive the rollback (pruning still plans)
    assert len(t.prune_files(t.current_snapshot(), [("id", ">=", 0)])) >= 1
    # unknown snapshot raises
    import pytest

    from trino_iceberg_spark.errors import EngineError

    with pytest.raises(EngineError):
        t.rollback_to(999)


def test_sql_text_rollback_procedure(spark, tmp_path):
    from trino_iceberg_spark.catalog.snapshots import SnapshotTable
    from trino_iceberg_spark.client import AthenaSparkClient

    t = SnapshotTable(spark, str(tmp_path / "rb_sql_t"))
    v1 = t.append(spark.range(0, 50).toDF("id")).snapshot_id
    t.append(spark.range(50, 60).toDF("id"))
    c = AthenaSparkClient(spark)
    c.register_snapshot_table("rb_sql_t", str(tmp_path / "rb_sql_t"))
    assert (
        c.execute(
            f"ALTER TABLE rb_sql_t EXECUTE rollback_to_snapshot(snapshot_id => {v1})"
        )
        == 0
    )
    assert t.read().count() == 50
    import pytest

    from trino_iceberg_spark.errors import QueryError

    with pytest.raises(QueryError):
        c.execute("ALTER TABLE rb_sql_t EXECUTE rollback_to_snapshot")


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    from pyspark.sql import functions as F

    from trino_iceberg_spark.catalog.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "z_t"))
    # two independent uniform keys; 4 interleaved appends -> every file
    # spans both key spaces
    base = (
        spark.range(0, 4096)
        .withColumn("x", F.col("id") % 64)
        .withColumn("y", (F.col("id") * 37) % 64)
    )
    for m in range(4):
        t.append(base.filter(F.col("id") % 4 == m).coalesce(1))
    before = t.current_snapshot()
    assert len(t.prune_files(before, [("x", ">=", 10), ("x", "<", 20)])) == 4
    assert len(t.prune_files(before, [("y", ">=", 10), ("y", "<", 20)])) == 4

    after = t.rewrite_zorder(["x", "y"], target_files=16)
    assert after is not None and len(after.files) == 16
    # BOTH single-dimension bands now open strict subsets of files —
    # the property lexicographic sort cannot give the trailing column
    px = t.prune_files(after, [("x", ">=", 10), ("x", "<", 20)])
    py = t.prune_files(after, [("y", ">=", 10), ("y", "<", 20)])
    assert 0 < len(px) < 16 and 0 < len(py) < 16
    # rows are bit-identical through the rewrite
    assert t.read().count() == 4096
    assert (
        t.scan([("x", ">=", 10), ("x", "<", 20)]).count()
        == base.filter((F.col("x") >= 10) & (F.col("x") < 20)).count()
    )
    # bad config raises
    import pytest

    from trino_iceberg_spark.errors import EngineError

    with pytest.raises(EngineError):
        t.rewrite_zorder(["x", "y", "id", "x"], bits=16)


# --- concurrent-writer safety (Nessie-style CAS commits) --------------------


def test_concurrent_appends_both_land_serialized(spark, tmp_path):
    """Two writers committing at once must SERIALIZE — both snapshots
    land with a linear parent chain and no lost update (the pre-CAS
    last-committer-wins rename silently dropped one)."""
    import threading

    path = str(tmp_path / "cas_tt")
    SnapshotTable(spark, path).append(_events(spark, [0], "base"))

    errs = []

    def writer(ids, etype):
        try:
            SnapshotTable(spark, path).append(_events(spark, ids, etype))
        except Exception as exc:  # noqa: BLE001 — surfaced in the assert below
            errs.append(exc)

    threads = [
        threading.Thread(target=writer, args=([10 + i], f"w{i}")) for i in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []

    table = SnapshotTable(spark, path)
    snaps = table.main_ancestry()
    assert len(snaps) == 5  # base + all four concurrent commits
    # linear serialized chain: each commit's parent is its predecessor
    for parent, child in zip(snaps, snaps[1:]):
        assert child.parent_snapshot_id == parent.snapshot_id
    # no lost rows, and the metadata row_count agrees with a real read
    got = {r["event_id"] for r in table.read().collect()}
    assert got == {0, 10, 11, 12, 13}
    assert snaps[-1].row_count == 5


def test_cas_retry_rebuilds_against_refreshed_head(spark, tmp_path):
    """Deterministic pin of the retry path: a commit whose head moves
    between assembly and the CAS point must re-assemble against the new
    head (not clobber it, not fail)."""
    path = str(tmp_path / "cas_retry_tt")
    tab = SnapshotTable(spark, path)
    tab.append(_events(spark, [1], "base"))

    side = SnapshotTable(spark, path)
    state = {"reads": 0}
    orig = tab._head_for_commit

    def racing_head(branch):
        head = orig(branch)
        if state["reads"] == 0:
            state["reads"] = 1
            # lands AFTER this writer read its head, BEFORE its CAS
            side.append(_events(spark, [2], "intruder"))
        return head

    tab._head_for_commit = racing_head
    tab.append(_events(spark, [3], "retried"))

    snaps = tab.main_ancestry()
    assert [s.snapshot_id for s in snaps] == [1, 2, 3]  # serialized, none lost
    assert {r["event_id"] for r in tab.read().collect()} == {1, 2, 3}
    assert snaps[-1].row_count == 3  # recomputed against the refreshed head


def test_concurrent_schema_evolution_conflicts_staged_append(spark, tmp_path):
    """A data commit staged under the old schema must NOT silently land
    after a concurrent evolution — its files were written under a schema
    the head no longer has; the writer gets a CommitConflictError."""
    from trino_iceberg_spark.errors import CommitConflictError

    path = str(tmp_path / "cas_conflict_tt")
    tab = SnapshotTable(spark, path)
    tab.append(_events(spark, [1], "base"))

    side = SnapshotTable(spark, path)
    state = {"reads": 0}
    orig = tab._head_for_commit

    def racing_head(branch):
        head = orig(branch)
        if state["reads"] == 0:
            state["reads"] = 1
            side.add_column("extra", "int")
        return head

    tab._head_for_commit = racing_head
    with pytest.raises(CommitConflictError, match="schema"):
        tab.append(_events(spark, [2], "stale"))
    # the evolution itself is intact and the failed append lost no history
    assert [s.operation for s in tab.main_ancestry()] == ["append", "evolve"]


def test_concurrent_catalog_transactions_both_recorded(spark, tmp_path):
    """Two catalog transactions racing on DIFFERENT tables must both
    land in versions.json — the pre-lock read-modify-write let the
    second os.replace erase the first's version entry."""
    import threading

    from trino_iceberg_spark.catalog.multi import MultiTableCatalog

    cat = MultiTableCatalog(spark, str(tmp_path / "cat"))
    with cat.transaction("seed") as txn:
        txn.append("t_a", _events(spark, [1], "a"))
        txn.append("t_b", _events(spark, [1], "b"))

    errs = []

    def worker(name, ids):
        try:
            with cat.transaction(f"bulk {name}") as txn:
                txn.append(name, _events(spark, ids, name))
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [
        threading.Thread(target=worker, args=("t_a", [10])),
        threading.Thread(target=worker, args=("t_b", [20])),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    assert cat.current_version() == 3  # seed + both racers, none lost
    # the latest consistent view carries both writes
    assert {r["event_id"] for r in cat.read("t_a").collect()} == {1, 10}
    assert {r["event_id"] for r in cat.read("t_b").collect()} == {1, 20}


def test_append_to_legacy_manifest_table_still_commits(spark, tmp_path):
    """A head manifest written before schema tracking (no schema_id)
    must still accept data commits — the CAS fingerprint check has no
    identity to conflict with on legacy tables (code-review r9)."""
    import json as _json

    t = SnapshotTable(spark, str(tmp_path / "legacy_t"))
    t.append(_events(spark, [1], "a"))
    # strip the schema-tracking fields to simulate a legacy manifest
    p = os.path.join(t.metadata_dir, "v1.json")
    with open(p, "r", encoding="utf-8") as fh:
        m = _json.load(fh)
    for k in ("schema_id", "last_column_id", "schemas", "file_schemas"):
        m.pop(k, None)
    with open(p, "w", encoding="utf-8") as fh:
        _json.dump(m, fh)

    snap = t.append(_events(spark, [2], "b"))  # must not raise
    assert snap.snapshot_id == 2
    assert {r["event_id"] for r in t.read().collect()} == {1, 2}


def test_cas_stress_many_writers_many_commits(spark, tmp_path):
    """8 writers x 3 commits each, all racing on one table: every commit
    must land exactly once (24 + base snapshots, linear chain, row count
    = total rows) — the sustained-contention version of the 2-thread
    pin, sized to stay test-suite-fast."""
    import threading

    path = str(tmp_path / "cas_stress_tt")
    SnapshotTable(spark, path).append(_events(spark, [0], "base"))
    errs = []

    def writer(w):
        try:
            # 24 commits race on one table, so a single append can lose up
            # to 23 CAS rounds — size the retry budget above the worst
            # case (the default 10 would make this test flaky by design).
            t = SnapshotTable(spark, path, commit_attempts=64)
            for c in range(3):
                t.append(_events(spark, [w * 3 + c + 1], f"w{w}"))
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    table = SnapshotTable(spark, path)
    snaps = table.main_ancestry()
    assert len(snaps) == 25
    for parent, child in zip(snaps, snaps[1:]):
        assert child.parent_snapshot_id == parent.snapshot_id
    assert table.read().count() == 25
    assert snaps[-1].row_count == 25


def test_delete_where_does_not_erase_concurrent_append(spark, tmp_path):
    """The copy-on-write DML lost-update window: a DELETE staged against
    snapshot N used to commit fine after an append landed at N+1 —
    silently erasing the appended rows, because the overwrite composed
    against any same-schema head. With based_on validation the first
    attempt conflicts and the retry re-derives against the new head, so
    the racer's row survives."""
    path = str(tmp_path / "rmw_tt")
    t = SnapshotTable(spark, path)
    t.append(_events(spark, [1, 2], "base"))
    other = SnapshotTable(spark, path)
    real_read = t._read_snapshot
    injections = {"n": 0}

    def racing_read(snap):
        df = real_read(snap)
        if injections["n"] == 0:  # racer lands between read and commit
            injections["n"] += 1
            other.append(_events(spark, [3], "racer"))
        return df

    t._read_snapshot = racing_read
    t.delete_where(F.col("event_id") == 1)
    assert injections["n"] == 1
    assert {r["event_id"] for r in t.read().collect()} == {2, 3}
    snaps = t.main_ancestry()
    assert [s.operation for s in snaps] == ["append", "append", "overwrite"]
    assert snaps[-1].row_count == 2


def test_cow_dml_rewrites_only_touched_files(spark, tmp_path):
    """Copy-on-write row-level DML rewrites ONLY the data files containing
    matched rows (Iceberg's CoW write shape) — every untouched file
    survives by IDENTITY in the child snapshot, and (col, op, literal)
    filters prune candidates at the manifest level before the match scan
    (round-13 verdict #6: CoW must be O(files touched), not O(table))."""
    from trino_iceberg_spark.catalog.snapshots import SnapshotTable

    path = str(tmp_path / "cow_touched")
    t = SnapshotTable(spark, path)
    # four files with disjoint k ranges → selective zone maps
    for lo in (0, 100, 200, 300):
        t.append(
            spark.createDataFrame(
                [(i, float(i)) for i in range(lo, lo + 100)], "k long, v double"
            ).coalesce(1)
        )
    snap0 = t.current_snapshot()
    assert len(snap0.files) == 4

    # DELETE touching one file's range: 3 files survive by identity
    t.delete_where(
        (F.col("k") >= 150) & (F.col("k") < 160),
        filters=[("k", ">=", 150), ("k", "<", 160)],
    )
    snap1 = t.current_snapshot()
    assert len(set(snap0.files) & set(snap1.files)) == 3
    assert snap1.row_count == 390 and t.read().count() == 390
    assert {r["k"] for r in t.read().filter("k >= 145 and k < 165").collect()} == (
        set(range(145, 150)) | set(range(160, 165))
    )

    # UPDATE touching one row: again 3 untouched files survive
    t.update_where(
        F.col("k") == 250, {"v": F.lit(0.5)}, filters=[("k", "=", 250)]
    )
    snap2 = t.current_snapshot()
    assert len(set(snap1.files) & set(snap2.files)) == 3
    assert snap2.row_count == 390
    got = {r["k"]: r["v"] for r in t.read().filter("k in (249, 250)").collect()}
    assert got == {249: 249.0, 250: 0.5}

    # filters are an optimization only: same DML WITHOUT filters still
    # rewrites only the files that actually CONTAIN matches
    t.delete_where(F.col("k") == 50)
    snap3 = t.current_snapshot()
    assert len(set(snap2.files) & set(snap3.files)) == 3
    assert snap3.row_count == 389

    # no-match DML: metadata-only commit, every file carried forward
    t.delete_where(F.col("k") == 10_000, filters=[("k", "=", 10_000)])
    snap4 = t.current_snapshot()
    assert set(snap4.files) == set(snap3.files)
    assert snap4.row_count == 389

    # outstanding EQUALITY deletes pin the manifest-list prefix → the
    # CoW rewrite falls back to the full rewrite that materializes them
    t.delete_by_key(spark.createDataFrame([(300,)], "k long"))
    assert t.current_snapshot().equality_deletes
    t.delete_where(F.col("k") == 301, filters=[("k", "=", 301)])
    snap5 = t.current_snapshot()
    assert not snap5.equality_deletes  # materialized away
    assert snap5.row_count == 387
    assert {300, 301} & {r["k"] for r in t.read().collect()} == set()


def test_cow_merge_api_rewrites_only_touched_files(spark, tmp_path):
    """The API merge() under copy-on-write also plans touched-file
    rewrites (round 14): the source's key BOUNDS zone-map-prune the
    match scan, only files holding matched keys rewrite, untouched
    files survive by identity, and a pure-insert upsert still appends.
    NULL source keys disable the bounds prefilter (zone maps cannot see
    IS NULL matches) but match null-safely through the probe."""
    from trino_iceberg_spark.catalog.snapshots import SnapshotTable

    t = SnapshotTable(spark, str(tmp_path / "cow_m_api"))
    t.append(
        spark.range(400).selectExpr("id AS k", "id * 2 AS v"),
        cluster_by=["k"],
        cluster_partitions=4,
    )
    snap0 = t.current_snapshot()
    src = spark.createDataFrame(
        [(k, k * 100) for k in list(range(150, 160)) + [999]], "k long, v long"
    )
    t.merge(src, ["k"])  # default copy-on-write
    snap1 = t.current_snapshot()
    assert len(set(snap0.files) & set(snap1.files)) == 3  # 1 of 4 rewritten
    rows = {r["k"]: r["v"] for r in t.read().collect()}
    assert rows[150] == 15000 and rows[149] == 298 and rows[999] == 99900
    assert len(rows) == 401 and snap1.row_count == 401

    # null-safe matching without the bounds prefilter
    t2 = SnapshotTable(spark, str(tmp_path / "cow_m_null"))
    t2.append(spark.createDataFrame([(1, 10), (None, 20)], "k long, v long"))
    t2.merge(spark.createDataFrame([(None, 99)], "k long, v long"), ["k"])
    assert {(r["k"], r["v"]) for r in t2.read().collect()} == {(1, 10), (None, 99)}
    # pure-insert upsert: nothing matches, the new row still lands
    t2.merge(spark.createDataFrame([(7, 70)], "k long, v long"), ["k"])
    assert {(r["k"], r["v"]) for r in t2.read().collect()} == {
        (1, 10),
        (None, 99),
        (7, 70),
    }
    # empty source: a no-op upsert leaves the rows and row_count intact
    t2.merge(spark.createDataFrame([], "k long, v long"), ["k"])
    assert t2.read().count() == 3 and t2.current_snapshot().row_count == 3


def test_rewrite_commit_gives_up_after_budget(spark, tmp_path):
    """_rewrite_commit's give-up path: a racer advancing the head on
    EVERY attempt exhausts commit_attempts and surfaces the typed
    CommitConflictError (never an infinite loop, never a lost update —
    the racer's rows all survive)."""
    from trino_iceberg_spark.errors import CommitConflictError

    path = str(tmp_path / "rmw_budget_tt")
    t = SnapshotTable(spark, path, commit_attempts=2)
    t.append(_events(spark, [1], "base"))
    other = SnapshotTable(spark, path)
    real_read = t._read_snapshot
    n = {"i": 0}

    def always_racing_read(snap):
        df = real_read(snap)
        n["i"] += 1
        other.append(_events(spark, [10 + n["i"]], "racer"))
        return df

    t._read_snapshot = always_racing_read
    with pytest.raises(CommitConflictError, match="validation race"):
        t.delete_where(F.col("event_id") == 1)
    assert n["i"] == 2  # exactly commit_attempts derivations
    assert {r["event_id"] for r in t.read().collect()} == {1, 11, 12}


def test_maintenance_rewrite_conflicts_instead_of_erasing(spark, tmp_path):
    """Compaction validates its read snapshot and has NO retry loop: a
    commit landing mid-compaction surfaces as CommitConflictError and
    the concurrent rows stay intact — never silently rewritten away."""
    from trino_iceberg_spark.errors import CommitConflictError

    path = str(tmp_path / "compact_tt")
    t = SnapshotTable(spark, path)
    t.append(_events(spark, [1], "a"))
    t.append(_events(spark, [2], "b"))
    other = SnapshotTable(spark, path)
    real_read = t._read_snapshot

    def racing_read(snap):
        df = real_read(snap)
        other.append(_events(spark, [3], "racer"))
        return df

    t._read_snapshot = racing_read
    with pytest.raises(CommitConflictError):
        t.compact_small_files(target_files=1)
    assert {r["event_id"] for r in t.read().collect()} == {1, 2, 3}


def test_expire_serializes_with_commits(spark, tmp_path):
    """expire_snapshots must take the commit lock for its liveness
    decision + manifest removal: a concurrent metadata-only rollback_to
    re-references an old snapshot's files, so an unserialized expire
    could delete data a just-committed rollback resurrected."""
    path = str(tmp_path / "expire_tt")
    t = SnapshotTable(spark, path)
    t.append(_events(spark, [1], "a"))
    t.append(_events(spark, [2], "b"))
    acquired = []
    real = t._commit_lock

    def spy(timeout: float = 30.0):
        acquired.append(True)
        return real(timeout)

    t._commit_lock = spy
    assert t.expire_snapshots(retain_last=1) == 1
    assert acquired  # the decision ran under the lock
    assert t.read().count() == 2  # head intact


def test_concurrent_schedule_fuzz_slice(spark, tmp_path):
    """Deterministic slice of tools/fuzz_concurrent.py: one generated
    multi-writer schedule (seed 0: 4 writers x 3 ops drawn from append/
    overwrite/delete_where/update_where/merge/add_column) checked for
    linearizability — linear chain, success-set == chain-set,
    serialized-fold row replay (merge = upsert-by-key), metadata row
    count, evolved columns present. Full sweeps run per round with
    fresh seeds."""
    from tools.fuzz_concurrent import run_schedule

    ok, conflict = run_schedule(spark, str(tmp_path), seed=0, writers=4, ops=3)
    assert ok + conflict == 12  # every op adjudicated ok-or-legal-conflict


def test_concurrent_txn_fuzz_slice(spark, tmp_path):
    """Deterministic slice of tools/fuzz_concurrent.py's multi-table
    schedule: 3 writers x 2 transactions race on overlapping tables;
    conflicted transactions restage wholesale, and the checker proves
    the version log is a lossless serialization with cross-table
    atomicity at EVERY version."""
    from tools.fuzz_concurrent import run_txn_schedule

    n_txn, n_versions = run_txn_schedule(
        spark, str(tmp_path), seed=0, writers=3, txns=2
    )
    assert (n_txn, n_versions) == (6, 6)


def test_expire_race_fuzz_slice(spark, tmp_path):
    """Deterministic slice of tools/fuzz_concurrent.py's expiry-race
    schedule (round-11 directive: maintenance-vs-DML races): aggressive
    ``expire_snapshots`` loops while writers commit appends and BLIND
    equality deletes; no commit may be lost, the retained chain stays
    linear and readable, and post-race compaction restores exact
    row_count. Full sweeps run per round with fresh seeds."""
    from tools.fuzz_concurrent import run_expire_schedule

    n_ops, _n_expired = run_expire_schedule(
        spark, str(tmp_path), seed=0, writers=3, ops=3
    )
    assert n_ops == 9


def test_evolution_eqdelete_fuzz_slice(spark, tmp_path):
    """Deterministic slice of tools/fuzz_evolution.py (round-11, from the
    round-10 judge repro): one 12-op sequence mixing equality deletes /
    MOR upserts / rename / drop / re-add-old-name / maintenance against a
    field-id-faithful model — every step's visible rows must agree and
    eq-keyed drops must be refused. Full sweeps run per round with fresh
    seeds."""
    from tools.fuzz_evolution import run_sequence

    log = run_sequence(spark, str(tmp_path), seed=2)
    assert len(log) >= 10
    # round 12: a slice whose seed exercises the new ops — partition-spec
    # evolution and a hive-partitioned add_data_files — in one sequence
    log2 = run_sequence(spark, str(tmp_path), seed=9100)
    assert any("set_partition_spec" in e for e in log2), log2
    assert any("hive-partitioned" in e for e in log2), log2


def test_fs_lock_releases_and_reports_stale_holder(tmp_path):
    """The commit lockfile must vanish on release, and a stale lock (a
    crashed writer's leftover) must time out with an error naming the
    path and the recorded holder — the operator-recovery contract the
    docstring promises."""
    from trino_iceberg_spark.catalog.snapshots import fs_lock

    lock = str(tmp_path / "metadata" / ".commit.lock")
    with fs_lock(lock):
        with open(lock, encoding="utf-8") as fh:
            assert fh.read() == f"pid={os.getpid()}"
        with pytest.raises(EngineError) as exc:
            with fs_lock(lock, timeout=0.05):
                pass
        assert ".commit.lock" in str(exc.value)
        assert f"pid={os.getpid()}" in str(exc.value)
    assert not os.path.exists(lock)  # released
    with fs_lock(lock, timeout=0.05):  # and re-acquirable
        pass


# -- two-level metadata (manifest-list) -----------------------------------


def _segments_on_disk(t: SnapshotTable) -> set[str]:
    return {f for f in os.listdir(t.metadata_dir) if f.startswith("seg-")}


def test_manifest_list_append_writes_one_segment_delta(spark, tmp_path):
    """Commit metadata I/O must be O(delta): each append writes exactly
    ONE new segment (its own files) and reuses the parent's list;
    metadata-only commits (evolve, set-spec, rollback) write ZERO — the
    Iceberg manifest-list property that keeps commit cost flat as the
    table grows (tools/commit_bench.py measures it at 10k/100k files)."""
    t = SnapshotTable(spark, str(tmp_path / "ml_t"))
    s1 = t.append(_events(spark, [1, 2], "a"))
    assert len(s1.manifest_list) == 1
    s2 = t.append(_events(spark, [3], "b"))
    assert len(s2.manifest_list) == 2
    assert s2.manifest_list[:1] == s1.manifest_list  # parent list reused
    assert len(_segments_on_disk(t)) == 2

    s3 = t.add_column("extra", "int")  # metadata-only: zero segments
    assert s3.manifest_list == s2.manifest_list
    s4 = t.set_partition_spec([("event_id", "bucket[4]")])
    assert s4.manifest_list == s2.manifest_list
    s5 = t.rollback_to(s1.snapshot_id)
    assert s5.manifest_list == s1.manifest_list  # target's segments verbatim
    assert len(_segments_on_disk(t)) == 2  # nothing new on disk

    # resolved per-file metadata identical through the indirection —
    # a FRESH handle (cold segment cache) resolves the same snapshot
    assert s2.files == s1.files + tuple(f for f in s2.files if f not in s1.files)
    assert set(s2.file_schemas) == set(s2.files)
    cold = SnapshotTable(spark, str(tmp_path / "ml_t"))
    r2 = next(s for s in cold.snapshots() if s.snapshot_id == s2.snapshot_id)
    assert (r2.files, r2.file_schemas, r2.file_stats) == (
        s2.files,
        s2.file_schemas,
        s2.file_stats,
    )
    # stats recorded for every non-empty data file (empty partitions have
    # no row groups, hence no zone maps — legitimately absent)
    assert any(r2.file_stats.values())


def test_manifest_list_overwrite_and_expire_gc_segments(spark, tmp_path):
    """An overwrite starts a fresh one-segment list; expire_snapshots
    garbage-collects segments referenced only by expired manifests and
    keeps shared ones live."""
    t = SnapshotTable(spark, str(tmp_path / "ml_gc"))
    s1 = t.append(_events(spark, [1], "a"))
    s2 = t.append(_events(spark, [2], "b"))
    assert len(s2.manifest_list) == 2
    s3 = t.overwrite(_events(spark, [9], "c"))
    assert len(s3.manifest_list) == 1
    assert s3.manifest_list[0] not in s2.manifest_list
    assert len(_segments_on_disk(t)) == 3

    n = t.expire_snapshots(retain_last=1)
    assert n == 2
    assert _segments_on_disk(t) == set(s3.manifest_list)
    assert {r["event_id"] for r in t.read().collect()} == {9}
    # the expired snapshots' data files went with their segments
    assert not any(
        f in set(os.listdir(t.data_dir))
        for f in [os.path.basename(x) for x in s1.files + s2.files]
    )


def test_manifest_list_migrates_legacy_inline_manifest(spark, tmp_path):
    """A table whose head is a legacy single-JSON manifest (inline file
    entries) migrates on its next commit: the new snapshot factors ALL
    entries into a fresh segment and reads stay identical."""
    import json as _json

    t = SnapshotTable(spark, str(tmp_path / "ml_legacy"))
    t.append(_events(spark, [1, 2], "a"))
    # rewrite v1.json to the legacy inline format
    p = os.path.join(t.metadata_dir, "v1.json")
    with open(p, "r", encoding="utf-8") as fh:
        m = _json.load(fh)
    snap = t.current_snapshot()
    m.pop("manifest_list", None)
    m["files"] = list(snap.files)
    m["file_schemas"] = dict(snap.file_schemas or {})
    m["file_stats"] = dict(snap.file_stats or {})
    with open(p, "w", encoding="utf-8") as fh:
        _json.dump(m, fh)
    for seg in snap.manifest_list:
        os.remove(os.path.join(t.metadata_dir, seg))
    t._segment_cache.clear()

    legacy = SnapshotTable(spark, str(tmp_path / "ml_legacy"))
    head = legacy.current_snapshot()
    assert head.manifest_list is None  # reads as legacy
    assert {r["event_id"] for r in legacy.read().collect()} == {1, 2}
    s2 = legacy.append(_events(spark, [3], "b"))
    assert s2.manifest_list is not None and len(s2.manifest_list) == 1
    assert {r["event_id"] for r in legacy.read().collect()} == {1, 2, 3}


def test_orphan_sweep_reclaims_unreferenced_segments(spark, tmp_path):
    """A segment written by a crashed commit (never referenced by any
    v*.json) is swept by remove_orphan_files under the same age floor as
    staged data files."""
    import json as _json

    t = SnapshotTable(spark, str(tmp_path / "ml_orphan"))
    t.append(_events(spark, [1], "a"))
    orphan = os.path.join(t.metadata_dir, "seg-deadbeef.json")
    with open(orphan, "w", encoding="utf-8") as fh:
        _json.dump({"entries": []}, fh)
    assert t.remove_orphan_files(older_than_s=3600.0) == 0  # age-floored
    assert os.path.exists(orphan)
    assert t.remove_orphan_files(older_than_s=0.0) == 1
    assert not os.path.exists(orphan)
    assert {r["event_id"] for r in t.read().collect()} == {1}


# -- merge-on-read position deletes (Iceberg v2) --------------------------


def _orders(spark, n=20):
    return spark.createDataFrame(
        [(i, i % 7, float(i) * 10) for i in range(n)],
        "k long, bucket long, price double",
    )


def test_mor_delete_leaves_files_and_accrues_delete_files(spark, tmp_path):
    """delete_where(mode='merge-on-read') must not touch data files:
    same file tuple, one position-delete file per DML commit, row_count
    metadata tracking the visible rows, reads anti-joined exactly."""
    t = SnapshotTable(spark, str(tmp_path / "mor_t"))
    s1 = t.append(_orders(spark).coalesce(3))
    s2 = t.delete_where(F.col("k") % 3 == 0, mode="merge-on-read")
    assert s2.files == s1.files  # zero data movement
    assert len(s2.position_deletes) == 1
    assert s2.operation == "delete"
    assert s2.row_count == 20 - 7
    live = sorted(r["k"] for r in t.read().collect())
    assert live == [k for k in range(20) if k % 3 != 0]

    s3 = t.delete_where(F.col("k") % 5 == 1, mode="merge-on-read")
    assert s3.files == s1.files
    assert len(s3.position_deletes) == 2  # accrual
    want = [k for k in range(20) if k % 3 != 0 and k % 5 != 1]
    assert sorted(r["k"] for r in t.read().collect()) == want
    assert s3.row_count == len(want)
    # a MOR delete is metadata+delete-file only: parent segments reused
    assert s3.manifest_list == s1.manifest_list


def test_mor_delete_null_condition_keeps_row(spark, tmp_path):
    """Three-valued logic parity with copy-on-write: a NULL condition
    must KEEP the row (DELETE removes only IS TRUE matches)."""
    t = SnapshotTable(spark, str(tmp_path / "mor_null"))
    t.append(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "k long, v int"
        ).coalesce(1)
    )
    t.delete_where(F.col("v") > 15, mode="merge-on-read")
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]


def test_mor_delete_time_travel_and_compaction_materializes(spark, tmp_path):
    """Old snapshots still read the pre-delete rows (delete files travel
    with their snapshot); compact_small_files reads THROUGH the deletes
    and commits an overwrite carrying none — and expire then reclaims
    the dead delete files."""
    t = SnapshotTable(spark, str(tmp_path / "mor_tt"))
    s1 = t.append(_orders(spark).coalesce(2))
    t.delete_where(F.col("k") < 5, mode="merge-on-read")
    assert sorted(r["k"] for r in t.read_version(s1.snapshot_id).collect()) == list(
        range(20)
    )
    s3 = t.compact_small_files(target_files=1)
    assert s3 is not None and not s3.position_deletes
    assert sorted(r["k"] for r in t.read().collect()) == list(range(5, 20))
    t.expire_snapshots(retain_last=1)
    leftover = [f for f in os.listdir(t.data_dir) if f.startswith("del-")]
    assert leftover == []  # expired delete files reclaimed


def test_mor_delete_append_carries_deletes_forward(spark, tmp_path):
    """An append after a MOR delete keeps the outstanding delete files
    (they apply to the retained files) while new rows are untouched;
    a copy-on-write rewrite (update/merge/overwrite) clears them."""
    t = SnapshotTable(spark, str(tmp_path / "mor_fwd"))
    t.append(_orders(spark, 10).coalesce(1))
    t.delete_where(F.col("k") % 2 == 0, mode="merge-on-read")
    s3 = t.append(
        spark.createDataFrame(
            [(100, 0, 0.0), (102, 0, 0.0)], "k long, bucket long, price double"
        ).coalesce(1)
    )
    assert len(s3.position_deletes) == 1  # carried
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3, 5, 7, 9, 100, 102]

    # a CoW rewrite of the APPENDED file only: the outstanding delete
    # targets the untouched first file, so its record stays outstanding
    # and keeps applying (touched-file CoW never pretends to materialize
    # deletes of files it did not rewrite)
    s4 = t.update_where(F.col("k") == 100, {"price": F.lit(1.0)})
    assert len(s4.position_deletes) == 1
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3, 5, 7, 9, 100, 102]
    # rewriting the TARGETED file materializes its deletes away
    s5 = t.update_where(F.col("k") == 1, {"price": F.lit(2.0)})
    assert not s5.position_deletes
    assert sorted(r["k"] for r in t.read().collect()) == [1, 3, 5, 7, 9, 100, 102]


def test_mor_delete_scan_prunes_and_stays_exact(spark, tmp_path):
    """Zone-map file pruning composes with MOR deletes: the pruned scan
    still anti-joins the delete files, so results equal the plain
    filtered read."""
    t = SnapshotTable(spark, str(tmp_path / "mor_scan"))
    t.append(_orders(spark, 100), cluster_by=["k"], cluster_partitions=4)
    t.delete_where((F.col("k") >= 10) & (F.col("k") < 15), mode="merge-on-read")
    got = sorted(r["k"] for r in t.scan([("k", "<", 30)]).collect())
    assert got == [k for k in range(30) if not 10 <= k < 15]


def test_mor_delete_concurrent_append_never_lost(spark, tmp_path):
    """Serializable isolation: a MOR delete racing appends must neither
    lose the appended rows nor delete rows its matched snapshot never
    saw — the based_on validation re-derives the match set."""
    import threading

    t = SnapshotTable(spark, str(tmp_path / "mor_race"), commit_attempts=64)
    t.append(_orders(spark, 10).coalesce(1))
    errs = []

    def do_appends():
        try:
            w = SnapshotTable(spark, str(tmp_path / "mor_race"), commit_attempts=64)
            for j in range(3):
                w.append(
                    spark.createDataFrame(
                        [(1000 + j, 0, 0.0)], "k long, bucket long, price double"
                    ).coalesce(1)
                )
        except BaseException as exc:  # noqa: BLE001
            errs.append(exc)

    def do_delete():
        try:
            w = SnapshotTable(spark, str(tmp_path / "mor_race"), commit_attempts=64)
            w.delete_where(F.col("k") % 2 == 1, mode="merge-on-read")
        except BaseException as exc:  # noqa: BLE001
            errs.append(exc)

    ths = [threading.Thread(target=do_appends), threading.Thread(target=do_delete)]
    for th in ths:
        th.start()
    for th in ths:
        th.join()
    assert not errs, errs
    got = sorted(r["k"] for r in t.read().collect())
    # the delete always lands (internal retries) and removes every odd
    # row present at its matched snapshot; the original odds predate it,
    # so they are always gone. The appended odd row (1001) is deleted or
    # kept depending on which side of the delete its append serialized —
    # both orders are legal, nothing else is.
    assert got in (
        [0, 2, 4, 6, 8, 1000, 1002],
        [0, 2, 4, 6, 8, 1000, 1001, 1002],
    ), got
    assert t.current_snapshot().row_count == len(got)


def test_mor_update_deletes_old_images_and_appends_new(spark, tmp_path):
    """update_where(mode='merge-on-read') is ONE commit: old images
    position-deleted, new images appended as data files under the
    current schema — row count unchanged, retained files untouched,
    results identical to the copy-on-write semantics."""
    t = SnapshotTable(spark, str(tmp_path / "moru"))
    s1 = t.append(_orders(spark).coalesce(2))
    s2 = t.update_where(
        F.col("k") % 4 == 1, {"price": F.col("price") + 1000.0},
        mode="merge-on-read",
    )
    assert s2.operation == "update"
    assert s2.row_count == 20
    assert set(s1.files) <= set(s2.files)  # originals retained
    assert len(s2.files) > len(s1.files)  # new image files appended
    assert len(s2.position_deletes) == 1
    rows = {r["k"]: r["price"] for r in t.read().collect()}
    assert len(rows) == 20
    for k in range(20):
        want = k * 10.0 + (1000.0 if k % 4 == 1 else 0.0)
        assert rows[k] == want, (k, rows[k], want)
    # time travel still shows pre-update images
    pre = {r["k"]: r["price"] for r in t.read_version(s1.snapshot_id).collect()}
    assert pre[1] == 10.0
    # a second MOR update compounds on the previous one's new files
    s3 = t.update_where(
        F.col("k") == 1, {"price": F.lit(-1.0)}, mode="merge-on-read"
    )
    assert len(s3.position_deletes) == 2
    rows = {r["k"]: r["price"] for r in t.read().collect()}
    assert rows[1] == -1.0 and rows[5] == 1050.0
    # compaction materializes both deletes and the update chain
    s4 = t.compact_small_files(target_files=1)
    assert not s4.position_deletes
    rows = {r["k"]: r["price"] for r in t.read().collect()}
    assert rows[1] == -1.0 and rows[5] == 1050.0 and len(rows) == 20


def test_mor_update_null_condition_and_empty_match(spark, tmp_path):
    """NULL conditions keep rows unchanged (IS TRUE semantics, parity
    with copy-on-write); an update matching nothing commits no delete
    file and no data file."""
    t = SnapshotTable(spark, str(tmp_path / "moru_null"))
    s1 = t.append(
        spark.createDataFrame(
            [(1, 10), (2, None), (3, 30)], "k long, v int"
        ).coalesce(1)
    )
    s2 = t.update_where(
        F.col("v") > 15, {"v": F.lit(0)}, mode="merge-on-read"
    )
    got = {r["k"]: r["v"] for r in t.read().collect()}
    assert got == {1: 10, 2: None, 3: 0}
    s3 = t.update_where(
        F.col("k") > 100, {"v": F.lit(9)}, mode="merge-on-read"
    )
    assert s3.files == s2.files and (s3.position_deletes or ()) == (
        s2.position_deletes or ()
    )


def test_mor_update_respects_table_property(spark, tmp_path):
    """write.update.mode=merge-on-read routes plain update_where calls
    (the SQL-text client path) through position deletes."""
    t = SnapshotTable(spark, str(tmp_path / "moru_prop"))
    t.set_table_property("write.update.mode", "merge-on-read")
    s1 = t.append(_orders(spark, 8).coalesce(1))
    s2 = t.update_where(F.col("k") < 2, {"price": F.lit(0.0)})
    assert s2.operation == "update" and s2.position_deletes
    assert s2.files[: len(s1.files)] == s1.files


def test_equality_delete_horizon_and_gc(spark, tmp_path):
    """delete_by_key (Iceberg v2 equality deletes): key-matched rows in
    files present at delete time are gone; rows appended LATER with the
    same key survive (the sequence-number rule via manifest-list
    prefixes); row_count stays exact in count_matches mode; compaction
    materializes; expiry reclaims dead delete files."""
    t = SnapshotTable(spark, str(tmp_path / "eqd"))
    df = spark.createDataFrame(
        [(i, f"u{i % 5}", float(i)) for i in range(20)],
        "k long, user string, val double",
    )
    s1 = t.append(df.coalesce(2))
    s2 = t.delete_by_key(
        spark.createDataFrame([("u1",), ("u3",)], "user string"), ["user"]
    )
    want = [k for k in range(20) if k % 5 not in (1, 3)]
    assert sorted(r["k"] for r in t.read().collect()) == want
    assert s2.row_count == len(want)
    assert s2.files == s1.files  # zero rewrite
    assert len(s2.equality_deletes) == 1
    # same-key row appended AFTER the delete survives
    t.append(
        spark.createDataFrame(
            [(100, "u1", 0.0)], "k long, user string, val double"
        ).coalesce(1)
    )
    assert sorted(r["k"] for r in t.read().collect()) == want + [100]
    # position + equality deletes compose
    t.delete_where(F.col("k") == 2, mode="merge-on-read")
    want2 = [k for k in want if k != 2] + [100]
    assert sorted(r["k"] for r in t.read().collect()) == want2
    # time travel unaffected; compaction materializes both kinds
    assert sorted(
        r["k"] for r in t.read_version(s1.snapshot_id).collect()
    ) == list(range(20))
    s5 = t.compact_small_files(target_files=1)
    assert not s5.equality_deletes and not s5.position_deletes
    assert sorted(r["k"] for r in t.read().collect()) == want2
    t.expire_snapshots(retain_last=1)
    leftovers = [
        f
        for f in os.listdir(t.data_dir)
        if f.startswith(("eqdel-", "del-"))
    ]
    assert leftovers == []


def test_equality_delete_null_keys_and_blind_mode(spark, tmp_path):
    """NULL key values match rows where the column IS NULL — the Iceberg
    spec's null-matching rule for equality deletes ("a null value in a
    delete column matches a row if the row's value is null"), which is
    how Trino/Flink read v2 delete files. count_matches=False commits
    blind — zero table reads, row_count becomes an upper bound until
    compaction."""
    t = SnapshotTable(spark, str(tmp_path / "eqd_null"))
    s0 = t.append(
        spark.createDataFrame(
            [(1, None), (2, "a"), (3, "b")], "k long, g string"
        ).coalesce(1)
    )
    s1 = t.delete_by_key(
        spark.createDataFrame([(None,), ("a",)], "g string"), ["g"]
    )
    assert sorted(r["k"] for r in t.read().collect()) == [3]
    assert s1.row_count == 1  # count_matches stayed exact through NULLs
    # multi-column: (4, NULL) means id = 4 AND category IS NULL — the
    # spec's own example; it must not touch (4, 'x') or (5, NULL)
    t2m = SnapshotTable(spark, str(tmp_path / "eqd_null_multi"))
    t2m.append(
        spark.createDataFrame(
            [(4, None), (4, "x"), (5, None)], "id long, category string"
        ).coalesce(1)
    )
    t2m.delete_by_key(
        spark.createDataFrame([(4, None)], "id long, category string"),
        ["id", "category"],
    )
    assert sorted(
        (r["id"], r["category"]) for r in t2m.read().collect()
    ) == [(4, "x"), (5, None)]
    # the changelog derives the same null-keyed deaths from the delete file
    out = t.changelog(s0.snapshot_id, s1.snapshot_id).collect()
    assert sorted((r["k"], r["_change_type"]) for r in out) == [
        (1, "delete"),
        (2, "delete"),
    ]

    t2 = SnapshotTable(spark, str(tmp_path / "eqd_blind"))
    t2.append(spark.createDataFrame([(i,) for i in range(6)], "k long").coalesce(1))
    s = t2.delete_by_key(
        spark.createDataFrame([(1,), (4,)], "k long"), ["k"], count_matches=False
    )
    assert sorted(r["k"] for r in t2.read().collect()) == [0, 2, 3, 5]
    assert s.row_count == 6  # documented upper bound in blind mode
    s2 = t2.compact_small_files(target_files=1)
    assert s2.row_count == 4  # exact again after materialization


def test_equality_delete_unknown_key_column_raises(spark, tmp_path):
    t = SnapshotTable(spark, str(tmp_path / "eqd_err"))
    t.append(spark.createDataFrame([(1,)], "k long").coalesce(1))
    with pytest.raises(EngineError):
        t.delete_by_key(spark.createDataFrame([(1,)], "nope long"), ["nope"])


def test_equality_delete_survives_key_column_rename(spark, tmp_path):
    """Regression (round-10 judge repro): equality deletes key by FIELD ID
    (Iceberg's equality_ids), so renaming a key column while the delete is
    outstanding neither bricks reads nor changes which rows are dead — and
    re-adding a column under the OLD name mints a new field id, so the
    delete can never rebind to it and resurrect rows."""
    t = SnapshotTable(spark, str(tmp_path / "eqd_rename"))
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
        ).coalesce(1)
    )
    s = t.delete_by_key(spark.createDataFrame([(2,)], "k int"), ["k"])
    assert s.equality_deletes[0]["key_ids"] == [1]  # field id, not name
    t.rename_column("k", "k2")
    assert sorted(r["k2"] for r in t.read().collect()) == [1, 3]
    # the old judge repro's resurrection step: re-add the old NAME
    t.add_column("k", "int")
    rows = t.read().collect()
    assert len(rows) == 2 and sorted(r["k2"] for r in rows) == [1, 3]
    assert all(r["k"] is None for r in rows)
    # a NEW delete keyed by the renamed column resolves too
    t.delete_by_key(spark.createDataFrame([(3,)], "k2 int"), ["k2"])
    assert sorted(r["k2"] for r in t.read().collect()) == [1]
    # compaction (the escape hatch the old bug also bricked) still works
    s2 = t.compact_small_files(target_files=1)
    assert not s2.equality_deletes
    assert sorted(r["k2"] for r in t.read().collect()) == [1]


def test_drop_key_column_with_outstanding_equality_delete_refused(
    spark, tmp_path
):
    """Dropping a column referenced by an outstanding equality delete is
    refused (the delete could never be applied again); materializing the
    delete via rewrite_delete_files unblocks the drop. Renames of NON-key
    columns are untouched by the guard."""
    t = SnapshotTable(spark, str(tmp_path / "eqd_drop"))
    t.append(
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
        ).coalesce(1)
    )
    t.delete_by_key(spark.createDataFrame([(2,)], "k int"), ["k"])
    with pytest.raises(EngineError, match="rewrite_delete_files"):
        t.drop_column("k")
    t.rename_column("v", "val")  # non-key evolution stays open
    t.rewrite_delete_files()
    t.drop_column("k")
    assert sorted(r["val"] for r in t.read().collect()) == ["a", "c"]


def test_merge_null_key_mode_parity(spark, tmp_path):
    """A NULL source key replaces rows whose key IS NULL in BOTH write
    modes: merge-on-read inherits the Iceberg equality-delete null-
    matching rule, and copy-on-write's anti-join is null-safe to match —
    flipping write.merge.mode must never change visible results."""
    src = spark.createDataFrame(
        [(None, "new-null"), (2, "new-two")], "k int, v string"
    )
    results = {}
    for mode in ("copy-on-write", "merge-on-read"):
        t = SnapshotTable(spark, str(tmp_path / f"mp_{mode}"))
        t.append(
            spark.createDataFrame(
                [(None, "old-null"), (1, "one"), (2, "two")], "k int, v string"
            ).coalesce(1)
        )
        s = t.merge(src, ["k"], mode=mode)
        results[mode] = (
            sorted(
                ((r["k"] is not None, r["k"]), r["v"])
                for r in t.read().collect()
            ),
            s.row_count,
        )
    expect = sorted(
        [
            ((False, None), "new-null"),
            ((True, 1), "one"),
            ((True, 2), "new-two"),
        ]
    )
    assert results["copy-on-write"] == (expect, 3)
    assert results["merge-on-read"] == (expect, 3)


def test_mor_merge_casts_source_key_types(spark, tmp_path):
    """Regression (round-10 advisor): the MOR upsert's equality-delete key
    file must carry the TABLE's declared key types — a bigint-typed source
    key against an int table column would otherwise fail to kill the old
    image at read time, leaving both rows visible."""
    t = SnapshotTable(spark, str(tmp_path / "mor_cast"))
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").coalesce(1)
    )
    t.merge(
        spark.createDataFrame([(2, "B2"), (9, "new")], "k bigint, v string"),
        ["k"],
        mode="merge-on-read",
    )
    assert sorted((r["k"], r["v"]) for r in t.read().collect()) == [
        (1, "a"),
        (2, "B2"),
        (9, "new"),
    ]


def test_rewrite_delete_files_drops_empty_dead_set(spark, tmp_path):
    """Regression (round-10 advisor): consolidating an equality delete
    that matched NOTHING must clear the delete records without committing
    a permanent zero-row position-delete file (which would force the MOR
    anti-join read path forever)."""
    t = SnapshotTable(spark, str(tmp_path / "rdf_empty"))
    t.append(
        spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string").coalesce(1)
    )
    t.delete_by_key(spark.createDataFrame([(99,)], "k int"), ["k"])
    s = t.rewrite_delete_files()
    assert s.position_deletes is None and s.equality_deletes is None
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2]
    assert not [f for f in os.listdir(t.data_dir) if f.startswith("del-")]


def test_mor_dml_respects_outstanding_equality_deletes(spark, tmp_path):
    """Regression (code review, round 10): a merge-on-read UPDATE/DELETE
    must match only VISIBLE rows — including rows dead to an outstanding
    EQUALITY delete. Without the equality pass in the match scan, a MOR
    UPDATE re-appended an equality-deleted row's new image into a file
    past every delete's horizon, resurrecting it; a MOR DELETE counted
    the dead row into n_deleted, corrupting row_count."""
    t = SnapshotTable(spark, str(tmp_path / "eqd_mor"))
    t.append(
        spark.createDataFrame(
            [(k, float(k)) for k in range(10)], "k long, price double"
        ).coalesce(1)
    )
    t.delete_by_key(spark.createDataFrame([(5,)], "k long"), ["k"])
    # MOR update matching k >= 5: must NOT resurrect the dead k=5
    s = t.update_where(
        F.col("k") >= 5, {"price": F.col("price") + 100.0},
        mode="merge-on-read",
    )
    got = sorted((r["k"], r["price"]) for r in t.read().collect())
    want = [(k, float(k)) for k in range(5)] + [
        (k, k + 100.0) for k in (6, 7, 8, 9)
    ]
    assert got == want, got
    assert s.row_count == len(want)
    # MOR delete matching k >= 8 (visible: 8, 9): row_count stays exact
    s2 = t.delete_where(F.col("k") >= 8, mode="merge-on-read")
    got = sorted(r["k"] for r in t.read().collect())
    assert got == [0, 1, 2, 3, 4, 6, 7]
    assert s2.row_count == 7


def test_domain_curation_null_domain_independent_of_deny(spark, tmp_path):
    """Regression (code review, round 10): NULL-domain handling must not
    depend on whether a deny list is supplied. The documented contract:
    documents with a NULL domain are ALWAYS dropped (no provenance ⇒
    fail domain curation; the gate join's SQL NULL-equality enforces it
    identically in Spark and any SQL replayer)."""
    from trino_iceberg_spark.operators.curation import domain_curation

    docs = spark.createDataFrame(
        [(1, None, 100), (2, None, 100), (3, "a.com", 100), (4, "b.com", 100)],
        "doc_id long, source string, n_chars long",
    )
    no_deny = domain_curation(docs, min_docs=1)
    with_deny = domain_curation(docs, min_docs=1, deny=["b.com"])
    assert sorted(r["doc_id"] for r in no_deny.collect()) == [3, 4]
    assert sorted(r["doc_id"] for r in with_deny.collect()) == [3]


def test_mor_merge_upsert_equivalent_to_cow(spark, tmp_path):
    """merge(mode='merge-on-read') — equality-delete(source keys) +
    append(source) in ONE commit, the Flink-Iceberg upsert shape: old
    images die via the delete horizon, the commit's own new files
    survive it by construction, and results are identical to the
    copy-on-write merge. A second upsert of the same key must kill the
    FIRST upsert's image too (its file is inside the second delete's
    horizon). write.merge.mode routes plain merge() calls."""
    df = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "k long, val string")
    src = spark.createDataFrame(
        [(3, "NEW3"), (7, "NEW7"), (100, "NEW100")], "k long, val string"
    )
    newer = spark.createDataFrame([(3, "NEWER3")], "k long, val string")

    mor = SnapshotTable(spark, str(tmp_path / "mor"))
    s1 = mor.append(df.coalesce(2))
    s2 = mor.merge(src, ["k"], mode="merge-on-read")
    assert s2.operation == "merge"
    assert set(s1.files) <= set(s2.files)  # nothing rewritten
    assert len(s2.equality_deletes) == 1
    s3 = mor.merge(newer, ["k"], mode="merge-on-read")

    cow = SnapshotTable(spark, str(tmp_path / "cow"))
    cow.append(df.coalesce(2))
    cow.merge(src, ["k"])
    cow.merge(newer, ["k"])

    got = sorted((r["k"], r["val"]) for r in mor.read().collect())
    assert got == sorted((r["k"], r["val"]) for r in cow.read().collect())
    assert s3.row_count == len(got) == 11

    # property-routed; compaction materializes; empty source is a no-op
    prop = SnapshotTable(spark, str(tmp_path / "prop"))
    prop.set_table_property("write.merge.mode", "merge-on-read")
    prop.append(df.coalesce(1))
    sp = prop.merge(src, ["k"])
    assert sp.operation == "merge" and sp.equality_deletes
    s4 = mor.compact_small_files(target_files=1)
    assert not s4.equality_deletes
    assert sorted((r["k"], r["val"]) for r in mor.read().collect()) == got
    s5 = mor.merge(
        spark.createDataFrame([], "k long, val string"), ["k"],
        mode="merge-on-read",
    )
    assert s5.files == s4.files and not s5.equality_deletes


def test_delete_files_metadata_table(spark, tmp_path):
    """$delete_files (Iceberg's metadata relation): lists outstanding
    position and equality delete files with record counts and key
    columns, reachable in SQL text, and empties after compaction — the
    operator signal for 'this table needs a compaction pass'."""
    from trino_iceberg_spark.client import AthenaSparkClient

    t = SnapshotTable(spark, str(tmp_path / "dfmeta"))
    t.append(_orders(spark, 12).coalesce(1))
    t.delete_where(F.col("k") % 3 == 0, mode="merge-on-read")
    t.delete_by_key(spark.createDataFrame([(1,), (2,)], "k long"), ["k"])
    rows = {r["kind"]: r for r in t.delete_files_df().collect()}
    assert set(rows) == {"position", "equality"}
    assert rows["position"]["record_count"] == 4  # k in {0,3,6,9}
    assert rows["equality"]["record_count"] == 2
    assert rows["equality"]["equality_key_cols"] == "k"
    assert rows["position"]["size_bytes"] > 0

    client = AthenaSparkClient(spark)
    client.register_snapshot_table("dfmeta", str(tmp_path / "dfmeta"))
    got = client.query("SELECT kind, record_count FROM dfmeta$delete_files ORDER BY kind")
    assert [(r[0], r[1]) for r in got] == [("equality", 2), ("position", 4)]

    t.compact_small_files(target_files=1)
    assert t.delete_files_df().count() == 0


def test_rewrite_delete_files_consolidates_all_kinds(spark, tmp_path):
    """rewrite_position_delete_files analog: many small position-delete
    files plus equality deletes consolidate into ONE position-delete
    file without touching data files — rows identical, equality records
    gone, old snapshots still time-travel, and subsequent reads carry a
    single anti-join."""
    t = SnapshotTable(spark, str(tmp_path / "rdf"))
    s1 = t.append(_orders(spark, 30).coalesce(2))
    t.delete_where(F.col("k") % 7 == 0, mode="merge-on-read")
    t.delete_where(F.col("k") % 11 == 3, mode="merge-on-read")
    t.delete_by_key(spark.createDataFrame([(1,), (2,)], "k long"), ["k"])
    before = sorted(r["k"] for r in t.read().collect())
    pre = t.current_snapshot()
    assert len(pre.position_deletes) == 2 and len(pre.equality_deletes) == 1

    s = t.rewrite_delete_files()
    assert s is not None
    assert s.files == pre.files  # zero data movement
    assert len(s.position_deletes) == 1 and not s.equality_deletes
    assert sorted(r["k"] for r in t.read().collect()) == before
    assert s.row_count == pre.row_count == len(before)
    # old snapshot still reads its own delete set
    assert sorted(r["k"] for r in t.read_version(s1.snapshot_id).collect()) == list(
        range(30)
    )
    # nothing outstanding → no-op
    assert t.rewrite_delete_files() is None
    # expire reclaims the superseded delete files
    t.expire_snapshots(retain_last=1)
    dels = [f for f in os.listdir(t.data_dir) if f.startswith(("del-", "eqdel-"))]
    assert len(dels) == 1  # only the consolidated file remains


def test_add_data_files_registers_without_rewrite(spark, tmp_path):
    """Iceberg's add_files migration: existing parquet registers as table
    data via hardlink + footer read — row_count exact, zone maps real
    (scan prunes registered files), appended segment survives nothing
    being rewritten, and the files keep their original inodes (proof no
    data bytes moved)."""
    ext = str(tmp_path / "ext")
    spark.range(0, 100).selectExpr("id AS k", "CAST(id % 5 AS INT) AS g").coalesce(
        2
    ).write.parquet(ext)
    t = SnapshotTable(spark, str(tmp_path / "addf"))
    t.append(
        spark.createDataFrame([(1000, 9)], "k long, g int").coalesce(1)
    )
    s = t.add_data_files([ext])
    assert s.row_count == 101
    assert t.read().count() == 101
    # hardlinked, not copied: registered files share inodes with sources
    import os as _os

    srcs = {
        _os.stat(_os.path.join(ext, fn)).st_ino
        for fn in _os.listdir(ext)
        if fn.endswith(".parquet")
    }
    added = {
        _os.stat(_os.path.join(t.table_dir, f)).st_ino
        for f in s.files
        if "/add-" in f
    }
    assert added and added <= srcs
    # zone maps from the real footers: a contained predicate prunes
    kept = t.prune_files(t.current_snapshot(), [("k", ">=", 1000)])
    assert len(kept) < len(s.files)
    got = sorted(r["k"] for r in t.scan([("k", "<", 3)]).collect())
    assert got == [0, 1, 2]


def test_add_data_files_schema_rules(spark, tmp_path):
    """Names must match the table schema (mismatch raises); physical
    types may differ where the field-id cast resolves them; an empty
    table bootstraps its schema from the files."""
    from trino_iceberg_spark.errors import SchemaMismatchError

    ext_int = str(tmp_path / "ext_int")
    spark.range(0, 10).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS STRING) AS v"
    ).coalesce(1).write.parquet(ext_int)
    # bootstrap on an empty table
    t = SnapshotTable(spark, str(tmp_path / "addboot"))
    s = t.add_data_files([ext_int])
    assert s.row_count == 10 and t.read().count() == 10
    # bigint-declared table accepts int32 physical files (cast by id)
    t2 = SnapshotTable(spark, str(tmp_path / "addcast"))
    t2.append(spark.createDataFrame([(100, "x")], "k long, v string").coalesce(1))
    t2.add_data_files([ext_int])
    rows = t2.read().collect()
    assert len(rows) == 11 and all(isinstance(r["k"], int) for r in rows)
    assert dict(t2.read().dtypes)["k"] == "bigint"
    # name mismatch refused
    ext_bad = str(tmp_path / "ext_bad")
    spark.range(0, 3).selectExpr("id AS nope", "CAST(id AS STRING) AS v").coalesce(
        1
    ).write.parquet(ext_bad)
    with pytest.raises(SchemaMismatchError):
        t2.add_data_files([ext_bad])


def test_add_data_files_respects_equality_delete_horizon(spark, tmp_path):
    """Registered files land in a NEW manifest segment, so rows they
    carry survive an equality delete committed BEFORE the registration —
    the same sequence-number rule appended rows get."""
    t = SnapshotTable(spark, str(tmp_path / "addhor"))
    t.append(
        spark.createDataFrame([(1,), (2,), (3,)], "k bigint").coalesce(1)
    )
    t.delete_by_key(spark.createDataFrame([(2,)], "k bigint"), ["k"])
    ext = str(tmp_path / "ext_hor")
    spark.createDataFrame([(2,), (9,)], "k bigint").coalesce(1).write.parquet(ext)
    t.add_data_files([ext])
    assert sorted(r["k"] for r in t.read().collect()) == [1, 2, 3, 9]


def test_append_after_promote_writes_declared_types(spark, tmp_path):
    """Regression (found by tools/fuzz_evolution.py seed 88001): after
    promote_column, an IntegerType source frame must be cast to the
    DECLARED type at write — otherwise one schema id groups INT32 pages
    (plain append) with INT64 pages (the MOR-merge cast-through path)
    and the group read fails on whichever file schema inference did not
    sample. Engine-written files under one schema id are physically
    homogeneous."""
    t = SnapshotTable(spark, str(tmp_path / "promix"))
    t.append(spark.createDataFrame([(1, "a")], "k int, v string").coalesce(1))
    t.promote_column("k", "bigint")
    t.append(spark.createDataFrame([(2, "b")], "k int, v string").coalesce(1))
    t.merge(
        spark.createDataFrame([(3, "c")], "k int, v string"),
        ["k"],
        mode="merge-on-read",
    )
    for _ in range(3):  # inference sampling made the old failure flaky
        rows = sorted((r["k"], r["v"]) for r in t.read().collect())
        assert rows == [(1, "a"), (2, "b"), (3, "c")]
    import os as _os

    import pyarrow.parquet as _pq

    # the pre-promote file keeps int32 under the OLD schema id (that is
    # the id-mapped up-cast path working as designed); every file pinned
    # to the CURRENT schema id must be physically int64
    snap = t.current_snapshot()
    phys = {
        str(
            _pq.ParquetFile(_os.path.join(t.table_dir, f))
            .schema_arrow.field("k")
            .type
        )
        for f in snap.files
        if (snap.file_schemas or {}).get(f) == snap.schema_id
    }
    assert phys == {"int64"}


def test_add_data_files_hive_partitioned(spark, tmp_path):
    """Hive-layout lake registration (round-12): col=value/ partition
    values come from the PATHS, land as identity-partition values in
    the manifest, prune under scan, and are re-attached at read —
    zero data bytes rewritten (hardlinks preserved)."""
    lake = str(tmp_path / "lake")
    spark.range(0, 120).selectExpr(
        "id AS k", "CAST(id % 4 AS INT) AS g"
    ).write.partitionBy("g").parquet(lake)
    t = SnapshotTable(spark, str(tmp_path / "hive"))
    s = t.add_data_files([lake])
    assert s.row_count == 120
    assert int(s.properties["added-records"]) == 120
    # path column reconstructed with an int-inferred type
    assert dict(t.read().dtypes)["g"] == "int"
    assert t.read().filter(F.col("g") == 2).count() == 30
    assert sorted(
        r["k"] for r in t.scan([("g", "=", 1), ("k", "<", 10)]).collect()
    ) == [1, 5, 9]
    # partition pruning: a g-predicate must skip files of other g dirs
    kept = t.prune_files(t.current_snapshot(), [("g", "=", 1)])
    assert 0 < len(kept) < len(s.files)
    # hardlinked (no rewrite): registered files share inodes with sources
    src_inodes = set()
    for root, _d, fns in os.walk(lake):
        src_inodes |= {
            os.stat(os.path.join(root, fn)).st_ino
            for fn in fns
            if fn.endswith(".parquet")
        }
    added = {os.stat(os.path.join(t.table_dir, f)).st_ino for f in s.files}
    assert added <= src_inodes


def test_add_data_files_hive_into_declared_table(spark, tmp_path):
    """Registering a hive lake into an EXISTING table casts path values
    to the declared type (bigint here) and the partition column counts
    toward the schema-name match."""
    from trino_iceberg_spark.errors import SchemaMismatchError

    lake = str(tmp_path / "lake2")
    spark.range(0, 40).selectExpr(
        "id AS k", "CAST(id % 2 AS INT) AS g"
    ).write.partitionBy("g").parquet(lake)
    t = SnapshotTable(spark, str(tmp_path / "decl"))
    t.append(spark.createDataFrame([(999, 7)], "k long, g long").coalesce(1))
    t.add_data_files([lake])
    assert t.read().count() == 41
    assert dict(t.read().dtypes)["g"] == "bigint"
    assert t.read().filter(F.col("g") == 1).count() == 20
    # a lake whose partition column is unknown to the table is refused
    bad = str(tmp_path / "lake3")
    spark.range(0, 4).selectExpr(
        "id AS k", "CAST(id % 2 AS INT) AS nope"
    ).write.partitionBy("nope").parquet(bad)
    with pytest.raises(SchemaMismatchError):
        t.add_data_files([bad])


def test_add_data_files_hive_mor_and_travel(spark, tmp_path):
    """Path-reconstructed columns flow through the whole MOR stack:
    equality deletes keyed ON the path column, position deletes, time
    travel, and compaction all see the same values."""
    lake = str(tmp_path / "lakemor")
    spark.range(0, 100).selectExpr(
        "id AS k", "CAST(id % 5 AS INT) AS g"
    ).write.partitionBy("g").parquet(lake)
    t = SnapshotTable(spark, str(tmp_path / "mor"))
    s0 = t.add_data_files([lake])
    t.delete_where(F.col("g") == 3, mode="merge-on-read")
    assert t.read().count() == 80
    t.delete_by_key(spark.createDataFrame([(1,)], "g int"), ["g"])
    assert t.read().count() == 60
    assert t.read_version(s0.snapshot_id).count() == 100
    t.compact_small_files(target_files=2)
    got = t.read().groupBy("g").count().collect()
    assert sorted((r["g"], r["count"]) for r in got) == [
        (0, 20), (2, 20), (4, 20)
    ]


def test_add_data_files_conflict_fingerprint(spark, tmp_path):
    """Round-11 advisor (medium): a racing commit that changes the
    schema closure between staging and the CAS point must CONFLICT —
    schema_id alone cannot see a concurrently-minted extra schema entry
    or a first append landing under an empty-table bootstrap."""
    from trino_iceberg_spark.errors import CommitConflictError

    ext = str(tmp_path / "ext")
    spark.range(0, 10).selectExpr("CAST(id AS INT) AS k").coalesce(
        1
    ).write.parquet(ext)

    # empty-table bootstrap racing a first append
    t = SnapshotTable(spark, str(tmp_path / "race1"))
    orig = t._head_for_commit

    def sneak_append(branch):
        prev = orig(branch)
        if prev is None:
            t2 = SnapshotTable(spark, t.table_dir)
            t2._head_for_commit = orig  # plain append through a twin handle
            t2.append(
                spark.createDataFrame([(50,)], "k bigint").coalesce(1)
            )
            t._head_for_commit = orig
            return orig(branch)
        return prev

    t._head_for_commit = sneak_append
    with pytest.raises(CommitConflictError):
        t.add_data_files([ext])
    # the survivor is the append; a clean retry then composes correctly
    assert t.read().count() == 1
    t.add_data_files([ext])
    assert t.read().count() == 11

    # schema-closure divergence: a concurrent promote between staging
    # and commit (extra schema content changes, schemas map differs)
    t3 = SnapshotTable(spark, str(tmp_path / "race2"))
    t3.append(spark.createDataFrame([(1,)], "k int").coalesce(1))
    orig3 = t3._head_for_commit
    fired = {"done": False}

    def sneak_promote(branch):
        prev = orig3(branch)
        if not fired["done"]:
            fired["done"] = True
            t4 = SnapshotTable(spark, t3.table_dir)
            t4.promote_column("k", "bigint")
            return orig3(branch)
        return prev

    t3._head_for_commit = sneak_promote
    with pytest.raises(CommitConflictError):
        t3.add_data_files([ext])


def test_append_rejects_incompatible_source_types(spark, tmp_path):
    """Round-11 advisor: the writer validates source types against the
    declared schema — arbitrary strings into an int column (or any
    narrowing) raise instead of silently becoming NULL/truncated; the
    sanctioned widenings (int→bigint, float→double, decimal
    precision-up) still cast implicitly."""
    from trino_iceberg_spark.errors import SchemaMismatchError

    t = SnapshotTable(spark, str(tmp_path / "strict"))
    t.append(
        spark.createDataFrame(
            [(1, 1.5, "a")], "k bigint, x double, v string"
        ).coalesce(1)
    )
    # widenings accepted
    t.append(
        spark.createDataFrame(
            [(2, 2.5, "b")], "k int, x float, v string"
        ).coalesce(1)
    )
    assert t.read().count() == 2
    for bad_schema, row in [
        ("k string, x double, v string", ("oops", 1.0, "c")),
        ("k double, x double, v string", (3.5, 1.0, "c")),
        ("k bigint, x double, v bigint", (3, 1.0, 9)),
    ]:
        with pytest.raises(SchemaMismatchError):
            t.append(spark.createDataFrame([row], bad_schema).coalesce(1))
    # decimal: precision-up ok, scale-down (integer-digit loss) refused
    td = SnapshotTable(spark, str(tmp_path / "strictdec"))
    td.append(
        spark.createDataFrame([("12.34",)], "d string")
        .select(F.col("d").cast("decimal(12,2)").alias("d"))
        .coalesce(1)
    )
    td.append(
        spark.createDataFrame([("1.00",)], "d string")
        .select(F.col("d").cast("decimal(10,2)").alias("d"))
        .coalesce(1)
    )
    with pytest.raises(SchemaMismatchError):
        td.append(
            spark.createDataFrame([("1.0",)], "d string")
            .select(F.col("d").cast("decimal(12,4)").alias("d"))
            .coalesce(1)
        )


def test_health_df_recommendation_lifecycle(spark, tmp_path):
    """$health pins (round-11 directive #3): baseline ok → blind
    equality delete drives dirty_fraction to 1.0 and flips the
    recommendation to rewrite_delete_files → the rewrite converts the
    delete to positions, the dirty set DROPS to the files that actually
    contained matches, and the recommendation clears."""
    t = SnapshotTable(spark, str(tmp_path / "health"))
    t.append(
        spark.range(0, 4000).selectExpr(
            "id AS k", "CAST(id % 97 AS INT) AS g"
        ),
        cluster_by=["k"],
        cluster_partitions=8,
    )
    h0 = t.health_df().first()
    assert (h0["dirty_fraction"], h0["recommendation"]) == (0.0, "ok")
    assert h0["data_files"] == 8
    # blind equality delete on the UNclustered column: every file dirty
    t.delete_by_key(spark.createDataFrame([(13,)], "g int"), ["g"])
    h1 = t.health_df().first()
    assert h1["equality_delete_files"] == 1
    assert h1["dirty_fraction"] == 1.0
    assert h1["recommendation"] == "rewrite_delete_files"
    before = t.read().count()
    t.rewrite_delete_files()
    h2 = t.health_df().first()
    assert h2["equality_delete_files"] == 0
    assert h2["position_delete_files"] == 1
    assert h2["recommendation"] == "ok"
    assert h2["dirty_fraction"] <= h1["dirty_fraction"]
    assert t.read().count() == before
    # many position-delete files → compaction recommendation
    tp = SnapshotTable(spark, str(tmp_path / "healthpos"))
    tp.append(spark.range(0, 500).selectExpr("id AS k"))
    for i in range(9):
        tp.delete_where(F.col("k") == i, mode="merge-on-read")
    hp = tp.health_df().first()
    assert hp["position_delete_files"] == 9
    assert hp["recommendation"] == "compact_small_files"


def test_partitions_df_counts_and_rename(spark, tmp_path):
    """$partitions pins: per-partition file/record counts from the
    manifest's per-file record_count (no footer reads on new manifests),
    labels follow a source-column RENAME by field id, unpartitioned
    files aggregate under NULL, and SQL text serves the relation."""
    t = SnapshotTable(spark, str(tmp_path / "parts"))
    t.append(spark.range(0, 10).selectExpr("id AS k", "CAST(id % 2 AS INT) AS g"))
    t.set_partition_spec([("g", "identity")])
    t.append(spark.range(10, 40).selectExpr("id AS k", "CAST(id % 2 AS INT) AS g"))
    rows = {r["partition"]: (r["file_count"], r["record_count"])
            for r in t.partitions_df().collect()}
    assert rows[None][1] == 10  # pre-spec files under the NULL partition
    assert rows["g=0"][1] == 15 and rows["g=1"][1] == 15
    assert all(fc >= 1 for fc, _ in rows.values())
    # rename: labels re-resolve the source by field id
    t.rename_column("g", "grp")
    labels = {r["partition"] for r in t.partitions_df().collect()}
    assert labels == {None, "grp=0", "grp=1"}
    # SQL surface
    from trino_iceberg_spark.client import AthenaSparkClient
    from trino_iceberg_spark.timetravel_sql import SnapshotResolver

    res = SnapshotResolver()
    res.register("demo.parts", t.table_dir)
    client = AthenaSparkClient(spark, snapshot_resolver=res)
    got = client.query(
        "SELECT partition, record_count FROM demo.parts$partitions "
        "WHERE partition IS NOT NULL ORDER BY partition"
    )
    assert [(r["partition"], r["record_count"]) for r in got] == [
        ("grp=0", 15), ("grp=1", 15)
    ]


def test_analyze_and_show_stats(spark, tmp_path):
    """Trino ANALYZE / SHOW STATS pins: one-scan stats persisted by
    field id — exact-ish NDV (HLL) and null fractions, low/high for
    orderable types, labels follow renames, dropped columns vanish,
    the summary row_count always tracks the CURRENT snapshot, and a
    partial ANALYZE refreshes only its columns."""
    from trino_iceberg_spark.client import AthenaSparkClient
    from trino_iceberg_spark.timetravel_sql import SnapshotResolver

    t = SnapshotTable(spark, str(tmp_path / "stats"))
    t.append(
        spark.range(0, 500).selectExpr(
            "id AS k",
            "CAST(id % 5 AS INT) AS g",
            "CASE WHEN id % 4 = 0 THEN NULL ELSE CAST(id AS STRING) END AS v",
        )
    )
    res = SnapshotResolver()
    res.register("demo.stats", t.table_dir)
    c = AthenaSparkClient(spark, snapshot_resolver=res)
    assert c.execute("ANALYZE demo.stats") == 3
    rows = {r["column_name"]: r for r in c.query("SHOW STATS FOR demo.stats")}
    assert rows["g"]["distinct_values_count"] == 5.0  # HLL exact at 5
    assert rows["g"]["low_value"] == "0" and rows["g"]["high_value"] == "4"
    assert rows["v"]["nulls_fraction"] == 0.25
    assert abs(rows["k"]["distinct_values_count"] - 500) / 500 < 0.1
    assert rows[None]["row_count"] == 500.0
    # summary row_count tracks the current snapshot even with stale stats
    t.append(spark.range(500, 600).selectExpr(
        "id AS k", "CAST(id % 5 AS INT) AS g", "CAST(id AS STRING) AS v"
    ))
    rows = {r["column_name"]: r for r in c.query("SHOW STATS FOR demo.stats")}
    assert rows[None]["row_count"] == 600.0
    assert rows["g"]["distinct_values_count"] == 5.0  # stale but served
    # rename follows; drop vanishes; partial analyze refreshes one column
    t.rename_column("g", "grp")
    t.drop_column("v")
    rows = {r["column_name"]: r for r in c.query("SHOW STATS FOR demo.stats")}
    assert "grp" in rows and "g" not in rows and "v" not in rows
    assert c.execute("ANALYZE demo.stats WITH (columns = [k])") == 1
    with pytest.raises(EngineError):
        t.analyze(["nope"])


def test_evolve_never_collides_with_minted_ids(spark, tmp_path):
    """Regression (found by tools/fuzz_evolution.py seed block 91000,
    round 12): add_data_files mints extra schema ids (per-file physical
    schemas) at max+1, while _evolve minted schema_id+1 — a rename after
    a type-mismatched registration OVERWROTE the minted entry, and the
    registered file then resolved under the renamed entry's names
    (unresolved-column read failure; silent wrong types when names
    coincide). Evolution ids must never collide with minted ones."""
    ext = str(tmp_path / "ext")
    spark.range(0, 5).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id AS STRING) AS v"
    ).coalesce(1).write.parquet(ext)
    t = SnapshotTable(spark, str(tmp_path / "collide"))
    t.append(spark.createDataFrame([(100, "x")], "k long, v string").coalesce(1))
    t.add_data_files([ext])  # int32 k vs declared bigint → extra schema id
    t.rename_column("v", "label")
    snap = t.current_snapshot()
    # the minted physical-schema entry must still exist alongside the new one
    assert len(snap.schemas) == 3
    rows = sorted((r["k"], r["label"]) for r in t.read().collect())
    assert rows == [(0, "0"), (1, "1"), (2, "2"), (3, "3"), (4, "4"), (100, "x")]
    # and a promote after registration keeps resolving the int32 file
    t.promote_column("label", "string")  # same-type promote: still a new id
    assert t.read().count() == 6


# --- round-13: advisor pins -------------------------------------------------


def test_promote_column_refuses_narrowing(spark, tmp_path):
    """API-level guard (round-12 advisor, high): a non-widening promote
    would cast old files DOWN at read time — double→int silently reads
    1.9 as 1, out-of-range bigint→int throws CAST_OVERFLOW mid-job."""
    t = SnapshotTable(spark, str(tmp_path / "promo_guard"))
    t.append(spark.createDataFrame([(2**40, 1.9)], "k bigint, v double"))
    for col, bad in (("v", "int"), ("k", "int"), ("v", "float"), ("k", "string")):
        with pytest.raises(EngineError, match="widening"):
            t.promote_column(col, bad)
    # values untouched, sanctioned widening unaffected
    assert t.read().first()["v"] == 1.9
    t.promote_column("v", "double")  # same-type: allowed
    assert dict(t.read().dtypes)["v"] == "double"


def test_add_data_files_hive_bigint_partition_values(spark, tmp_path):
    """Path-derived partition values >= 2^31 must infer bigint, not int —
    an int32 read-side cast of the path value overflows on every read
    (round-12 advisor, low)."""
    lake = str(tmp_path / "biglake")
    spark.createDataFrame(
        [(i, 2**31 + (i % 2)) for i in range(20)], "k long, shard long"
    ).write.partitionBy("shard").parquet(lake)
    t = SnapshotTable(spark, str(tmp_path / "bigreg"))
    s = t.add_data_files([lake])
    assert s.row_count == 20
    assert dict(t.read().dtypes)["shard"] == "bigint"
    assert t.read().filter(F.col("shard") == 2**31).count() == 10
    # small values still infer int (the common hive case)
    lake2 = str(tmp_path / "smalllake")
    spark.range(10).selectExpr("id AS k", "CAST(id % 2 AS INT) AS g").write.partitionBy(
        "g"
    ).parquet(lake2)
    t2 = SnapshotTable(spark, str(tmp_path / "smallreg"))
    t2.add_data_files([lake2])
    assert dict(t2.read().dtypes)["g"] == "int"


def test_partial_analyze_keeps_stale_entries_marked(spark, tmp_path):
    """Round-13 staleness contract: full ANALYZE → commit → partial
    ANALYZE must leave the other columns' stats PRESENT and marked
    stale (round-12 the whole stats file was replaced and they were
    silently dropped)."""
    t = SnapshotTable(spark, str(tmp_path / "stale_t"))
    t.append(
        spark.range(100).selectExpr(
            "id AS k", "CAST(id % 4 AS INT) AS g", "CAST(id AS STRING) AS v"
        )
    )
    assert t.analyze() == 3
    rows = {r["column_name"]: r for r in t.stats_df().collect()}
    assert rows["k"]["stale"] is False and rows["g"]["stale"] is False
    # new commit: everything analyzed before it is now stale
    t.append(
        spark.range(100, 150).selectExpr(
            "id AS k", "CAST(id % 4 AS INT) AS g", "CAST(id AS STRING) AS v"
        )
    )
    rows = {r["column_name"]: r for r in t.stats_df().collect()}
    assert rows["k"]["stale"] is True and rows["g"]["stale"] is True
    # partial re-ANALYZE freshens only k; g/v stay present, still stale
    assert t.analyze(["k"]) == 1
    rows = {r["column_name"]: r for r in t.stats_df().collect()}
    assert rows["k"]["stale"] is False
    assert rows["g"]["stale"] is True and rows["v"]["stale"] is True
    assert rows["g"]["distinct_values_count"] == 4.0  # served, not dropped
    # the fresh k reflects the post-commit data
    assert rows["k"]["high_value"] == "149"
    # summary row: exact current count, stale is NULL by contract
    assert rows[None]["row_count"] == 150.0 and rows[None]["stale"] is None


def test_health_thresholds_are_table_properties(spark, tmp_path):
    """Round-13: $health thresholds read table properties the same way
    write.delete.mode does — an operator can tune the boundary per
    table and the recommendation flips accordingly."""
    t = SnapshotTable(spark, str(tmp_path / "health_props"))
    t.append(spark.range(200).selectExpr("id AS k", "id * 2 AS v"),
             cluster_by=["k"], cluster_partitions=8)
    # one equality delete on an unclustered value column → every file
    # dirty (frac 1.0) → default threshold 0.25 recommends rewrite
    t.delete_by_key(
        spark.createDataFrame([(4,)], "v bigint"), ["v"]
    )
    assert t.health_df().first()["recommendation"] == "rewrite_delete_files"
    # raising the dirty threshold past 1.0 silences it
    t.set_table_property("health.dirty-fraction-threshold", "1.5")
    assert t.health_df().first()["recommendation"] == "ok"
    t.set_table_property("health.dirty-fraction-threshold", "0.25")
    assert t.health_df().first()["recommendation"] == "rewrite_delete_files"
    # position-delete-file pile-up boundary is tunable the same way
    t.rewrite_delete_files()  # eq → one position-delete file
    assert t.health_df().first()["recommendation"] == "ok"
    t.set_table_property("health.max-position-delete-files", "0")
    assert t.health_df().first()["recommendation"] == "compact_small_files"
    # a malformed operator-set value surfaces as a typed EngineError
    # NAMING the property — never a bare ValueError out of a read-only
    # metadata query (round-13 advisor)
    t.set_table_property("health.dirty-fraction-threshold", "lots")
    with pytest.raises(EngineError, match="health.dirty-fraction-threshold"):
        t.health_df()
    t.set_table_property("health.dirty-fraction-threshold", "0.25")
    t.set_table_property("health.analyze-growth-threshold", "much")
    t.set_table_property("health.max-position-delete-files", "10")
    t.compact_small_files()  # clear delete drift so the growth branch runs
    t.analyze()
    with pytest.raises(EngineError, match="health.analyze-growth-threshold"):
        t.health_df()


def test_health_recommends_analyze_on_growth(spark, tmp_path):
    """Round-13 stats consumer: once the table grows past the
    health.analyze-growth-threshold (default 2×) since the last
    ANALYZE, $health recommends re-ANALYZE — stale NDV/min-max degrade
    every stats-driven decision silently otherwise. Zero scan cost
    (manifest row counts both sides). Never fires when no ANALYZE has
    ever run (nothing to be stale) and never outranks delete-drift."""
    t = SnapshotTable(spark, str(tmp_path / "health_grow"))
    t.append(spark.range(100).selectExpr("id AS k"))
    assert t.health_df().first()["recommendation"] == "ok"  # no stats: ok
    t.analyze()
    assert t.health_df().first()["recommendation"] == "ok"  # fresh
    t.append(spark.range(100, 150).selectExpr("id AS k"))  # 1.5×: under 2×
    assert t.health_df().first()["recommendation"] == "ok"
    t.append(spark.range(150, 260).selectExpr("id AS k"))  # 2.6×
    assert t.health_df().first()["recommendation"] == "analyze"
    # tunable boundary
    t.set_table_property("health.analyze-growth-threshold", "3.0")
    assert t.health_df().first()["recommendation"] == "ok"
    t.set_table_property("health.analyze-growth-threshold", "2.0")
    # re-ANALYZE clears it
    t.analyze()
    assert t.health_df().first()["recommendation"] == "ok"


# --- round-13: incremental ANALYZE (sketch-merged statistics) ---------------


def _stats_map(t):
    return {
        r["column_name"]: r
        for r in t.stats_df().collect()
        if r["column_name"] is not None
    }


def test_incremental_analyze_matches_full(spark, tmp_path):
    """A whole-table ANALYZE after an append-only delta merges stored HLL
    sketches / null counts / bounds over ONLY the new files — and must
    land the exact same statistics a forced full scan computes."""

    def build(tag):
        t = SnapshotTable(spark, str(tmp_path / tag))
        t.append(
            spark.range(300).selectExpr(
                "id AS k",
                "CAST(id % 7 AS STRING) AS g",
                "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id AS DOUBLE) END AS v",
                "CAST(id AS DECIMAL(10,2)) / 4 AS d",
            )
        )
        return t

    inc, full = build("inc"), build("full")
    inc.analyze()
    delta = spark.range(300, 500).selectExpr(
        "id AS k",
        "CAST(id % 7 AS STRING) AS g",
        "CASE WHEN id % 5 = 0 THEN NULL ELSE CAST(id AS DOUBLE) END AS v",
        "CAST(id AS DECIMAL(10,2)) / 4 AS d",
    )
    inc.append(delta)
    full.append(delta)
    # forced incremental must be eligible AND produce full-scan-identical
    # stats (same sketch family both ways: HLL union is lossless here)
    assert inc.analyze(mode="incremental") == 4
    assert full.analyze(mode="full") == 4
    si, sf = _stats_map(inc), _stats_map(full)
    for col in ("k", "g", "v", "d"):
        for field in ("nulls_fraction", "low_value", "high_value", "stale"):
            assert si[col][field] == sf[col][field], (col, field)
        # HLL estimates: a union of two sketches and a single-pass sketch
        # agree to sketch precision, not bit-for-bit (both are ~1.6% at
        # the default lgK) — low cardinalities are exact either way
        a, b = si[col]["distinct_values_count"], sf[col]["distinct_values_count"]
        assert abs(a - b) <= 0.02 * max(a, b, 1), (col, a, b)
    assert si["k"]["low_value"] == "0" and si["k"]["high_value"] == "499"
    assert si["v"]["nulls_fraction"] == 0.2
    # decimal bound merged in the DECIMAL domain (scale-preserving text)
    assert float(si["d"]["high_value"]) == 499 / 4
    assert si["g"]["distinct_values_count"] == 7.0


def test_promotion_invalidates_text_changing_sketches(spark, tmp_path):
    """Round-13 advisor: the ANALYZE sketch hashes canonical strings, so
    a decimal scale-up (5.00 → 5.000) or float→double promotion must
    DROP the stored sketch (next incremental run re-baselines) while
    int→bigint — text-invariant — keeps it, and a post-promotion ANALYZE
    never double-counts overlapping values."""
    t = SnapshotTable(spark, str(tmp_path / "promo_sk"))
    t.append(
        spark.range(100).selectExpr(
            "CAST(id AS INT) AS k",
            "CAST(id AS DECIMAL(10,2)) AS d",
        )
    )
    assert t.analyze() == 2
    stats = t._load_statistics()
    ids = {c["name"]: str(c["id"]) for c in t.schema_columns}
    assert "sketch" in stats["columns"][ids["k"]]
    assert "sketch" in stats["columns"][ids["d"]]

    # text-invariant promotion keeps the sketch
    t.promote_column("k", "bigint")
    stats = t._load_statistics()
    assert "sketch" in stats["columns"][ids["k"]]

    # scale-changing decimal promotion drops it
    t.promote_column("d", "decimal(11,3)")
    stats = t._load_statistics()
    assert "sketch" not in stats["columns"][ids["d"]]
    assert "sketch" in stats["columns"][ids["k"]]  # untouched column keeps

    # overlapping values appended after the promotion: a fresh ANALYZE
    # re-baselines (k merges incrementally; the run stays whole-table
    # because d's sketch is gone) and the NDV is NOT inflated
    t.append(
        spark.range(100).selectExpr(
            "CAST(id AS BIGINT) AS k",
            "CAST(id AS DECIMAL(11,3)) AS d",
        )
    )
    assert t.analyze() == 2
    sm = {
        r["column_name"]: r
        for r in t.stats_df().collect()
        if r["column_name"] is not None
    }
    assert sm["d"]["distinct_values_count"] <= 110  # 100 distinct, not ~200
    assert sm["k"]["distinct_values_count"] <= 110


def test_incremental_analyze_zero_delta_freshens(spark, tmp_path):
    """Same files since the last ANALYZE (only metadata-only commits):
    incremental mode freshens provenance with zero scan — stale flags
    clear and the stats follow the rename by field id."""
    t = SnapshotTable(spark, str(tmp_path / "fresh"))
    t.append(spark.range(50).selectExpr("id AS k", "CAST(id AS STRING) AS s"))
    t.analyze()
    t.rename_column("s", "label")  # metadata-only commit: data unchanged
    assert _stats_map(t)["label"]["stale"] is True
    assert t.analyze(mode="incremental") == 2
    m = _stats_map(t)
    assert m["label"]["stale"] is False and m["k"]["stale"] is False
    assert m["k"]["high_value"] == "49"


def test_incremental_analyze_ineligibility(spark, tmp_path):
    """Outstanding delete files, removed files (compaction), or a
    sketch-less column (after a partial ANALYZE) refuse mode=incremental;
    auto falls back to a full scan and re-baselines."""
    t = SnapshotTable(spark, str(tmp_path / "inel"))
    t.append(spark.range(100).selectExpr("id AS k", "id * 2 AS v"))
    t.analyze()
    # outstanding MOR delete → ineligible (sketches can't subtract)
    t.delete_where(F.col("k") == 5, mode="merge-on-read")
    with pytest.raises(EngineError, match="ineligible"):
        t.analyze(mode="incremental")
    assert t.analyze() == 2  # auto falls back to full over VISIBLE rows
    assert _stats_map(t)["k"]["distinct_values_count"] == 99.0
    # dirty prior (clean=False) keeps later runs full even after rewrite
    t.rewrite_delete_files()
    with pytest.raises(EngineError, match="ineligible"):
        t.analyze(mode="incremental")
    # compaction rewrites files → removed-file delta → ineligible
    t2 = SnapshotTable(spark, str(tmp_path / "inel2"))
    for lo in (0, 50):
        t2.append(spark.range(lo, lo + 50).selectExpr("id AS k"))
    t2.analyze()
    t2.compact_small_files(target_files=1)
    with pytest.raises(EngineError, match="ineligible"):
        t2.analyze(mode="incremental")
    assert t2.analyze() == 1  # full fallback re-baselines
    assert t2.analyze(mode="incremental") == 1  # eligible again (no delta)
    # partial ANALYZE stores no sketch → whole-table incremental refuses
    t3 = SnapshotTable(spark, str(tmp_path / "inel3"))
    t3.append(spark.range(30).selectExpr("id AS k", "id AS v"))
    t3.analyze()
    t3.analyze(["k"])  # partial: k loses its sketch by design
    with pytest.raises(EngineError, match="ineligible"):
        t3.analyze(mode="incremental")


# --- row-level writes: one RowDelta commit ---------------------------------


def _order_rows(spark, ks, price=None):
    return spark.createDataFrame(
        [(k, k % 7, float(k) * 10 if price is None else price) for k in ks],
        "k long, bucket long, price double",
    )


def _jobs_of(spark, fn):
    """Spark jobs ``fn()`` runs, via a fresh statusTracker job group."""
    import uuid

    sc = spark.sparkContext
    gid = f"row_delta_{uuid.uuid4().hex}"
    sc.setJobGroup(gid, gid)
    try:
        fn()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    return len(sc.statusTracker().getJobIdsForGroup(gid))


def _unreferenced_data_files(t):
    """Files under data/ that no manifest references."""
    refd = set()
    for s in t.snapshots():
        refd |= set(s.files) | set(s.position_deletes or ())
        refd |= {r["file"] for r in s.equality_deletes or ()}
    return sorted(
        f"data/{f}" for f in os.listdir(t.data_dir) if f"data/{f}" not in refd
    )


def _rdc_update_plan(frame):
    """row_delta_commit plan: re-price every row with k < 3."""
    hit = frame.filter(F.col("k") < 3)
    return (
        hit.select(
            F.col(SnapshotTable._POS_FILE).alias("file_path"),
            F.col(SnapshotTable._POS_IDX).alias("pos"),
        ),
        hit.select("k", "bucket", F.lit(-1.0).alias("price")),
    )


def _with_outstanding_deletes(t, spark):
    t.delete_where(F.col("k") == 0, mode="merge-on-read")
    t.delete_where(F.col("k") == 11, mode="merge-on-read")
    t.delete_by_key(_order_rows(spark, [5, 15]).select("k"), ["k"])


def test_row_level_writers_spark_jobs_pinned(spark, tmp_path):
    """Spark jobs per row-level writer on a fresh two-append table. The
    staged delete file's row count comes from its parquet footer, so
    merge-on-read DELETE, row_delta_commit and rewrite_delete_files run
    no re-read of it; persisted match frames are released afterwards."""
    keys = _order_rows(spark, [1, 2, 3]).select("k")
    upsert = _order_rows(spark, list(range(5, 15)) + [20, 21], price=-1.0)
    writers = {
        "cow_delete": lambda t: t.delete_where(
            F.col("k") % 3 == 0, mode="copy-on-write"),
        "mor_delete": lambda t: t.delete_where(
            F.col("k") % 3 == 0, mode="merge-on-read"),
        "cow_update": lambda t: t.update_where(
            F.col("k") < 5, {"price": F.lit(0.0)}, mode="copy-on-write"),
        "mor_update": lambda t: t.update_where(
            F.col("k") < 5, {"price": F.lit(0.0)}, mode="merge-on-read"),
        "cow_merge": lambda t: t.merge(upsert, ["k"], mode="copy-on-write"),
        "mor_merge": lambda t: t.merge(upsert, ["k"], mode="merge-on-read"),
        "delete_by_key_counted": lambda t: t.delete_by_key(keys, ["k"]),
        "delete_by_key_blind": lambda t: t.delete_by_key(
            keys, ["k"], count_matches=False),
        "row_delta_commit": lambda t: t.row_delta_commit(_rdc_update_plan),
        "rewrite_delete_files": lambda t: t.rewrite_delete_files(),
    }
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo
    cached_before = len(storage())
    got = {}
    for name, write in writers.items():
        t = SnapshotTable(spark, str(tmp_path / name))
        t.append(_order_rows(spark, range(0, 10)))
        t.append(_order_rows(spark, range(10, 20)))
        if name == "rewrite_delete_files":
            _with_outstanding_deletes(t, spark)
        got[name] = _jobs_of(spark, lambda: write(t))
        assert len(storage()) == cached_before, name
    assert got == {
        "cow_delete": 8,
        "mor_delete": 2,
        "cow_update": 8,
        "mor_update": 3,
        "cow_merge": 16,
        "mor_merge": 8,
        "delete_by_key_counted": 7,
        "delete_by_key_blind": 2,
        "row_delta_commit": 3,
        "rewrite_delete_files": 11,
    }, got


_RACE_WRITERS = {
    "cow_delete": lambda t: t.delete_where(F.col("k") < 3, mode="copy-on-write"),
    "mor_delete": lambda t: t.delete_where(F.col("k") < 3, mode="merge-on-read"),
    "cow_update": lambda t: t.update_where(
        F.col("k") < 3, {"price": F.lit(-1.0)}, mode="copy-on-write"),
    "mor_update": lambda t: t.update_where(
        F.col("k") < 3, {"price": F.lit(-1.0)}, mode="merge-on-read"),
    "cow_merge": lambda t: t.merge(
        _order_rows(t.spark, [0, 1, 2], price=-1.0), ["k"], mode="copy-on-write"),
    "mor_merge": lambda t: t.merge(
        _order_rows(t.spark, [0, 1, 2], price=-1.0), ["k"], mode="merge-on-read"),
    "delete_by_key_counted": lambda t: t.delete_by_key(
        _order_rows(t.spark, [0, 1, 2]).select("k"), ["k"]),
    "row_delta_commit": lambda t: t.row_delta_commit(_rdc_update_plan),
    "delete_by_key_blind": lambda t: t.delete_by_key(
        _order_rows(t.spark, [0, 1, 2]).select("k"), ["k"], count_matches=False),
    "rewrite_delete_files": lambda t: t.rewrite_delete_files(),
}


@pytest.mark.parametrize("writer", list(_RACE_WRITERS))
def test_row_level_writer_lost_race(spark, tmp_path, writer):
    """A second handle appends between a writer's staging and its commit.
    A validating writer re-derives; once its budget is spent it raises
    the typed conflict, every racer row survives and every staged file
    is reclaimed; with one race and a free second attempt it commits the
    re-derived result. A blind equality delete composes with the racer's
    append and its horizon, taken at commit time, covers the racer's
    segment. rewrite_delete_files has no retry loop: it raises."""
    from trino_iceberg_spark.errors import CommitConflictError

    path = str(tmp_path / writer)
    t = SnapshotTable(spark, path, commit_attempts=2)
    t.append(_order_rows(spark, range(10)))
    if writer == "rewrite_delete_files":
        _with_outstanding_deletes(t, spark)
    other = SnapshotTable(spark, path)
    real_commit = t._commit_row_delta
    blind = writer == "delete_by_key_blind"
    racers: list[int] = []  # keys the racer appended, one row each

    def race(limit):
        """Patch the commit step: race until ``limit`` racer rows exist."""

        def commit(delta):
            if len(racers) < limit:
                # the blind delete's racer carries a key it deletes
                racers.append(1 if blind else 100 + len(racers))
                other.append(_order_rows(spark, [racers[-1]], price=0.0))
            return real_commit(delta)

        t._commit_row_delta = commit

    def visible():
        return sorted((r["k"], r["price"]) for r in t.read().collect())

    before = visible()
    write = _RACE_WRITERS[writer]
    if blind:
        race(limit=1)
        snap = write(t)
        assert [k for k, _ in visible()] == list(range(3, 10))
        racer_head = t._snapshot_by_id(snap.parent_snapshot_id)
        assert snap.equality_deletes[-1]["segments"] == list(racer_head.manifest_list)
        assert _unreferenced_data_files(t) == []
        return
    race(limit=len(racers) + 2)
    with pytest.raises(CommitConflictError) as exc:
        write(t)
    assert _unreferenced_data_files(t) == []
    assert visible() == sorted(before + [(k, 0.0) for k in racers])
    if writer == "rewrite_delete_files":
        assert len(racers) == 1  # one attempt: no retry loop
        return
    assert len(racers) == 2 and exc.match("validation race")
    race(limit=len(racers) + 1)
    write(t)
    assert len(racers) == 3
    assert _unreferenced_data_files(t) == []
    kept = [(k, p) for k, p in before if k >= 3] + [(k, 0.0) for k in racers]
    if writer in ("cow_delete", "mor_delete", "delete_by_key_counted"):
        want = kept
    else:
        want = kept + [(k, -1.0) for k in (0, 1, 2)]
    assert visible() == sorted(want)
    assert t.current_snapshot().row_count == len(want)


def test_mor_merge_pruned_to_no_file_still_inserts(spark, tmp_path):
    """A merge-on-read SQL MERGE whose source key bounds exclude every
    data file: the match scan reads no file, the plan runs on an empty
    frame, and the NOT MATCHED route still lands."""
    from trino_iceberg_spark.client import AthenaSparkClient

    tdir = str(tmp_path / "mor_prune_none")
    t = SnapshotTable(spark, tdir)
    t.append(_order_rows(spark, range(0, 10)))
    t.append(_order_rows(spark, range(10, 20)))
    t.set_table_property("write.merge.mode", "merge-on-read")
    assert t.prune_files(t.current_snapshot(), [("k", ">=", 100)]) == []
    client = AthenaSparkClient(spark)
    client.register_snapshot_table("mor_prune_none", tdir)
    _order_rows(spark, [100, 101], price=1.0).createOrReplaceTempView(
        "mor_prune_src"
    )
    n = client.execute(
        "MERGE INTO mor_prune_none t USING (SELECT * FROM mor_prune_src) s "
        "ON t.k = s.k WHEN MATCHED THEN UPDATE SET price = s.price "
        "WHEN NOT MATCHED THEN INSERT VALUES (s.k, s.bucket, s.price)"
    )
    assert n == 2
    head = t.current_snapshot()
    assert head.operation == "merge" and head.row_count == 22
    assert not head.position_deletes
    assert sorted(r["k"] for r in t.read().collect()) == list(range(20)) + [100, 101]


def test_row_level_writes_on_legacy_table(spark, tmp_path):
    """A legacy inline manifest without schema tracking (no
    schema_columns) and with a name-keyed partition spec: the match scan
    prunes through it, and when no file survives the plan gets an empty
    frame of the files' own columns, so a pure insert still lands."""
    import json as _json

    t = SnapshotTable(spark, str(tmp_path / "legacy_rows"))
    t.append(_order_rows(spark, [0, 7, 14]).coalesce(1))  # bucket 0
    t.append(_order_rows(spark, [1, 8, 15]).coalesce(1))  # bucket 1
    snap = t.current_snapshot()
    p = os.path.join(t.metadata_dir, f"v{snap.snapshot_id}.json")
    with open(p, "r", encoding="utf-8") as fh:
        m = _json.load(fh)
    for k in ("schema_id", "last_column_id", "schemas", "manifest_list"):
        m.pop(k, None)
    m["files"] = list(snap.files)
    m["partition_specs"] = {
        "1": [{"name": "bucket", "source": "bucket", "transform": "identity"}]
    }
    m["file_partitions"] = {
        f: {"spec": 1, "values": {"bucket": str(b)}}
        for f, b in zip(snap.files, (0, 1))
    }
    with open(p, "w", encoding="utf-8") as fh:
        _json.dump(m, fh)

    legacy = SnapshotTable(spark, t.table_dir)
    head = legacy.current_snapshot()
    assert head.schema_columns is None and head.manifest_list is None
    assert legacy.prune_files(head, [("bucket", "=", 1)]) == [snap.files[1]]
    legacy.delete_where(
        F.col("bucket") == 1, mode="merge-on-read", filters=[("bucket", "=", 1)]
    )

    def insert_only(frame):
        assert frame.columns[:3] == ["k", "bucket", "price"]
        assert frame.count() == 0
        return None, _order_rows(spark, [50], price=5.0)

    legacy.row_delta_commit(insert_only, filters=[("bucket", "=", 5)])
    legacy.update_where(
        F.col("k") == 7, {"price": F.lit(-1.0)}, mode="merge-on-read",
        filters=[("bucket", "=", 0)],
    )
    got = sorted((r["k"], r["price"]) for r in legacy.read().collect())
    assert got == [(0, 0.0), (7, -1.0), (14, 140.0), (50, 5.0)]
    assert legacy.current_snapshot().row_count == 4
    assert legacy.current_snapshot().schema_columns is None
