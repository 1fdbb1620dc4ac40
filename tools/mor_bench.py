#!/usr/bin/env python
"""Merge-on-read vs copy-on-write DML microbench: empirical evidence for
the round-10 storage-layer claim — a small DELETE/UPDATE/upsert on a big
table should cost the DML's own data, not a table rewrite, and the read
tax for carrying delete files should be modest until compaction.

Method: build two identical snapshot tables from the sf lineitem slice
(one per delete mode), run the SAME small DML against both, and time
(a) the DML commit and (b) a full read afterward. Also times the blind
equality delete (zero table reads) and the read after delete-file
consolidation. All numbers from one session; the interesting quantity
is the RATIO between the modes, which is machine-independent.

The decade run (``--replicas 10``) is the claim-bearing one: it builds
the tables from 10 key-shifted copies of lineitem (6M rows) and repeats
the identical DML. Copy-on-write cost grows with the table; the
merge-on-read side's commit cost must stay ~flat — the divergence IS
the asymptotic argument, measured.

Usage:
    python tools/mor_bench.py                  # SPARK_GRAFT_SF_DIR or sf0.1
    python tools/mor_bench.py --replicas 10    # the 10x decade run
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from trino_iceberg_spark.catalog.snapshots import SnapshotTable  # noqa: E402
from trino_iceberg_spark.session import get_spark  # noqa: E402


def _timed(fn):
    t0 = time.time()
    out = fn()
    return time.time() - t0, out


def main() -> int:
    replicas = 1
    for a in sys.argv[1:]:
        if a.startswith("--replicas"):
            replicas = int(a.split("=", 1)[1]) if "=" in a else int(
                sys.argv[sys.argv.index(a) + 1]
            )
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="mor_bench")
    base = tempfile.mkdtemp(prefix="mor_bench_")
    one = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"
    )
    li = one
    for r in range(1, replicas):  # collision-free key shift per replica
        li = li.unionByName(
            one.withColumn("l_orderkey", F.col("l_orderkey") + r * 100_000_000)
        )
    n_rows = li.count()
    report: dict = {"sf_dir": sf_dir, "replicas": replicas, "rows": n_rows}
    tables = {}
    for mode in ("cow", "mor"):
        t = SnapshotTable(spark, os.path.join(base, mode))
        t.append(li, cluster_by=["l_orderkey"], cluster_partitions=16 * replicas)
        tables[mode] = t
    try:
        # ~0.1%-scale DELETE: one orderkey band
        cond = F.col("l_orderkey") % 1024 == 7
        for mode, kw in (("cow", "copy-on-write"), ("mor", "merge-on-read")):
            t = tables[mode]
            sec, _ = _timed(lambda: t.delete_where(cond, mode=kw))
            report[f"delete_sec_{mode}"] = round(sec, 2)
            sec, cnt = _timed(lambda: t.read().count())
            report[f"read_after_delete_sec_{mode}"] = round(sec, 2)
            report.setdefault("rows_after_delete", cnt)
            assert t.read().count() == report["rows_after_delete"]
        report["delete_speedup_mor"] = round(
            report["delete_sec_cow"] / report["delete_sec_mor"], 2
        )

        # small UPDATE on another band
        ucond = F.col("l_orderkey") % 1024 == 9
        assign = {"l_quantity": F.col("l_quantity") + 1}
        for mode, kw in (("cow", "copy-on-write"), ("mor", "merge-on-read")):
            sec, _ = _timed(lambda: tables[mode].update_where(ucond, assign, mode=kw))
            report[f"update_sec_{mode}"] = round(sec, 2)
        report["update_speedup_mor"] = round(
            report["update_sec_cow"] / report["update_sec_mor"], 2
        )

        # blind equality delete: zero table reads by construction
        keys = spark.createDataFrame([(11,), (1035,)], "l_orderkey long")
        sec, _ = _timed(
            lambda: tables["mor"].delete_by_key(
                keys, ["l_orderkey"], count_matches=False
            )
        )
        report["blind_eqdelete_sec"] = round(sec, 2)

        # read tax with accrued deletes vs after consolidation
        sec, _ = _timed(lambda: tables["mor"].read().count())
        report["read_with_3_delete_files_sec"] = round(sec, 2)
        sec, _ = _timed(lambda: tables["mor"].rewrite_delete_files())
        report["rewrite_delete_files_sec"] = round(sec, 2)
        sec, _ = _timed(lambda: tables["mor"].read().count())
        report["read_after_consolidation_sec"] = round(sec, 2)

        # round-11 delete-file→data-file pruning: a CONTAINED delete (the
        # lowest orderkey band of a range-clustered table) names only the
        # file(s) holding it, so the untouched rest must read down the
        # clean path — the tax vs a delete-free baseline should be ≈1×
        # (it was ~3× when EVERY file paid the identity projection +
        # anti-join). The %1024 delete above is the adversarial opposite:
        # it scatters across every file, so nothing prunes there.
        tp = SnapshotTable(spark, os.path.join(base, "morp"))
        tp.append(li, cluster_by=["l_orderkey"], cluster_partitions=16 * replicas)
        sec, _ = _timed(lambda: tp.read().count())
        report["read_baseline_sec"] = round(sec, 2)
        bound = li.selectExpr(
            "approx_percentile(l_orderkey, 0.001) AS b"
        ).first()["b"]
        sec, _ = _timed(
            lambda: tp.delete_where(
                F.col("l_orderkey") <= bound, mode="merge-on-read"
            )
        )
        report["contained_delete_sec"] = round(sec, 2)
        sec, _ = _timed(lambda: tp.read().count())
        report["read_after_contained_delete_first_sec"] = round(sec, 2)
        # probe AFTER the first timed read — _mor_touched_files fills the
        # delete-target cache, which would otherwise pre-warm the 'first'
        # read it is supposed to measure (found by code review)
        snap = tp.current_snapshot()
        report["files_total"] = len(snap.files)
        report["files_touched_by_delete"] = len(tp._mor_touched_files(snap))
        # the first read pays a one-time kilobyte scan of the delete
        # files to learn their targets (cached per table handle, amortized
        # to zero on a long-lived cluster); steady state is the claim
        sec, _ = _timed(lambda: tp.read().count())
        report["read_after_contained_delete_sec"] = round(sec, 2)
        report["untouched_read_tax"] = round(
            report["read_after_contained_delete_sec"]
            / max(report["read_baseline_sec"], 1e-9),
            2,
        )
        # round 15: the same contained MOR delete WITH prune filters —
        # _match_frame restricts the match scan to the files the
        # zone maps admit (the SQL DML arm passes these automatically
        # from the WHERE text), so the write-side scan reads one file's
        # band instead of the table
        tf = SnapshotTable(spark, os.path.join(base, "morf"))
        tf.append(li, cluster_by=["l_orderkey"], cluster_partitions=16 * replicas)
        sec, _ = _timed(
            lambda: tf.delete_where(
                F.col("l_orderkey") <= bound,
                mode="merge-on-read",
                filters=[("l_orderkey", "<=", int(bound))],
            )
        )
        report["contained_delete_pruned_sec"] = round(sec, 2)
        report["contained_delete_prune_speedup"] = round(
            report["contained_delete_sec"]
            / max(report["contained_delete_pruned_sec"], 1e-9),
            2,
        )
        # both tables end with identical visible rows for the shared DML
        print(json.dumps(report))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
