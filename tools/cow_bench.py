#!/usr/bin/env python
"""Touched-file copy-on-write DML microbench: empirical evidence for the
round-14 storage-layer claim — a selective CoW DELETE/UPDATE on a big
clustered table rewrites only the files CONTAINING matched rows
(_cow_touched_rewrite, one row delta replacing the touched files), so
its cost tracks the MATCHED data, not the table.

Method: build key-clustered snapshot tables at growing row counts (each
tier doubles the previous, disjoint per-file key ranges so zone maps are
selective), then time the SAME narrow DELETE (a fixed 2k-row key band,
with the extracted (col,op,lit) filters the SQL arm would pass) against
each tier, and separately a bare full-table DELETE for contrast. The
claim holds if the selective-delete wall time stays ~flat across tiers
while the full delete grows with the table; the per-tier ratio is the
machine-independent quantity. Also records how many parent files the
selective commit carried forward by identity (must be all but the
touched band).

Usage:
    python tools/cow_bench.py                # tiers 2M / 4M / 8M rows
    python tools/cow_bench.py --tiers 2      # quick 2-tier run
"""

from __future__ import annotations

import argparse
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


def build(spark, path: str, rows: int, files: int) -> SnapshotTable:
    t = SnapshotTable(spark, path)
    t.append(
        spark.range(rows).selectExpr(
            "id AS k", "CAST(id % 7 AS DOUBLE) AS v", "id % 97 AS g"
        ),
        cluster_by=["k"],
        cluster_partitions=files,
    )
    return t


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tiers", type=int, default=3)
    ap.add_argument("--base-rows", type=int, default=2_000_000)
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
    spark = get_spark(
        app_name="cow_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus),
        warehouse_dir=tempfile.mkdtemp(prefix="cowb_wh_"),
    )
    out = {"tiers": []}
    root = tempfile.mkdtemp(prefix="cowb_")
    try:
        for tier in range(args.tiers):
            rows = args.base_rows * (2**tier)
            files = 16 * (2**tier)  # constant rows/file across tiers
            path = os.path.join(root, f"t{tier}")
            t = build(spark, path, rows, files)
            snap0 = t.current_snapshot()

            # selective: fixed 2k-key band in the middle of the key space
            lo = rows // 2
            hi = lo + 2_000
            t0 = time.monotonic()
            t.delete_where(
                (F.col("k") >= lo) & (F.col("k") < hi),
                filters=[("k", ">=", lo), ("k", "<", hi)],
            )
            sel_sec = time.monotonic() - t0
            snap1 = t.current_snapshot()
            carried = len(set(snap0.files) & set(snap1.files))

            # contrast: a full-table-matched DELETE (touches every file)
            t1 = time.monotonic()
            t.delete_where(F.col("g") >= 0)  # matches every remaining row
            full_sec = time.monotonic() - t1

            out["tiers"].append(
                {
                    "rows": rows,
                    "files": len(snap0.files),
                    "selective_delete_sec": round(sel_sec, 3),
                    "full_delete_sec": round(full_sec, 3),
                    "files_carried_by_identity": carried,
                    "files_rewritten": len(snap0.files) - carried,
                }
            )
            shutil.rmtree(path, ignore_errors=True)
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
