#!/usr/bin/env python
"""Per-query profiling harness for optimization rounds (guide §1).

Times individual registry queries exactly like bench.py (same session
confs, same noop-sink methodology, same warmup, cache clear between
queries) so a single query can be measured in isolation without paying
for the whole bench. Optionally dumps ``explain("formatted")`` to a file
and labels each pass via job descriptions.

Usage:
    python tools/profile_query.py tt32_cow_selective_dml sp10_corpus_to_shards
    python tools/profile_query.py --passes 3 dd11_semantic_dedup
    python tools/profile_query.py --explain plans/r16 tpch_q9_nation_revenue
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from trino_iceberg_spark.operators.cachectl import CacheRegistry  # noqa: E402
from trino_iceberg_spark.queries.registry import QUERIES, load_all  # noqa: E402
from trino_iceberg_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument(
        "--explain",
        metavar="DIR",
        help="also write explain('formatted') for each query to DIR/<name>_profile.txt",
    )
    args = ap.parse_args()

    load_all()
    spark = get_spark(app_name="profile")
    import pyspark.sql.functions as F

    # Same warmup as bench.py: JVM/codegen/parquet-reader/noop-sink first touch.
    warm = spark.read.parquet(os.path.join(SF_DIR, "nation.parquet"))
    (
        warm.groupBy("n_regionkey")
        .agg(F.sum(F.col("n_nationkey").cast("decimal(18,4)")).alias("s"))
        .orderBy("n_regionkey")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )

    for name in args.names:
        if name not in QUERIES:
            print(f"?? unknown query: {name}")
            continue
        ts: list[float] = []
        # Same per-query scope as bench.py: exiting it after the timed
        # passes logs skew-guard reports and frees checkpoint blocks.
        with CacheRegistry():
            for i in range(args.passes):
                spark.sparkContext.setJobDescription(f"{name} pass {i}")
                t0 = time.time()
                df = QUERIES[name](spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                ts.append(round(time.time() - t0, 3))
                spark.sparkContext.setJobDescription(None)
        spark.catalog.clearCache()
        print(f"{name}: passes={ts} best={min(ts)}")
        if args.explain:
            df = QUERIES[name](spark, SF_DIR)
            os.makedirs(args.explain, exist_ok=True)
            out = os.path.join(args.explain, f"{name}_profile.txt")
            # explainString takes an ExplainMode JVM object, not a string
            # (same idiom as client.py's explain plumbing).
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
            with open(out, "w") as fh:
                fh.write(df._jdf.queryExecution().explainString(mode))
            print(f"  plan -> {out}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
