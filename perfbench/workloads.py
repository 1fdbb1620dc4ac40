"""The benchmark's workloads.

Each workload has a ``setup`` (fixture build + warm-up, untimed but
counted in ``setup_s``) and a ``run_pass`` that performs one fixed cycle
of operations through ``Runner.op``. Results are checked against answers
computed without the engine: every client call against a pandas twin of
the data; each registry query once, in its set-up pass, against DuckDB
over the same parquet (timed passes run to the noop sink and count only
exceptions).
"""

from __future__ import annotations

import dataclasses
import os
import time

import numpy as np
import pandas as pd


class CheckFailed(AssertionError):
    pass


def expect(got, want, what: str) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, expected {want!r}")


# -- athena_interactive -------------------------------------------------------

@dataclasses.dataclass
class OrderRow:
    o_orderkey: int
    o_custkey: int
    o_orderstatus: str
    o_totalprice: float


class AthenaInteractive:
    """A seeded stream of small AthenaSparkClient calls."""

    primary = ("scalar", "typed", "version", "groupby", "unload")
    #: one pass: the call mix, shuffled per pass by the seed
    MIX = ["scalar"] * 4 + ["typed"] * 4 + ["version", "groupby", "groupby", "unload"]
    WARMUP_PASSES = 2

    def setup(self, r) -> None:
        import pyspark.sql.functions as F

        from trino_iceberg_spark import AthenaSparkClient, FsClient
        from trino_iceberg_spark.catalog.snapshots import SnapshotTable
        from trino_iceberg_spark.sources.testdata import load_table

        spark = r.spark
        orders = pd.read_parquet(os.path.join(r.data_dir, "orders.parquet"))
        self.li = pd.read_parquet(os.path.join(r.data_dir, "lineitem.parquet"),
                                  columns=["l_orderkey", "l_returnflag", "l_quantity"])
        with r.tracer.span("fixture"):
            for t in ("orders", "lineitem"):
                load_table(spark, r.data_dir, t).createOrReplaceTempView(t)
            table_dir = os.path.join(r.work_dir, "orders_snap")
            table = SnapshotTable(spark, table_dir)
            n = len(orders)
            split = int(n * 0.9)
            src = load_table(spark, r.data_dir, "orders")
            v1 = table.append(src.filter(F.col("o_orderkey") < split),
                              cluster_by=["o_orderkey"], cluster_partitions=8)
            table.append(src.filter(F.col("o_orderkey") >= split),
                         cluster_by=["o_orderkey"], cluster_partitions=2)
            self.client = AthenaSparkClient(spark, fs_client=FsClient(r.work_dir, "exports"))
            self.client.register_snapshot_table("orders_snap", table_dir)
        self.v1 = v1.snapshot_id
        self.orders = orders
        self.live = orders.set_index("o_orderkey", drop=False)
        self.v1_rows = orders[orders.o_orderkey < split]
        self.n_keys = n
        self.n_cust = int(orders.o_custkey.max()) + 1
        self.unloads = 0
        if r.tracer.enabled:
            import trino_iceberg_spark.client as client_mod
            from trino_iceberg_spark import AthenaSparkClient as C

            r.tracer.wrap(C, "sql_df", "client.sql_df")
            r.tracer.wrap(client_mod, "bind_rows", "client.bind")
        # Call latency falls over the first passes after the fixture
        # while the JVM compiles the hot paths.
        with r.tracer.span("warmup"):
            for _ in range(self.WARMUP_PASSES):
                self.run_pass(r, warm=True)

    def _call(self, r, kind: str, rng: np.random.Generator, warm: bool) -> None:
        c = self.client
        if kind == "scalar":
            lo = int(rng.integers(0, self.n_keys))
            hi = lo + int(rng.integers(1, 300))
            want = int(((self.live.o_orderkey >= lo) & (self.live.o_orderkey <= hi)).sum())
            r.op(kind, lambda: c.query_scalar(
                "SELECT COUNT(*) FROM orders_snap WHERE o_orderkey BETWEEN {0} AND {1}",
                lo, hi, type_=int), lambda got: expect(got, want, "range count"), warm)
        elif kind == "typed":
            k = int(rng.integers(0, self.n_keys))
            if k in self.live.index:
                row = self.live.loc[k]
                want = [OrderRow(k, int(row.o_custkey), row.o_orderstatus, float(row.o_totalprice))]
            else:
                want = []
            r.op(kind, lambda: c.query_typed(
                OrderRow,
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice "
                "FROM orders_snap WHERE o_orderkey = {0}", k),
                lambda got: expect(got, want, "point lookup"), warm)
        elif kind == "version":
            cut = int(rng.integers(0, self.n_cust))
            want = int((self.v1_rows.o_custkey < cut).sum())
            r.op(kind, lambda: c.query_scalar(
                "SELECT COUNT(*) FROM orders_snap FOR VERSION AS OF {0} WHERE o_custkey < {1}",
                self.v1, cut, type_=int), lambda got: expect(got, want, "version count"), warm)
        elif kind == "groupby":
            lo = int(rng.integers(0, self.n_keys))
            hi = lo + int(rng.integers(100, 2000))
            sel = self.li[(self.li.l_orderkey >= lo) & (self.li.l_orderkey < hi)]
            want = {f: (int(n), float(q)) for f, (n, q) in
                    sel.groupby("l_returnflag").l_quantity.agg(["count", "sum"]).iterrows()}
            r.op(kind, lambda: c.query(
                "SELECT l_returnflag, COUNT(*) AS n, SUM(l_quantity) AS q FROM lineitem "
                "WHERE l_orderkey >= {0} AND l_orderkey < {1} GROUP BY l_returnflag", lo, hi),
                lambda got: expect({x.l_returnflag: (x.n, x.q) for x in got}, want, "group by"),
                warm)
        elif kind == "unload":
            cust = int(rng.integers(0, self.n_cust))
            want = int((self.orders.o_custkey == cust).sum())
            self.unloads += 1
            path = f"u{self.unloads}"
            r.op(kind, lambda: c.unload(
                "SELECT * FROM orders WHERE o_custkey = {0}", cust, path=path),
                lambda got: expect(got.row_count, want, "unload rows"), warm)

    def run_pass(self, r, warm: bool = False) -> None:
        order = list(self.MIX)
        r.rng.shuffle(order)
        for kind in order:
            self._call(r, kind, r.rng, warm)
        if r.tracer.enabled and not warm:
            self.probe(r)

    def probe(self, r) -> None:
        """catalog.resolve_ms: name resolution + current snapshot, called
        directly (outside any client call)."""
        t0 = time.perf_counter()
        table = self.client.snapshots.resolve(r.spark, "orders_snap")
        table.current_snapshot()
        r.samples["catalog.resolve_ms"].append((time.perf_counter() - t0) * 1000.0)


# -- curation_batch ---------------------------------------------------------------

class QueryBatch:
    """One pass runs each registry query: build the plan, then run it to
    the noop sink; caches are cleared between queries."""

    #: the operation a batch caller waits for is the whole pass
    primary = ()
    WARMUP_PASSES = 2

    def __init__(self, queries: list[str]):
        self.queries = queries

    def setup(self, r) -> None:
        import duckdb

        from tools.canonical import canon_rows
        from trino_iceberg_spark.queries.registry import ORACLES, QUERIES, load_all

        from datagen import TABLES

        load_all()
        self.fns = {q: QUERIES[q] for q in self.queries}
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(r.data_dir, t + '.parquet')}'")
        self.expected = {}
        for q in self.queries:
            rel = con.sql(ORACLES[q])
            self.expected[q] = canon_rows([c.lower() for c in rel.columns], rel.fetchall())
        con.close()
        # Warm-up pass: the checked one. Each result is collected and
        # compared with the DuckDB oracle the way the repository's oracle
        # gate compares (tools/check_correctness.py); the timed passes that
        # follow run the same plans to the noop sink.
        with r.tracer.span("warmup"):
            for q in self.queries:
                def collect(q=q):
                    df = self.fns[q](r.spark, r.data_dir)
                    return [c.lower() for c in df.columns], [tuple(x) for x in df.collect()]

                r.op("query", collect,
                     lambda got, q=q: expect(canon_rows(*got) == self.expected[q], True,
                                             f"{q} matches its DuckDB oracle"),
                     warm=True)
                r.spark.catalog.clearCache()
            # In one traced run the checked pass took 24 s and the next
            # two 3.7 s and 2.9 s, against 2.6 s for a steady pass.
            for _ in range(self.WARMUP_PASSES):
                self.run_pass(r, warm=True)

    def run_pass(self, r, warm: bool = False) -> None:
        for q in self.queries:
            def run(q=q):
                t0 = time.perf_counter()
                with r.tracer.span("queries.plan"):
                    df = self.fns[q](r.spark, r.data_dir)
                t1 = time.perf_counter()
                with r.tracer.span("queries.exec"):
                    df.write.format("noop").mode("overwrite").save()
                if not warm:
                    r.samples[f"queries.plan_s.{q}"].append(t1 - t0)
                    r.samples[f"queries.exec_s.{q}"].append(time.perf_counter() - t1)

            r.op("query", run, None, warm, label=q)
            r.spark.catalog.clearCache()
            # Each query starts from a collected heap.
            r.spark._jvm.System.gc()
            if r.tracer.enabled and not warm:
                r.samples["spark.cached_blocks_after_query"].append(r.sparkstat.cached_blocks())


CURATION_QUERIES = ["dd11_semantic_dedup", "tx09_tfidf_top_terms"]

WORKLOADS = {
    "athena_interactive": AthenaInteractive,
    "curation_batch": lambda: QueryBatch(CURATION_QUERIES),
}
