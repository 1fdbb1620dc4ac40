"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each with one row group, in the same schemas and value domains as
the repository's test data. The same ``(seed, sf)`` always gives
byte-identical values, so a run can be replayed exactly.

Row counts follow TPC-H scaling: ``sf=0.1`` gives 600k lineitem rows
(about 17 MB on disk), which fits in memory many times over.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
PART_WORDS = (
    "widget blue gizmo old ring hot gear large cold small new red bolt "
    "plate anvil rod"
).split()
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["zh", "de", "fr", "en", "es"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")
_EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _ts(days_or_us: np.ndarray, base: np.datetime64, unit_us: int) -> pa.Array:
    return pa.array(base + days_or_us.astype("int64") * unit_us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words documents over a 31-word vocabulary, with planted
    near-duplicates (an earlier document plus a ``dup`` tail and a few
    substituted words) and a few exact copies, so dedup operators have
    pairs to find."""
    vocab = np.array(WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), size=max(1, len(words) // 20)):
                words[j] = str(vocab[rng.integers(0, len(vocab))])
            texts.append(" ".join(words + ["dup"] * int(rng.integers(1, 3))))
        elif i > 10 and r < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(5, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), size=k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    v = rng.standard_normal((n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = max(400, int(6_000_000 * sf))
    n_evt = max(100, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)], pa.string()),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
    })
    pw = np.array(PART_WORDS)
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            np.char.add(np.char.add(pw[rng.integers(0, 16, n_part)], " "),
                        pw[rng.integers(0, 16, n_part)]), pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(retail, pa.float64()),
    })
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), pa.float64()),
        "o_orderdate": _ts(order_day, _EPOCH_1995, _DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)], pa.string()),
    })
    l_order = rng.integers(0, n_ord, n_line)
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * retail[l_part], 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)], pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_line)], pa.string()),
        "l_shipdate": _ts(order_day[l_order] + rng.integers(1, 122, n_line), _EPOCH_1995, _DAY_US),
    })
    ev_us = np.sort(rng.integers(0, 30 * _DAY_US, n_evt))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": _ts(ev_us, _EPOCH_2024, 1),
        "user_id": pa.array(rng.integers(0, 1500, n_evt), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)], pa.string()),
        "value": pa.array(np.round(rng.exponential(40.0, n_evt), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], pa.string()),
    })
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_emb)

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    return {name: t.num_rows for name, t in tables.items()}
