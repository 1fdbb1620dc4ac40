#!/usr/bin/env python
"""Generative concurrency fuzz for the snapshot catalog's CAS commit
protocol (round 9; merge + equality deletes added round 10; maintenance
races added round 11): random multi-writer schedules of append /
overwrite / delete_where / update_where / merge / delete_by_key /
add_column / compact_small_files / rewrite_delete_files race on one
table, and the outcome must be LINEARIZABLE —
exactly the guarantee Nessie/Iceberg's optimistic commit model makes
and `_commit_version` claims (every row-level write commits through
`_commit_row_delta` and re-derives in `_row_level_commit`).

Each schedule: W writer threads each run K operations against the same
table (fresh per schedule). Operations tag themselves with an `op_id`
commit property, so after the threads join the main-branch ancestry IS
the serialization order. The checker then asserts, per schedule:

1. the ancestry is one linear chain (every child's parent pointer is
   the previous snapshot — no fork, no orphan);
2. the set of op_ids in the chain equals the set of operations that
   RETURNED SUCCESS, each exactly once — a writer that saw success is
   never lost (the lost-update bug CAS replaced), a writer that saw
   CommitConflictError never half-lands;
3. replaying the chain's operations in ancestry order over a model
   multiset (append adds its rows, overwrite resets to its rows,
   delete filters by its predicate, update shifts matching rows,
   merge upserts by key — drop existing rows with a source key, then
   add every source row — eqdelete removes every row whose key is in
   its set AT ITS CHAIN POSITION (rows appended later survive, the
   manifest-list-prefix horizon), evolve changes nothing) reproduces
   the final table's rows AND the final snapshot's row_count metadata —
   in particular, a delete landing AFTER a concurrent append must keep
   the appended rows its predicate doesn't match (the copy-on-write
   lost-update window based_on validation closed);
4. every successfully added column is present in the final schema.

Conflicts are legal outcomes only where the design says so: a data
commit staged under a schema that a concurrent add_column replaced
(CommitConflictError from the fingerprint check), a writer whose
schema read went stale before staging (EngineError schema mismatch),
or a merge whose entry validation read a schema a concurrent evolve
replaced (SchemaMismatchError). Plain append/append and
append/overwrite races must all succeed, and read-modify-write
deletes/updates (and merges past their entry validation) retry
internally so they must ALWAYS land — writers carry a retry budget
sized above worst-case contention.

Usage:
    python tools/fuzz_concurrent.py            # 6 schedules, seed 0
    python tools/fuzz_concurrent.py 10 7       # 10 schedules, seed 7

Exit code 1 on any violation; prints the schedule plan for replay.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import types as T  # noqa: E402

from trino_iceberg_spark.catalog.snapshots import (  # noqa: E402
    CommitConflictError,
    SnapshotTable,
)
from trino_iceberg_spark.errors import EngineError, SchemaMismatchError  # noqa: E402


def _plan_schedule(rng: random.Random, writers: int, ops: int) -> list[list[dict]]:
    """Per-writer op lists, planned deterministically from the seed.
    op_ids are globally unique; append/overwrite values are disjoint
    ranges derived from the op_id so the model fold is unambiguous."""
    plan = []
    op_id = 0
    for _w in range(writers):
        mine = []
        for _k in range(ops):
            op_id += 1
            roll = rng.random()
            if roll < 0.36:
                kind = "append"
            elif roll < 0.45:
                kind = "overwrite"
            elif roll < 0.54:
                kind = "delete"
            elif roll < 0.62:
                kind = "update"
            elif roll < 0.71:
                kind = "merge"
            elif roll < 0.80:
                kind = "eqdelete"
            elif roll < 0.88:
                kind = "evolve"
            elif roll < 0.94:
                kind = "compact"
            else:
                kind = "rewritedel"
            vals = [op_id * 100 + j for j in range(rng.randrange(1, 4))]
            if kind in ("merge", "eqdelete") and rng.random() < 0.5:
                # target a key that exists at schedule start (the base
                # row) so the MATCHED/horizon branch is exercised, not
                # just the not-matched/absent-key path
                vals = [0] + vals
            mine.append(
                {
                    "op_id": op_id,
                    "kind": kind,
                    "vals": vals,
                    "digit": rng.randrange(10),
                    # merges flip between copy-on-write and merge-on-read
                    # (equality-delete + append): both modes must satisfy
                    # the SAME upsert model fold under races
                    "mor": rng.random() < 0.5,
                }
            )
        plan.append(mine)
    return plan


def _df_for(spark, table: SnapshotTable, vals: list[int]):
    """Build a DataFrame matching the table's CURRENT schema: base
    columns (v INT, tag STRING) plus NULL for any concurrently-evolved
    c_* column. A stale schema read is one of the legal race windows."""
    cols = table.schema_columns or [
        {"name": "v", "type": "integer"},
        {"name": "tag", "type": "string"},
    ]
    fields, template = [], []
    for c in cols:
        if c["name"] == "v":
            fields.append(T.StructField("v", T.IntegerType()))
        elif c["name"] == "tag":
            fields.append(T.StructField("tag", T.StringType()))
        else:
            fields.append(T.StructField(c["name"], T.IntegerType()))
        template.append(c["name"])
    rows = [
        tuple(v if n == "v" else ("t" if n == "tag" else None) for n in template)
        for v in vals
    ]
    return spark.createDataFrame(rows, T.StructType(fields)).coalesce(1)


def run_schedule(spark, base_dir: str, seed: int, writers: int = 4, ops: int = 3):
    """One fuzzed schedule; raises AssertionError on any violation.
    Returns (n_ok, n_conflict) for reporting."""
    rng = random.Random(seed)
    path = os.path.join(base_dir, f"cc_{seed}")
    shutil.rmtree(path, ignore_errors=True)
    plan = _plan_schedule(rng, writers, ops)
    boot = SnapshotTable(spark, path, commit_attempts=128)
    boot.append(_df_for(spark, boot, [0]), properties={"op_id": "base"})

    results: dict[int, str] = {}
    errs: list[BaseException] = []

    def run_writer(my_ops: list[dict]) -> None:
        try:
            t = SnapshotTable(spark, path, commit_attempts=128)
            for op in my_ops:
                try:
                    if op["kind"] in ("compact", "rewritedel"):
                        # maintenance racing DML (round-11 directive):
                        # both validate against the scanned snapshot with
                        # NO internal retry (re-runnable by contract), so
                        # losing to any concurrent commit is a legal
                        # conflict; succeeding must be a visible-rows
                        # no-op (asserted by the model fold, which skips
                        # maintenance snapshots entirely)
                        snap = (
                            t.compact_small_files(target_files=2)
                            if op["kind"] == "compact"
                            else t.rewrite_delete_files()
                        )
                        results[op["op_id"]] = (
                            "ok" if snap is not None else "noop"
                        )
                        continue
                    if op["kind"] == "evolve":
                        t.add_column(f"c_{op['op_id']}", "INT")
                    elif op["kind"] == "eqdelete":
                        # equality delete: removes its keys as of its
                        # serialization point; retries internally
                        # (count_matches mode), so it must always land
                        keys = spark.createDataFrame(
                            [(v,) for v in op["vals"]], "v int"
                        ).coalesce(1)
                        t.delete_by_key(
                            keys, ["v"], properties={"op_id": str(op["op_id"])}
                        )
                    elif op["kind"] == "merge":
                        # upsert by key: re-derives internally past its
                        # entry validation (_row_level_commit); only a
                        # stale-schema entry read may legally conflict,
                        # racing an evolve
                        t.merge(
                            _df_for(spark, t, op["vals"]),
                            ["v"],
                            properties={"op_id": str(op["op_id"])},
                            mode="merge-on-read" if op["mor"] else None,
                        )
                    elif op["kind"] in ("delete", "update"):
                        # read-modify-write: retries internally on races,
                        # so under any schedule it must SUCCEED — a lost
                        # concurrent append surfaces in the model fold
                        from pyspark.sql import functions as F

                        if op["kind"] == "delete":
                            t.delete_where(
                                F.col("v") % 10 == op["digit"],
                                properties={"op_id": str(op["op_id"])},
                            )
                        else:  # shift matching rows out of digit space
                            t.update_where(
                                F.col("v") % 10 == op["digit"],
                                {"v": F.col("v") + 1_000_000},
                                properties={"op_id": str(op["op_id"])},
                            )
                    else:
                        df = _df_for(spark, t, op["vals"])
                        fn = t.append if op["kind"] == "append" else t.overwrite
                        fn(df, properties={"op_id": str(op["op_id"])})
                    results[op["op_id"]] = "ok"
                except (CommitConflictError, SchemaMismatchError):
                    # stale-schema entry validation (merge) or a staged
                    # data commit racing evolution — both legal conflicts
                    results[op["op_id"]] = "conflict"
                except EngineError as exc:
                    if "schema mismatch" not in str(exc):
                        raise
                    results[op["op_id"]] = "conflict"  # stale schema read
        except BaseException as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=run_writer, args=(w,)) for w in plan]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, f"unexpected writer errors: {errs!r}"

    by_id = {op["op_id"]: op for mine in plan for op in mine}
    ok_ids = {i for i, r in results.items() if r == "ok"}
    conflict_ids = {i for i, r in results.items() if r == "conflict"}
    maint_kinds = ("compact", "rewritedel")
    # conflicts are only legal for STAGED data commits racing evolution,
    # and for maintenance (validated against its scanned snapshot, no
    # internal retry — ANY concurrent commit legally conflicts it);
    # evolves and read-modify-write deletes retry internally and must land
    evolving = any(op["kind"] == "evolve" for mine in plan for op in mine)
    for i in conflict_ids:
        if by_id[i]["kind"] in maint_kinds:
            continue
        assert by_id[i]["kind"] in ("append", "overwrite", "merge"), (
            f"{by_id[i]['kind']} op {i} conflicted — its retry loop failed"
        )
        assert evolving, f"op {i} conflicted with no evolution in the schedule"

    table = SnapshotTable(spark, path)
    snaps = table.main_ancestry()
    # 1. linear chain
    for parent, child in zip(snaps, snaps[1:]):
        assert child.parent_snapshot_id == parent.snapshot_id, "forked chain"
    # 2. chain ops == successful ops, each exactly once
    chain_data_ids = [
        int(s.properties["op_id"])
        for s in snaps[1:]
        if s.properties and s.properties.get("op_id")
    ]
    evolve_snaps = [s for s in snaps[1:] if s.operation == "evolve"]
    # maintenance commits carry no op_id: a compact is an op_id-less
    # overwrite, a delete-file rewrite is operation rewrite-deletes
    maint_snaps = [
        s
        for s in snaps[1:]
        if s.operation == "rewrite-deletes"
        or (
            s.operation == "overwrite"
            and not (s.properties and s.properties.get("op_id"))
        )
    ]
    ok_data = {
        i
        for i in ok_ids
        if by_id[i]["kind"] not in ("evolve",) + maint_kinds
    }
    ok_evolve = {i for i in ok_ids if by_id[i]["kind"] == "evolve"}
    ok_maint = {i for i in ok_ids if by_id[i]["kind"] in maint_kinds}
    assert len(maint_snaps) == len(ok_maint), (
        f"maintenance count mismatch: chain={len(maint_snaps)} ok={len(ok_maint)}"
    )
    assert len(chain_data_ids) == len(set(chain_data_ids)), "op landed twice"
    assert set(chain_data_ids) == ok_data, (
        f"chain/data mismatch: chain={sorted(chain_data_ids)} ok={sorted(ok_data)}"
    )
    assert len(evolve_snaps) == len(ok_evolve), "evolve count mismatch"
    # 3. model fold in serialization order == table rows == metadata count
    model: list[int] = [0]
    for s in snaps[1:]:
        if s.properties and s.properties.get("op_id"):
            op = by_id[int(s.properties["op_id"])]
            if op["kind"] == "append":
                model.extend(op["vals"])
            elif op["kind"] == "delete":
                model = [v for v in model if v % 10 != op["digit"]]
            elif op["kind"] == "update":
                model = [
                    v + 1_000_000 if v % 10 == op["digit"] else v for v in model
                ]
            elif op["kind"] == "merge":
                # upsert by key: rows with a source key are replaced,
                # unmatched source rows append
                keys = set(op["vals"])
                model = [v for v in model if v not in keys] + list(op["vals"])
            elif op["kind"] == "eqdelete":
                keys = set(op["vals"])
                model = [v for v in model if v not in keys]
            else:
                model = list(op["vals"])
    got = sorted(r["v"] for r in table.read().select("v").collect())
    assert got == sorted(model), f"rows diverge: got={got} model={sorted(model)}"
    assert snaps[-1].row_count == len(model), "row_count metadata diverges"
    # 4. every successful evolve's column exists
    names = {c["name"] for c in (table.schema_columns or [])}
    for i in ok_evolve:
        assert f"c_{i}" in names, f"evolved column c_{i} missing"
    # a maintenance op that found nothing to do (returned None) is a
    # successful adjudication too
    n_noop = sum(1 for r in results.values() if r == "noop")
    return len(ok_ids) + n_noop, len(conflict_ids)


def run_expire_schedule(spark, base_dir: str, seed: int, writers: int = 3, ops: int = 3):
    """``expire_snapshots`` racing NON-READING merge-on-read writers
    (round-11 directive: maintenance-vs-DML races). Writers commit only
    appends and BLIND equality deletes (count_matches=False — zero table
    reads), so aggressive expiry can never break an in-flight scan; what
    it must never break is the COMMITS: no writer loses its commit to an
    expiry, the retained chain stays linear, and the final visible rows
    equal an order-free model (each writer only ever touches its own
    disjoint value range; the shared base row dies iff anyone eqdeleted
    it — it exists from schedule start, so every delete's horizon covers
    it regardless of interleaving). Afterward one compaction must restore
    EXACT row_count (blind deletes leave it an upper bound by contract),
    and every surviving snapshot must still read."""
    rng = random.Random(seed)
    path = os.path.join(base_dir, f"exp_{seed}")
    shutil.rmtree(path, ignore_errors=True)
    boot = SnapshotTable(spark, path, commit_attempts=128)
    boot.append(_df_for(spark, boot, [0]), properties={"op_id": "base"})

    # plan: per-writer sequential op lists over a private value range
    plan: list[list[dict]] = []
    for w in range(writers):
        lo = (w + 1) * 1000
        mine, appended, nxt = [], [], lo
        for _k in range(ops):
            if not appended or rng.random() < 0.6:
                vals = [nxt + j for j in range(rng.randrange(1, 4))]
                nxt += len(vals)
                mine.append({"kind": "append", "vals": vals})
                appended.extend(vals)
            else:
                keys = rng.sample(appended, rng.randrange(1, len(appended) + 1))
                if rng.random() < 0.3:
                    keys = keys + [0]  # the shared base row
                mine.append({"kind": "eqdelete", "vals": keys})
        plan.append(mine)

    errs: list[BaseException] = []
    done = threading.Event()
    expiries = [0]

    def run_writer(my_ops: list[dict]) -> None:
        try:
            t = SnapshotTable(spark, path, commit_attempts=128)
            for op in my_ops:
                if op["kind"] == "append":
                    t.append(_df_for(spark, t, op["vals"]))
                else:
                    keys = spark.createDataFrame(
                        [(v,) for v in op["vals"]], "v int"
                    ).coalesce(1)
                    t.delete_by_key(keys, ["v"], count_matches=False)
        except BaseException as exc:  # noqa: BLE001
            errs.append(exc)

    def run_expirer() -> None:
        try:
            t = SnapshotTable(spark, path, commit_attempts=128)
            while not done.is_set():
                expiries[0] += t.expire_snapshots(
                    retain_last=rng.randrange(1, 4)
                )
                time.sleep(0.01)
        except BaseException as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=run_writer, args=(w,)) for w in plan]
    expirer = threading.Thread(target=run_expirer)
    for th in threads:
        th.start()
    expirer.start()
    for th in threads:
        th.join()
    done.set()
    expirer.join()
    assert not errs, f"unexpected errors under expiry race: {errs!r}"

    # order-free model: per-writer fold + shared base row
    base_alive = True
    final: list[int] = []
    for mine in plan:
        live: list[int] = []
        for op in mine:
            if op["kind"] == "append":
                live.extend(op["vals"])
            else:
                keys = set(op["vals"])
                live = [v for v in live if v not in keys]
                if 0 in keys:
                    base_alive = False
        final.extend(live)
    want = sorted(final + ([0] if base_alive else []))

    table = SnapshotTable(spark, path)
    got = sorted(r["v"] for r in table.read().select("v").collect())
    assert got == want, f"rows diverge under expiry race: got={got} want={want}"
    snaps = table.main_ancestry()
    for parent, child in zip(snaps, snaps[1:]):
        assert child.parent_snapshot_id == parent.snapshot_id, "forked chain"
    for s in snaps:  # every retained snapshot still reads
        table.read_version(s.snapshot_id).collect()
    table.compact_small_files(target_files=1)
    final_snap = table.current_snapshot()
    assert final_snap.row_count == len(want), (
        f"row_count {final_snap.row_count} != {len(want)} after compaction"
    )
    return sum(len(m) for m in plan), expiries[0]


def run_txn_schedule(spark, base_dir: str, seed: int, writers: int = 3, txns: int = 2):
    """Concurrent MULTI-TABLE transactions racing on overlapping table
    sets (the round-9 all-or-nothing publish). Writers retry conflicted
    transactions wholesale (restage + republish, the documented
    contract). Afterward the catalog version log is the serialization
    order and the checker asserts:

    - every successful transaction appears in the log exactly once and
      every version id is consecutive (no lost or duplicated publish);
    - per table, the final TABLE-LEVEL rows are the base plus exactly
      the appends of every successful transaction touching it AND every
      DIRECT single-table append racing the transactions (one extra
      direct-writer thread commits straight to main, exercising the
      publish atom's table-lock CAS against non-transactional writers —
      nothing is lost on either path);
    - CROSS-TABLE ATOMICITY: at every catalog version, a transaction's
      rows are present in either ALL the tables it touched or NONE —
      the partial-publish state the single publish atom forbids."""
    import itertools

    from trino_iceberg_spark.catalog.multi import MultiTableCatalog

    rng = random.Random(seed)
    root = os.path.join(base_dir, f"txn_{seed}")
    shutil.rmtree(root, ignore_errors=True)
    cat = MultiTableCatalog(spark, root)
    tables = ["ta", "tb", "tc"]
    with cat.transaction("base") as txn:
        for name in tables:
            txn.append(name, _df_for(spark, cat.table(name), [0]))

    plan = []
    op_id = 0
    for _w in range(writers):
        mine = []
        for _k in range(txns):
            op_id += 1
            touched = rng.sample(tables, rng.randrange(1, 3))
            mine.append(
                {
                    "op_id": op_id,
                    "touched": touched,
                    "vals": {
                        name: [op_id * 100 + j]
                        for j, name in enumerate(touched)
                    },
                }
            )
        plan.append(mine)
    results: dict[int, str] = {}
    errs: list[BaseException] = []

    def run_writer(my_txns: list[dict]) -> None:
        try:
            from trino_iceberg_spark.errors import CommitConflictError

            mycat = MultiTableCatalog(spark, root)
            for op in my_txns:
                for _attempt in range(30):
                    try:
                        with mycat.transaction(str(op["op_id"])) as txn:
                            for name in op["touched"]:
                                txn.append(
                                    name,
                                    _df_for(
                                        spark, mycat.table(name), op["vals"][name]
                                    ),
                                )
                        results[op["op_id"]] = "ok"
                        break
                    except CommitConflictError:
                        continue  # restage the whole transaction
                else:
                    results[op["op_id"]] = "gave_up"
        except BaseException as exc:  # noqa: BLE001
            errs.append(exc)

    # one DIRECT single-table writer commits straight to main while the
    # transactions race — its appends go through the ordinary table CAS,
    # not the catalog; the publish atom's table locks must neither lose
    # them nor be lost to them (planned deterministically from the seed)
    direct_plan = [
        (rng.choice(tables), [9000 + 10 * j]) for j in range(txns + 1)
    ]

    def run_direct() -> None:
        try:
            for name, vals in direct_plan:
                t = SnapshotTable(
                    spark, os.path.join(root, name), commit_attempts=128
                )
                t.append(_df_for(spark, t, vals))
        except BaseException as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=run_writer, args=(w,)) for w in plan] + [
        threading.Thread(target=run_direct)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, f"unexpected writer errors: {errs!r}"
    assert all(r == "ok" for r in results.values()), f"gave up: {results!r}"

    by_id = {op["op_id"]: op for mine in plan for op in mine}
    versions = cat._load_versions()
    msgs = [v["message"] for v in versions]
    assert msgs[0] == "base"
    landed = [int(m) for m in msgs[1:]]
    assert sorted(landed) == sorted(by_id), f"log/success mismatch: {landed}"
    assert [v["version"] for v in versions] == list(
        range(1, len(versions) + 1)
    ), "version ids not consecutive"
    # final TABLE-LEVEL rows == base + all successful transactional
    # appends + all direct appends (read via SnapshotTable, not the
    # catalog version log — direct commits bypass the log by design)
    for name in tables:
        want = sorted(
            [0]
            + list(
                itertools.chain.from_iterable(
                    op["vals"][name] for op in by_id.values() if name in op["touched"]
                )
            )
            + list(
                itertools.chain.from_iterable(
                    vals for dname, vals in direct_plan if dname == name
                )
            )
        )
        got = sorted(
            r["v"] for r in cat.table(name).read().select("v").collect()
        )
        assert got == want, f"{name}: got={got} want={want}"
    # cross-table atomicity at every version
    for v in versions:
        vid = v["version"]
        present_at = {
            name: {r["v"] for r in cat.read(name, version=vid).collect()}
            for name in tables
        }
        for op in by_id.values():
            flags = {
                name: op["vals"][name][0] in present_at[name]
                for name in op["touched"]
            }
            assert len(set(flags.values())) == 1, (
                f"txn {op['op_id']} partially visible at version {vid}: {flags}"
            )
    return len(by_id), len(versions) - 1


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    seed0 = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    from trino_iceberg_spark.session import get_spark

    spark = get_spark(app_name="fuzz_concurrent", shuffle_partitions=4)
    base = tempfile.mkdtemp(prefix="fuzz_concurrent_")
    t0 = time.time()
    total_ok = total_conflict = 0
    total_txn = total_txn_v = 0
    try:
        for i in range(n):
            seed = seed0 + i
            rng = random.Random(seed)
            if i % 4 == 2:  # every fourth schedule fuzzes transactions
                writers = rng.choice([2, 3])
                txns = rng.choice([2, 3])
                n_txn, n_v = run_txn_schedule(spark, base, seed, writers, txns)
                total_txn += n_txn
                total_txn_v += n_v
                print(
                    f"  schedule {i + 1}/{n} (seed={seed}, txn {writers}x{txns}):"
                    f" {n_txn} transactions, {n_v} versions, atomic at every one"
                )
                continue
            if i % 4 == 3:  # and every fourth races snapshot expiry
                n_ops, n_exp = run_expire_schedule(
                    spark, base, seed, rng.choice([2, 3]), rng.choice([2, 3])
                )
                print(
                    f"  schedule {i + 1}/{n} (seed={seed}, expiry race): "
                    f"{n_ops} writer ops, {n_exp} snapshots expired mid-race"
                )
                continue
            writers = rng.choice([3, 4, 5])
            ops = rng.choice([2, 3])
            ok, conflict = run_schedule(spark, base, seed, writers, ops)
            total_ok += ok
            total_conflict += conflict
            print(
                f"  schedule {i + 1}/{n} (seed={seed}, {writers}x{ops}): "
                f"{ok} committed, {conflict} legal conflicts"
            )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print(
        f"fuzz_concurrent: {n} schedules, seed {seed0}: all linearizable "
        f"({total_ok} commits, {total_conflict} legal conflicts, "
        f"{total_txn} multi-table transactions over {total_txn_v} versions, "
        f"{time.time() - t0:.0f}s)"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
