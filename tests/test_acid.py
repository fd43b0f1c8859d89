"""ACID semantics pins for operators/acid.py — the behaviors Hive 2.1's
transactional tables guarantee (TxnHandler.java write-set checks,
AcidUtils.java ValidTxnList snapshot filtering, Worker/Cleaner.java
compaction), each exercised end-to-end on a small key-addressed table."""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid

import pytest
from pyspark.sql import functions as F

from apache_hive_2_1_1_src_spark.operators.acid import (
    AcidTable,
    WriteConflictError,
)


@pytest.fixture()
def tbl(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, "g" if i % 2 == 0 else "h", float(i * 10)) for i in range(1, 21)],
        "k int, grp string, v double",
    )
    return AcidTable.create(spark, str(tmp_path / "acid_tbl"), base, key_col="k")


def rows(df):
    return sorted((r["k"], r["grp"], r["v"]) for r in df.collect())


def test_snapshot_isolation_reader_sees_old_state(spark, tbl):
    snap = tbl.snapshot()
    tx = tbl.begin()
    tx.delete(F.col("k") <= 10)
    tx.commit()
    assert tbl.read(snap).count() == 20  # pinned reader: delete invisible
    assert tbl.read().count() == 10  # new reader: delete visible
    assert tbl.read().agg(F.min("k")).first()[0] == 11


def test_update_is_tombstone_plus_insert(spark, tbl):
    tx = tbl.begin()
    tx.update(F.col("k") == 5, {"v": F.lit(999.0)})
    tx.commit()
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got[5] == 999.0 and got[6] == 60.0
    assert tbl.read().count() == 20  # no duplicate row for k=5


def test_sequential_updates_last_wins(spark, tbl):
    for val in (100.0, 200.0, 300.0):
        tx = tbl.begin()
        tx.update(F.col("k") == 7, {"v": F.lit(val)})
        tx.commit()
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got[7] == 300.0
    assert tbl.read().count() == 20


def test_write_write_conflict_aborts_second(spark, tbl):
    a, b = tbl.begin(), tbl.begin()
    a.update(F.col("k") % 5 == 0, {"v": F.col("v") + 1})
    b.update(F.col("k") % 10 == 0, {"v": F.col("v") + 2})  # overlaps a
    a.commit()
    with pytest.raises(WriteConflictError):
        b.commit()
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got[10] == 101.0  # a's +1 applied, b's +2 never visible


def test_disjoint_concurrent_writers_both_commit(spark, tbl):
    a, b = tbl.begin(), tbl.begin()
    a.update(F.col("k") <= 5, {"v": F.col("v") + 1})
    b.update(F.col("k") >= 15, {"v": F.col("v") + 2})
    a.commit()
    b.commit()  # disjoint write sets: no conflict
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got[3] == 31.0 and got[20] == 202.0 and got[10] == 100.0


def test_insert_only_never_conflicts(spark, tbl):
    a, b = tbl.begin(), tbl.begin()
    a.update(F.col("k") == 1, {"v": F.lit(0.0)})
    b.insert(spark.createDataFrame([(100, "z", 1.0)], "k int, grp string, v double"))
    a.commit()
    b.commit()  # insert-only txns skip the write-set check (as Hive)
    assert tbl.read().count() == 21


def test_abort_is_invisible(spark, tbl):
    tx = tbl.begin()
    tx.update(F.col("k") <= 20, {"v": F.lit(-1.0)})
    tx.abort()
    assert tbl.read().filter(F.col("v") < 0).count() == 0
    # abort removed its own staging dir; nothing left for the cleaner
    assert tbl.clean() == []


def test_cleaner_spares_open_txns_reaps_crashed_ones(spark, tbl):
    import os

    tx = tbl.begin()
    tx.update(F.col("k") == 1, {"v": F.lit(5.0)})
    # cleaner must NOT delete a live txn's staging dir
    assert tbl.clean() == []
    tx.commit()
    assert tbl.read().filter(F.col("k") == 1).first()["v"] == 5.0
    # a crashed writer = staged dir whose _OPEN marker never cleared;
    # dropping the marker (the age-based reaper's job) frees it
    crashed = tbl.begin()
    crashed.insert(
        spark.createDataFrame([(99, "x", 1.0)], "k int, grp string, v double")
    )
    assert tbl.clean() == []
    os.unlink(os.path.join(tbl.root, crashed._staged.dir, "_OPEN"))  # noqa: SLF001
    removed = tbl.clean()
    assert removed == [crashed._staged.dir]  # noqa: SLF001


def test_compaction_preserves_commits_after_its_snapshot(spark, tbl):
    from apache_hive_2_1_1_src_spark.operators import acid

    tx = tbl.begin()
    tx.delete(F.col("k") == 2)
    tx.commit()
    # simulate a commit landing between the fold job and the log swap:
    # snapshot the fold input now, commit afterwards, then fold with the
    # stale snapshot — monkeypatching snapshot() to return the old one
    old_snap = tbl.snapshot()
    tx2 = tbl.begin()
    tx2.update(F.col("k") == 4, {"v": F.lit(44.0)})
    tx2.commit()
    real_snapshot = acid.AcidTable.snapshot
    try:
        acid.AcidTable.snapshot = lambda self: old_snap
        tbl.compact_minor()
    finally:
        acid.AcidTable.snapshot = real_snapshot
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert 2 not in got  # folded delete intact
    assert got[4] == 44.0  # tx2's commit survived the fold


def test_no_spurious_conflict_with_pre_snapshot_tombstones(spark, tbl):
    # k=9's tombstone is historical (wid 1, before T's snapshot); an
    # unrelated later delete (wid 3) pushes the FOLD watermark above T's
    # snapshot.  The folded delta keeps per-key ORIGINAL write ids, so
    # T updating k=9 must not conflict with the wid-1 tombstone that the
    # fold would otherwise re-stamp at wid 3.
    tx = tbl.begin()
    tx.delete(F.col("k") == 9)
    tx.commit()  # wid 1
    tx = tbl.begin()
    tx.insert(spark.createDataFrame([(9, "re", 9.5)], "k int, grp string, v double"))
    tx.commit()  # wid 2
    t_open = tbl.begin()  # snapshot hwm = 2
    tx = tbl.begin()
    tx.delete(F.col("k") == 15)
    tx.commit()  # wid 3 — unrelated key
    tbl.compact_minor()  # folded entry at wid 3, tombstones carry _twid
    t_open.update(F.col("k") == 9, {"v": F.lit(10.0)})
    t_open.commit()  # must NOT raise WriteConflictError
    assert tbl.read().filter(F.col("k") == 9).first()["v"] == 10.0
    assert tbl.read().filter(F.col("k") == 15).count() == 0


def test_minor_then_major_compaction_preserve_contents(spark, tbl):
    tx = tbl.begin()
    tx.update(F.col("k") % 3 == 0, {"v": F.col("v") * 2})
    tx.commit()
    tx = tbl.begin()
    tx.delete(F.col("k") % 4 == 0)
    tx.commit()
    tx = tbl.begin()
    tx.insert(spark.createDataFrame([(50, "n", 5.0)], "k int, grp string, v double"))
    tx.commit()
    before = rows(tbl.read())
    tbl.compact_minor()
    assert rows(tbl.read()) == before
    tbl.compact_major()
    assert rows(tbl.read()) == before
    # after major compaction the log holds just the new base
    snap = tbl.snapshot()
    assert snap.deltas == () and snap.base_dir.startswith("base_")


def test_cleaner_respects_live_snapshots(spark, tbl):
    snap = tbl.snapshot()
    tx = tbl.begin()
    tx.delete(F.col("k") <= 19)
    tx.commit()
    tbl.compact_major()
    tbl.clean(live_snapshots=[snap])
    assert tbl.read(snap).count() == 20  # old base retained for the pin
    assert tbl.read().count() == 1
    # once the pin is released the old base goes away
    removed = tbl.clean()
    assert any(d.startswith("base_0") for d in removed)


def test_reinsert_after_delete_survives_compaction(spark, tbl):
    tx = tbl.begin()
    tx.delete(F.col("k") == 9)
    tx.commit()
    tx = tbl.begin()
    tx.insert(spark.createDataFrame([(9, "re", 9.5)], "k int, grp string, v double"))
    tx.commit()
    assert {r["v"] for r in tbl.read().filter(F.col("k") == 9).collect()} == {9.5}
    tbl.compact_minor()  # folded tombstone must NOT kill the folded re-insert
    assert {r["v"] for r in tbl.read().filter(F.col("k") == 9).collect()} == {9.5}


def test_read_plan_has_no_bnlj_or_cartesian(spark, tbl):
    tx = tbl.begin()
    tx.update(F.col("k") % 2 == 0, {"v": F.col("v") + 1})
    tx.commit()
    df = tbl.read()
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"  # noqa: SLF001
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_transactional_merge_update_delete_insert(spark, tbl):
    src = spark.createDataFrame(
        # update k=2 (v -> 222), delete k=4, insert k=100
        [(2, "g", 222.0), (4, "g", 0.0), (100, "new", 1.0)],
        "k int, grp string, v double",
    )
    tx = tbl.begin()
    tx.merge(
        src,
        when_matched_update={"v": F.col("src_v")},
        when_matched_delete=F.col("k") == 4,
        insert_unmatched=True,
    )
    tx.commit()
    got = {r["k"]: r["v"] for r in tbl.read().collect()}
    assert got[2] == 222.0
    assert 4 not in got
    assert got[100] == 1.0
    assert got[6] == 60.0  # untouched rows intact
    assert len(got) == 20  # 20 - 1 delete + 1 insert


def test_merge_conflicts_with_concurrent_update(spark, tbl):
    a = tbl.begin()
    b = tbl.begin()
    a.update(F.col("k") == 2, {"v": F.lit(0.0)})
    src = spark.createDataFrame([(2, "g", 5.0)], "k int, grp string, v double")
    b.merge(src, when_matched_update={"v": F.col("src_v")})
    a.commit()
    with pytest.raises(WriteConflictError):
        b.commit()  # merge's write set overlaps a's
    assert tbl.read().filter(F.col("k") == 2).first()["v"] == 0.0


def test_threaded_commits_never_lose_or_collide(spark, tbl):
    """Real concurrency against the log lock: 6 threads commit
    insert-only txns simultaneously; every commit must land with a
    DISTINCT write_id and every inserted row must be visible (no lost
    log entries, no reused ids — the two races the lockfile closes)."""
    import threading

    wids, errors = [], []

    def worker(i: int) -> None:
        try:
            tx = tbl.begin()
            tx.insert(
                spark.createDataFrame(
                    [(1000 + i, f"t{i}", float(i))], "k int, grp string, v double"
                )
            )
            wids.append(tx.commit())
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(wids) == 6 and len(set(wids)) == 6  # no write_id reuse
    got = {r["k"] for r in tbl.read().filter(F.col("k") >= 1000).collect()}
    assert got == {1000 + i for i in range(6)}  # no lost commit


def test_time_travel_reads_each_historical_state(spark, tbl):
    t1 = tbl.begin()
    t1.update(F.col("k") == 1, {"v": F.lit(999.0)})
    t1.commit()
    t2 = tbl.begin()
    t2.delete(F.col("k") == 2)
    t2.commit()
    at0 = {r["k"]: r["v"] for r in tbl.read(tbl.snapshot_at(0)).collect()}
    at1 = {r["k"]: r["v"] for r in tbl.read(tbl.snapshot_at(1)).collect()}
    at2 = {r["k"]: r["v"] for r in tbl.read(tbl.snapshot_at(2)).collect()}
    assert len(at0) == 20 and at0[1] == 10.0 and 2 in at0
    assert len(at1) == 20 and at1[1] == 999.0 and 2 in at1
    assert len(at2) == 19 and at2[1] == 999.0 and 2 not in at2


def test_time_travel_refuses_history_folded_by_major_compaction(spark, tbl):
    t1 = tbl.begin()
    t1.update(F.col("k") == 1, {"v": F.lit(999.0)})
    t1.commit()
    tbl.compact_major()  # base now at write_id 1 — wid-0 history is gone
    with pytest.raises(ValueError, match="folded"):
        tbl.snapshot_at(0)
    # the still-available watermark reads fine
    assert tbl.read(tbl.snapshot_at(1)).count() == 20


def test_lock_compatibility_matrix(spark, tbl):
    """DbTxnManager's jump table: SR~SR, SR~SW, SW~SW coexist; every
    pairing with EXCLUSIVE conflicts (TxnHandler.checkLock)."""
    from apache_hive_2_1_1_src_spark.operators.acid import (
        LockConflictError,
        LockManager,
    )

    lm = LockManager(tbl)
    cases = [
        ("shared_read", "shared_read", True),
        ("shared_read", "shared_write", True),
        ("shared_write", "shared_read", True),
        ("shared_write", "shared_write", True),
        ("shared_read", "exclusive", False),
        ("shared_write", "exclusive", False),
        ("exclusive", "shared_read", False),
        ("exclusive", "shared_write", False),
        ("exclusive", "exclusive", False),
    ]
    for held_kind, req_kind, ok in cases:
        held = lm.acquire(held_kind, "a", timeout_s=0.2)
        if ok:
            got = lm.acquire(req_kind, "b", timeout_s=0.2)
            lm.release(got)
        else:
            with pytest.raises(LockConflictError):
                lm.acquire(req_kind, "b", timeout_s=0.2)
        lm.release(held)
    assert lm.show_locks().count() == 0


def test_exclusive_lock_serializes_threads(spark, tbl):
    """Racing threads each take the EXCLUSIVE lock in turn: at most one
    holder at any instant, every thread eventually succeeds (the
    lockfile mutex serializes the read-modify-write, as the metastore
    DB does for TxnHandler)."""
    import threading

    from apache_hive_2_1_1_src_spark.operators.acid import LockManager

    lm = LockManager(tbl)
    holders: list[int] = []
    max_holders = [0]
    guard = threading.Lock()
    errors: list[Exception] = []

    def worker(i: int) -> None:
        try:
            lid = lm.acquire("exclusive", f"t{i}", timeout_s=20.0)
            with guard:
                holders.append(i)
                max_holders[0] = max(max_holders[0], len(holders))
            import time

            time.sleep(0.02)
            with guard:
                holders.remove(i)
            lm.release(lid)
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    assert max_holders[0] == 1
    assert lm.show_locks().count() == 0


def test_read_changes_window_and_event_pairs(spark, tbl):
    """CDF slicing: an UPDATE shows as its delete+insert event pair at
    its own write id; a [2,2] window sees only txn 2's events; an empty
    window yields an empty typed frame."""
    tx1 = tbl.begin()
    tx1.update(F.col("k") <= 3, {"v": F.col("v") + 1.0})
    tx1.commit()
    tx2 = tbl.begin()
    tx2.delete(F.col("k") == 10)
    tx2.commit()

    full = tbl.read_changes(1, 2).collect()
    by = {}
    for r in full:
        by.setdefault((r.write_id, r.change), set()).add(r.k)
    assert by[(1, "delete")] == {1, 2, 3}
    assert by[(1, "insert")] == {1, 2, 3}
    assert by[(2, "delete")] == {10}
    assert (2, "insert") not in by

    only2 = tbl.read_changes(2, 2).collect()
    assert {(r.write_id, r.change, r.k) for r in only2} == {(2, "delete", 10)}
    assert tbl.read_changes(5, 9).count() == 0


def test_initiator_policy_triggers_minor_then_major(spark, tbl):
    """Initiator.java trigger policy: below both thresholds -> no
    compaction; delta count at threshold -> minor; tombstone volume
    over the pct threshold -> major (which folds everything into a new
    base and empties the delta list)."""
    assert tbl.maybe_compact(delta_num_threshold=3) is None

    for i in (1, 2, 3):
        tx = tbl.begin()
        tx.insert(
            spark.createDataFrame(
                [(100 + i, "x", 1.0)], "k int, grp string, v double"
            )
        )
        tx.commit()
    assert tbl.maybe_compact(delta_num_threshold=3) == "minor"
    assert len(__import__("json").load(
        open(f"{tbl.root}/_txn_log.json")
    )["committed"]) == 1  # folded to one delta

    tx = tbl.begin()
    tx.delete(F.col("k") <= 10)  # 10 of 23 rows -> 43% > 10%
    tx.commit()
    assert tbl.maybe_compact(delta_num_threshold=99) == "major"
    assert tbl.read().count() == 13
    assert tbl.maybe_compact() is None


def test_snapshot_at_rejects_write_id_inside_minor_fold(spark, tbl):
    """After compact_minor folds deltas [1..3] to one entry at 3,
    snapshot_at(w) for w in {1, 2} must raise — the folded history is
    collapsed and returning bare-base state would be silent corruption.
    snapshot_at(0) (before the fold) and snapshot_at(3) (the fold's
    watermark) still serve correct state."""
    for val in (100.0, 200.0, 300.0):
        tx = tbl.begin()
        tx.update(F.col("k") == 7, {"v": F.lit(val)})
        tx.commit()
    tbl.compact_minor()
    assert tbl.read(tbl.snapshot_at(0)).count() == 20
    got3 = {r["k"]: r["v"] for r in tbl.read(tbl.snapshot_at(3)).collect()}
    assert got3[7] == 300.0
    for w in (1, 2):
        with pytest.raises(ValueError, match="fold"):
            tbl.snapshot_at(w)


def test_read_changes_rejects_window_intersecting_fold(spark, tbl):
    """CDF windows that touch a minor-compaction fold must raise (events
    inside the fold are re-attributed / collapsed); windows entirely
    before or after the fold still work."""
    for val in (100.0, 200.0):
        tx = tbl.begin()
        tx.update(F.col("k") == 7, {"v": F.lit(val)})
        tx.commit()
    tbl.compact_minor()
    tx = tbl.begin()
    tx.delete(F.col("k") == 9)
    tx.commit()  # write_id 3, after the fold
    assert {(r.write_id, r.change) for r in tbl.read_changes(3, 3).collect()} == {
        (3, "delete")
    }
    for lo, hi in ((1, 1), (2, 3), (1, 3)):
        with pytest.raises(ValueError, match="fold"):
            tbl.read_changes(lo, hi)


def test_read_changes_empty_window_schema_matches_nonempty(spark, tbl):
    """The empty-window fallback must expose the same schema as a
    non-empty feed — real key type and, with include_rows=True, every
    data column — so unionByName over quiet windows never breaks."""
    tx = tbl.begin()
    tx.delete(F.col("k") == 1)
    tx.commit()
    for include_rows in (False, True):
        nonempty = tbl.read_changes(1, 1, include_rows=include_rows)
        empty = tbl.read_changes(5, 9, include_rows=include_rows)
        assert empty.count() == 0
        assert [
            (f.name, f.dataType.simpleString()) for f in empty.schema.fields
        ] == [(f.name, f.dataType.simpleString()) for f in nonempty.schema.fields]
        # the contract the schema exists for: union works
        assert nonempty.unionByName(empty).count() == nonempty.count()


def test_abort_transactions_kills_open_writers(spark, tbl):
    """ABORT TRANSACTIONS (TxnHandler.abortTxns): open writers are
    administratively killed — their data never lands, and their commit()
    fails loudly instead of logging a phantom delta."""
    t1 = tbl.begin()
    t1.insert(spark.createDataFrame([(100, "z", 1.0)], "k int, grp string, v double"))
    t2 = tbl.begin()
    t2.delete(F.col("k") == 1)
    n = tbl.abort_open_transactions()
    assert n == 2
    for t in (t1, t2):
        with pytest.raises(RuntimeError, match="aborted"):
            t.commit()
    # nothing from either txn is visible; table is fully intact
    assert tbl.read().count() == 20
    assert tbl.read().filter(F.col("k") == 1).count() == 1
    # and the table still accepts new transactions afterwards
    t3 = tbl.begin()
    t3.insert(spark.createDataFrame([(200, "z", 2.0)], "k int, grp string, v double"))
    t3.commit()
    assert tbl.read().count() == 21


def test_abort_transactions_noop_when_none_open(spark, tbl):
    assert tbl.abort_open_transactions() == 0


def _jobs_launched(spark, fn) -> int:
    """Spark jobs ``fn`` launches.  Jobs reach the status tracker through
    the listener bus, in order, so once a later fence job is visible
    every job of ``fn`` is too."""
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    group, fence = f"jobs-{uuid.uuid4().hex}", f"fence-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(fence, fence)
        sc.parallelize([0], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(fence):
        assert time.monotonic() < deadline, "fence job never reached the status tracker"
        time.sleep(0.05)
    return len(tracker.getJobIdsForGroup(group))


def test_reads_use_declared_schemas_not_footers(spark, tbl):
    """Row and tombstone schemas are declared, never inferred per read:
    building ``read()`` over plain and folded deltas launches no job once
    the handle knows the table schema, and the declared schemas are the
    ones the parquet footers hold."""
    tx = tbl.begin()
    tx.update(F.col("k") % 3 == 0, {"v": F.col("v") + 1})
    tx.commit()
    tx = tbl.begin()
    tx.delete(F.col("k") == 4)
    tx.commit()
    tbl.compact_minor()  # one folded entry: tombstones carry _twid
    tx = tbl.begin()
    tx.delete(F.col("k") == 5)
    tx.commit()  # a plain delta after the fold
    log = json.loads(open(os.path.join(tbl.root, "_txn_log.json")).read())
    assert ["folded_range" in e for e in log["committed"]] == [True, False]

    # the control: footer inference is a job, which the count sees
    base = os.path.join(tbl.root, log["base"])
    assert _jobs_launched(spark, lambda: spark.read.parquet(base)) >= 1
    # create() recorded the schema, so even the first read infers nothing
    assert _jobs_launched(spark, tbl.read) == 0
    reopened = AcidTable(spark, tbl.root, key_col="k")
    expected = rows(reopened.read())  # infers the row schema once
    assert _jobs_launched(spark, reopened.read) == 0
    assert rows(reopened.read()) == expected == rows(tbl.read())

    assert tbl._schema() == reopened._schema() == spark.read.parquet(base).schema  # noqa: SLF001
    for e in log["committed"]:
        tdir = os.path.join(tbl.root, e["dir"], "tombstones")
        declared = tbl._read_tombstones(e["dir"], "folded_range" in e).schema  # noqa: SLF001
        assert declared == spark.read.parquet(tdir).schema
        rdir = os.path.join(tbl.root, e["dir"], "rows")
        if os.path.isdir(rdir):
            assert tbl._schema() == spark.read.parquet(rdir).schema  # noqa: SLF001
