"""ACID tables: MVCC snapshot isolation, optimistic write-conflict
detection, and minor/major compaction over a base+delta parquet layout.

Reference surface being re-expressed (not translated):

* ``ql/src/java/org/apache/hadoop/hive/ql/io/AcidUtils.java`` — the
  ``base_N`` / ``delta_N`` directory layout and ValidTxnList snapshot
  filtering (readers only see directories whose transaction committed
  before their snapshot).
* ``metastore/src/java/org/apache/hadoop/hive/metastore/txn/TxnHandler.java``
  — open/commit/abort bookkeeping and the write-set conflict check that
  aborts the second of two overlapping concurrent updaters.
* ``ql/src/java/org/apache/hadoop/hive/ql/txn/compactor/Worker.java`` /
  ``Cleaner.java`` — minor compaction (fold deltas), major compaction
  (fold base+deltas into a new base), and retention of old directories
  while a live snapshot might still read them.

Layout at a table root::

    base_0/                       parquet rows (write_id 0 after create,
                                  write_id H after a major compaction)
    delta_<uuid>/rows/            inserted rows for one txn
    delta_<uuid>/tombstones/      deleted keys for one txn (key column)
    _txn_log.json                 atomic committed-txn list (os.replace)

Semantics are key-addressed (each ACID table declares a merge key, as
Hive's bucketed ACID tables carry ROW__ID):

* each committed txn gets a write_id (1-based, log order);
* UPDATE = tombstone(key) + insert(new row) in the same delta;
  DELETE = tombstone(key) only; INSERT = rows only;
* a snapshot read at high-watermark H sees: base rows (tagged with the
  base write_id) plus rows from committed deltas with write_id <= H,
  where a row survives iff no visible tombstone on the same key carries
  a STRICTLY higher write_id.  That is one distributed aggregate
  (max tombstone write_id per key) plus one join — no driver loops, and
  the tombstone side is broadcastable when deletes are dimension-sized.

Concurrency control is TxnHandler's optimistic write-set check: commit
raises :class:`WriteConflictError` iff a txn that committed AFTER this
txn's snapshot tombstoned an overlapping key (update-update and
update-delete conflicts).  Insert-only txns never conflict, matching
Hive.  Aborted txns never enter the log, so their staged delta dirs are
invisible to every reader until the cleaner removes them.

100 TB design: the log holds txn METADATA only (directory names and
write ids — KB-sized at any data scale); keys and rows live in parquet.
Reads are a single shuffle (or a broadcast when the tombstone set is
small); compactions are repartition rewrites (the same shape as
operators/maintenance.compact_parquet) that commit by atomic log swap,
never blocking concurrent readers on pinned snapshots.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType


class WriteConflictError(RuntimeError):
    """Optimistic-concurrency failure: a concurrent committed txn wrote
    an overlapping key (TxnHandler write-set conflict)."""


@dataclass(frozen=True)
class Snapshot:
    """Pinned view of the table: resolved directories, never re-reads
    the log — compaction/commits after the pin cannot change what this
    snapshot reads (ValidTxnList semantics)."""

    high_watermark: int
    base_dir: str
    base_write_id: int
    deltas: tuple[tuple[int, str], ...]  # (write_id, dir) committed <= hwm
    folded: frozenset[str]  # delta dirs written by compact_minor


@dataclass
class _Staged:
    """One open txn's staged writes (a not-yet-committed delta dir)."""

    dir: str
    has_rows: bool = False
    has_tombstones: bool = False


LOG = "_txn_log.json"


def _log_path(root: str) -> str:
    return os.path.join(root, LOG)


def _read_log(root: str) -> dict:
    with open(_log_path(root)) as f:
        return json.load(f)


def _folded(entries: list[dict]) -> frozenset[str]:
    """Dirs of the log entries a minor compaction wrote (their
    tombstones carry a per-key ``_twid`` column)."""
    return frozenset(e["dir"] for e in entries if "folded_range" in e)


def _write_log(root: str, log: dict) -> None:
    tmp = _log_path(root) + f".tmp.{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(log, f)
    os.replace(tmp, _log_path(root))  # atomic publish point


class _log_mutation:
    """Mutual exclusion for log read-modify-write sections (the role
    TxnHandler delegates to the metastore DB's transactions): an
    O_CREAT|O_EXCL lockfile with bounded retry.  Serializes concurrent
    commits and compactions on one filesystem; on HDFS/S3 deployments
    the same contract comes from the metastore service."""

    def __init__(self, root: str, timeout_s: float = 60.0):
        self.path = os.path.join(root, "_txn_log.lock")
        self.timeout_s = timeout_s

    def __enter__(self):
        import time

        deadline = time.monotonic() + self.timeout_s
        while True:
            try:
                fd = os.open(self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.close(fd)
                return self
            except FileExistsError:
                if time.monotonic() > deadline:
                    raise TimeoutError(f"txn log lock held too long: {self.path}")
                time.sleep(0.05)

    def __exit__(self, *exc):
        try:
            os.unlink(self.path)
        except FileNotFoundError:
            pass
        return False


class AcidTable:
    """A key-addressed MVCC table at ``root`` (see module docstring)."""

    def __init__(self, spark: SparkSession, root: str, key_col: str):
        self.spark = spark
        self.root = root
        self.key_col = key_col
        self._rows_schema = None  # see _schema

    def _schema(self) -> StructType:
        """The table's row schema.  Schema inference is a Spark job per
        call (it reads a parquet footer); an ACID scenario would pay it
        for the base and every delta on each read, for a schema that
        cannot change (deltas are written from ``read()`` output, major
        compaction rewrites the same columns).  ``create`` records it;
        a handle opened on an existing root infers it once from the
        base."""
        if self._rows_schema is None:
            base = _read_log(self.root)["base"]
            self._rows_schema = self.spark.read.parquet(
                os.path.join(self.root, base)
            ).schema
        return self._rows_schema

    def _read_rows(self, path: str) -> DataFrame:
        """Read a base/delta ``rows`` parquet dir with the table schema."""
        return self.spark.read.schema(self._schema()).parquet(path)

    # ---------------------------------------------------------- create
    @classmethod
    def create(
        cls, spark: SparkSession, root: str, df: DataFrame, key_col: str
    ) -> "AcidTable":
        """Initialize the table: write ``base_0`` and an empty log."""
        if os.path.exists(root):
            shutil.rmtree(root)
        os.makedirs(root)
        base = os.path.join(root, "base_0")
        df.write.mode("overwrite").parquet(base)
        _write_log(
            root,
            {
                "key_col": key_col,
                "base": "base_0",
                "base_write_id": 0,
                "next_write_id": 1,
                "committed": [],  # [{write_id, dir, has_tombstones}]
            },
        )
        table = cls(spark, root, key_col)
        # the written frame's schema as a parquet read reports it (every
        # column nullable), without reading a footer back
        table._rows_schema = spark.read.schema(df.schema).parquet(base).schema
        return table

    # --------------------------------------------------------- reading
    def snapshot(self) -> Snapshot:
        log = _read_log(self.root)
        deltas = tuple(
            (e["write_id"], e["dir"]) for e in log["committed"]
        )
        hwm = max([log["base_write_id"]] + [w for w, _ in deltas])
        return Snapshot(
            high_watermark=hwm,
            base_dir=log["base"],
            base_write_id=log["base_write_id"],
            deltas=deltas,
            folded=_folded(log["committed"]),
        )

    def snapshot_at(self, write_id: int) -> Snapshot:
        """Time-travel snapshot pinned at an EARLIER high watermark — a
        ValidTxnList whose high-water mark is ``write_id`` (AcidUtils
        getAcidState with an explicit ValidTxnList): reads see exactly
        the committed state after that transaction.  Only valid while
        the base predates the requested write id and no compaction has
        folded the needed deltas past it (the cleaner contract: pinned
        snapshots must be declared live to ``clean``)."""
        log = _read_log(self.root)
        if log["base_write_id"] > write_id:
            raise ValueError(
                f"base is at write_id {log['base_write_id']}, past {write_id} "
                "(major compaction folded the requested history)"
            )
        for e in log["committed"]:
            # A minor-compaction fold collapses deltas [lo, hi] into one
            # entry at hi: a snapshot pinned strictly inside the range
            # cannot be reconstructed — without this guard it would
            # silently drop the whole fold and return bare-base state.
            lo, hi = e.get("folded_range", (e["write_id"], e["write_id"]))
            if lo <= write_id < hi:
                raise ValueError(
                    f"write_id {write_id} falls inside minor-compaction "
                    f"fold [{lo}, {hi}] — that history is collapsed "
                    "(pin snapshots as live to clean() to prevent this)"
                )
        visible = [e for e in log["committed"] if e["write_id"] <= write_id]
        return Snapshot(
            high_watermark=write_id,
            base_dir=log["base"],
            base_write_id=log["base_write_id"],
            deltas=tuple((e["write_id"], e["dir"]) for e in visible),
            folded=_folded(visible),
        )

    def _read_tombstones(self, d: str, folded: bool) -> DataFrame:
        """Read a delta's tombstones: the key column, plus ``_twid`` in
        a folded delta."""
        fields = [self._schema()[self.key_col]]
        if folded:
            fields.append(StructField("_twid", IntegerType()))
        return self.spark.read.schema(StructType(fields)).parquet(
            os.path.join(self.root, d, "tombstones")
        )

    def _load_tombstones(self, d: str, wid: int, folded: bool) -> DataFrame:
        """Tombstones of one delta as (key, _twid).  Plain deltas carry
        just the key column (their write_id is the log entry's); FOLDED
        deltas persist a per-key ``_twid`` column so minor compaction
        never re-stamps historical deletes at the fold watermark — which
        would otherwise fabricate write-set conflicts for txns open
        across the compaction."""
        tt = self._read_tombstones(d, folded)
        if not folded:
            tt = tt.withColumn("_twid", F.lit(wid))
        return tt

    def read(self, snap: Snapshot | None = None) -> DataFrame:
        """Reconstruct the table at ``snap`` (default: latest commit).

        rows(write_id) = base ∪ delta inserts; survivors are rows with
        no same-key tombstone at a strictly higher visible write_id —
        one max-per-key aggregate + one join, fully distributed.
        """
        snap = snap or self.snapshot()
        k = self.key_col
        rows = self._read_rows(
            os.path.join(self.root, snap.base_dir)
        ).withColumn("_wid", F.lit(snap.base_write_id))
        tombs: DataFrame | None = None
        for wid, d in snap.deltas:
            rdir = os.path.join(self.root, d, "rows")
            tdir = os.path.join(self.root, d, "tombstones")
            if os.path.exists(rdir):
                rows = rows.unionByName(
                    self._read_rows(rdir).withColumn("_wid", F.lit(wid))
                )
            if os.path.exists(tdir):
                tt = self._load_tombstones(d, wid, d in snap.folded)
                tombs = tt if tombs is None else tombs.unionByName(tt)
        if tombs is None:
            return rows.drop("_wid")
        max_tomb = tombs.groupBy(k).agg(F.max("_twid").alias("_max_tomb"))
        return (
            rows.join(max_tomb, on=k, how="left")
            # >= : a same-write_id tombstone+row pair is an UPDATE — the
            # new row must survive its own tombstone; only STRICTLY later
            # tombstones kill a row
            .filter(F.col("_max_tomb").isNull() | (F.col("_wid") >= F.col("_max_tomb")))
            .drop("_wid", "_max_tomb")
        )

    # --------------------------------------------------------- writing
    def begin(self) -> "Txn":
        return Txn(self)

    def abort_open_transactions(self) -> int:
        """ABORT TRANSACTIONS (HiveParser abortTransactionStatement;
        DDLSemanticAnalyzer.analyzeAbortTxns → TxnHandler.abortTxns;
        dbtxnmgr .q family): administratively kill every open writer —
        each staging dir still carrying its ``_OPEN`` marker is removed,
        so the txn never enters the log and a later ``commit()`` on its
        handle fails loudly instead of logging a phantom delta.  Returns
        the number of transactions aborted."""
        n = 0
        for d in os.listdir(self.root):
            full = os.path.join(self.root, d)
            if os.path.isdir(full) and os.path.exists(os.path.join(full, "_OPEN")):
                shutil.rmtree(full, ignore_errors=True)
                n += 1
        return n

    # ------------------------------------------------------ compaction
    def compact_minor(self) -> None:
        """Fold ALL committed deltas into one (Worker.java minor
        compaction): folded tombstones = distinct deleted keys; folded
        rows = delta inserts that survive WITHIN the delta set.  Both
        land at the fold write_id H; base rows (write_id < H) are still
        killed by folded tombstones, while folded rows survive them
        (same write_id is not strictly higher) — delta-internal ordering
        is resolved at fold time, exactly like Hive's delta merge
        resolving per-row txn ids."""
        log = _read_log(self.root)
        if not log["committed"]:
            return
        snap = self.snapshot()
        k = self.key_col
        hwm = snap.high_watermark
        # The fold's covered write-id range: snapshots/CDF windows that
        # land INSIDE it can no longer be served (the per-event history
        # is collapsed) — record it so readers fail loudly instead of
        # silently returning the bare-base state.  A prior fold's range
        # is inherited so repeated minor compactions keep the full span.
        fold_lo = min(
            int(e.get("folded_range", [e["write_id"]])[0]) for e in log["committed"]
        )
        rows: DataFrame | None = None
        tombs: DataFrame | None = None
        for wid, d in snap.deltas:
            rdir = os.path.join(self.root, d, "rows")
            tdir = os.path.join(self.root, d, "tombstones")
            if os.path.exists(rdir):
                rr = self._read_rows(rdir).withColumn("_wid", F.lit(wid))
                rows = rr if rows is None else rows.unionByName(rr)
            if os.path.exists(tdir):
                tt = self._load_tombstones(d, wid, d in snap.folded)
                tombs = tt if tombs is None else tombs.unionByName(tt)
        folded = f"delta_{uuid.uuid4().hex}"
        fdir = os.path.join(self.root, folded)
        os.makedirs(fdir)
        wrote_rows = wrote_tombs = False
        if rows is not None:
            if tombs is not None:
                mx = tombs.groupBy(k).agg(F.max("_twid").alias("_mx"))
                rows = (
                    rows.join(mx, on=k, how="left")
                    .filter(F.col("_mx").isNull() | (F.col("_wid") >= F.col("_mx")))
                    .drop("_mx")
                )
            surv = rows.drop("_wid")
            surv.write.mode("overwrite").parquet(os.path.join(fdir, "rows"))
            wrote_rows = True
        if tombs is not None:
            # persist per-key original write ids (see _load_tombstones),
            # typed as _read_tombstones declares them
            tombs.groupBy(k).agg(F.max("_twid").cast("int").alias("_twid")).write.mode(
                "overwrite"
            ).parquet(os.path.join(fdir, "tombstones"))
            wrote_tombs = True
        if not (wrote_rows or wrote_tombs):
            shutil.rmtree(fdir)
            return
        with _log_mutation(self.root):
            # keep any commit that landed AFTER the compaction snapshot —
            # folding must never erase acknowledged transactions
            log = _read_log(self.root)
            log["committed"] = [
                {
                    "write_id": hwm,
                    "dir": folded,
                    "has_tombstones": wrote_tombs,
                    "folded_range": [fold_lo, hwm],
                }
            ] + [e for e in log["committed"] if e["write_id"] > hwm]
            _write_log(self.root, log)

    def maybe_compact(
        self,
        delta_num_threshold: int = 10,
        delta_pct_threshold: float = 0.1,
    ) -> str | None:
        """The Initiator's trigger policy (ql/.../txn/compactor/
        Initiator.java checkForCompaction: hive.compactor.delta.num.
        threshold default 10, hive.compactor.delta.pct.threshold default
        0.1): request MINOR when the number of committed deltas reaches
        ``delta_num_threshold``, MAJOR when the tombstone volume reaches
        ``delta_pct_threshold`` of the base rows (the size-ratio proxy —
        tombstoned rows are exactly the dead weight a major fold
        removes).  Returns the compaction kind run, or None.

        Like Hive's Initiator, the decision reads only metadata (the txn
        log) plus two cheap counts; the actual work is Worker.java's,
        i.e. compact_minor/compact_major."""
        log = _read_log(self.root)
        n_deltas = len(log["committed"])
        if n_deltas == 0:
            return None
        n_tomb_deltas = sum(1 for e in log["committed"] if e["has_tombstones"])
        if n_tomb_deltas:
            base_rows = self._read_rows(os.path.join(self.root, log["base"])).count()
            tomb_rows = 0
            for e in log["committed"]:
                if not e["has_tombstones"]:
                    continue
                tdir = os.path.join(self.root, e["dir"], "tombstones")
                if os.path.isdir(tdir):
                    tomb_rows += self._read_tombstones(e["dir"], "folded_range" in e).count()
            if base_rows and tomb_rows / base_rows >= delta_pct_threshold:
                self.compact_major()
                return "major"
        if n_deltas >= delta_num_threshold:
            self.compact_minor()
            return "minor"
        return None

    def compact_major(self) -> None:
        """Fold base+deltas into a new ``base_H`` (Worker.java major
        compaction): materialize the latest snapshot, write it as the
        new base at the current high-watermark, and clear the delta
        list.  Old dirs stay on disk for pinned snapshots until
        :meth:`clean` (Cleaner.java contract)."""
        snap = self.snapshot()
        hwm = snap.high_watermark
        new_base = f"base_{hwm}_{uuid.uuid4().hex[:8]}"
        self.read(snap).write.mode("overwrite").parquet(
            os.path.join(self.root, new_base)
        )
        with _log_mutation(self.root):
            log = _read_log(self.root)
            log["base"] = new_base
            log["base_write_id"] = hwm
            # commits that landed during the rewrite survive as deltas
            log["committed"] = [e for e in log["committed"] if e["write_id"] > hwm]
            _write_log(self.root, log)

    def show_txns(self) -> DataFrame:
        """SHOW TRANSACTIONS / SHOW COMPACTIONS introspection
        (DDLTask.showTxns / TxnHandler.getOpenTxnsInfo &
        TxnHandler.showCompact): a control-plane view of the txn log —
        the current base and its write id, every committed delta with
        its tombstone flag, the count of live open (staged, uncommitted)
        transactions, and the next write id the log will hand out.

        Driver-side by design, like the DESCRIBE/SHOW family: the log is
        metadata (bytes, not data) regardless of table size.

        Rows: (kind, write_id, has_tombstones, n) with NULLs where a
        field does not apply.
        """
        from pyspark.sql.types import (
            BooleanType,
            LongType,
            StringType,
            StructField,
            StructType,
        )

        log = _read_log(self.root)
        n_open = sum(
            1
            for name in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, name))
            and os.path.exists(os.path.join(self.root, name, "_OPEN"))
        )
        rows = [("base", log["base_write_id"], False, None)]
        rows += [
            ("committed_delta", e["write_id"], e["has_tombstones"], None)
            for e in log["committed"]
        ]
        rows.append(("open_txns", None, None, n_open))
        rows.append(("next_write_id", log["next_write_id"], None, None))
        schema = StructType(
            [
                StructField("kind", StringType()),
                StructField("write_id", LongType()),
                StructField("has_tombstones", BooleanType()),
                StructField("n", LongType()),
            ]
        )
        return self.spark.createDataFrame(
            [(k, None if w is None else int(w), h, None if n is None else int(n))
             for k, w, h, n in rows],
            schema,
        )

    def read_changes(
        self, from_wid: int, to_wid: int, include_rows: bool = False
    ) -> DataFrame:
        """Change-data-feed read over the committed write-id range
        [from_wid, to_wid]: one row per change event — ``insert`` rows
        carry the full record, ``delete`` rows the tombstoned key — with
        the write id that produced them.  An UPDATE surfaces as its
        delete+insert event pair, exactly the OrcRecordUpdater event
        stream (ql/.../io/orc/OrcRecordUpdater.java INSERT/DELETE
        operation codes) that Hive's ACID deltas record; the delta
        directories ARE the change log (AcidUtils.getAcidState deltas),
        so the feed is a plain distributed union of parquet reads — no
        table diff, no extra state.

        Returns (write_id, change, <key_col>) — the key-level feed a
        downstream incremental consumer keys on.  With
        ``include_rows=True`` insert events carry every table column
        (delete events null-fill them), which is what replica
        maintenance (q204) consumes.
        """
        log = _read_log(self.root)
        # uniform feed schema is the table's: delete events null-fill
        # every non-key column so a delete-only window still exposes the
        # full row shape to a replica consumer
        data_fields = [f for f in self._schema().fields if f.name != "_wid"]
        for e in log["committed"]:
            # A minor-compaction fold re-attributes every event inside
            # [lo, hi] to hi and collapses update delete+insert pairs —
            # any window that touches the range would return a feed that
            # never happened.  Fail loudly (Hive keeps per-row original
            # txn ids in delta_min_max dirs precisely so its CDF readers
            # do not hit this; our fold is lossy by design).
            lo, hi = e.get("folded_range", (e["write_id"], e["write_id"]))
            if lo < hi and from_wid <= hi and to_wid >= lo:
                raise ValueError(
                    f"change window [{from_wid}, {to_wid}] intersects "
                    f"minor-compaction fold [{lo}, {hi}] — per-event "
                    "history there is collapsed; consume the feed before "
                    "compacting or start the window after the fold"
                )
        frames = []
        for e in log["committed"]:
            if not from_wid <= e["write_id"] <= to_wid:
                continue
            rows_dir = os.path.join(self.root, e["dir"], "rows")
            ts_dir = os.path.join(self.root, e["dir"], "tombstones")
            if os.path.isdir(rows_dir):
                r = self._read_rows(rows_dir)
                cols = (
                    [F.col(f.name) for f in data_fields]
                    if include_rows
                    else [F.col(self.key_col)]
                )
                frames.append(
                    r.select(
                        F.lit(int(e["write_id"])).alias("write_id"),
                        F.lit("insert").alias("change"),
                        *cols,
                    )
                )
            if os.path.isdir(ts_dir):
                cols = (
                    [
                        F.col(f.name)
                        if f.name == self.key_col
                        else F.lit(None).cast(f.dataType).alias(f.name)
                        for f in data_fields
                    ]
                    if include_rows
                    else [F.col(self.key_col)]
                )
                frames.append(
                    self._read_tombstones(e["dir"], "folded_range" in e).select(
                        F.lit(int(e["write_id"])).alias("write_id"),
                        F.lit("delete").alias("change"),
                        *cols,
                    )
                )
        if not frames:
            # Empty-window fallback must match the non-empty schema
            # exactly (real key type from the base files; full data
            # columns when include_rows=True) or downstream unionByName
            # consumers break on the first quiet window.
            from pyspark.sql.types import IntegerType, StringType, StructField, StructType

            fields = [
                StructField("write_id", IntegerType(), False),
                StructField("change", StringType(), False),
            ]
            if include_rows:
                fields += [StructField(f.name, f.dataType) for f in data_fields]
            else:
                kf = next(f for f in data_fields if f.name == self.key_col)
                fields.append(StructField(kf.name, kf.dataType))
            return self.spark.createDataFrame([], StructType(fields))
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def clean(self, live_snapshots: list[Snapshot] | None = None) -> list[str]:
        """Remove directories no longer referenced by the current log
        NOR by any live pinned snapshot — folded deltas, superseded
        bases, and aborted staging dirs (Cleaner.java).  Returns the
        removed directory names."""
        log = _read_log(self.root)
        keep = {log["base"]} | {e["dir"] for e in log["committed"]}
        for s in live_snapshots or []:
            keep.add(s.base_dir)
            keep |= {d for _, d in s.deltas}
        removed = []
        for name in os.listdir(self.root):
            if name == LOG or name in keep:
                continue
            full = os.path.join(self.root, name)
            if not os.path.isdir(full):
                continue
            if os.path.exists(os.path.join(full, "_OPEN")):
                # a LIVE transaction's staging dir — not garbage.  Crashed
                # writers leave these forever; a production deployment
                # reaps them by age, as Hive's timeout-abort does.
                continue
            shutil.rmtree(full)
            removed.append(name)
        return removed


class Txn:
    """One open transaction: a pinned snapshot + a staged delta dir.
    All reads inside the txn see the snapshot taken at ``begin()``."""

    def __init__(self, table: AcidTable):
        self.table = table
        self.snap = table.snapshot()
        self._staged = _Staged(dir=f"delta_{uuid.uuid4().hex}")
        self._done = False
        # _OPEN marker: tells the cleaner this staging dir belongs to a
        # live txn (removed on commit; the whole dir goes away on abort)
        full = os.path.join(table.root, self._staged.dir)
        os.makedirs(full, exist_ok=True)
        open(os.path.join(full, "_OPEN"), "w").close()

    # reads-own-snapshot (not own writes — single-statement txns, like
    # Hive's per-query ACID statements sharing one ValidTxnList)
    def read(self) -> DataFrame:
        return self.table.read(self.snap)

    def _dir(self, sub: str) -> str:
        return os.path.join(self.table.root, self._staged.dir, sub)

    def insert(self, df: DataFrame) -> None:
        df.write.mode("append").parquet(self._dir("rows"))
        self._staged.has_rows = True

    def delete(self, cond: Column) -> None:
        keys = self.read().filter(cond).select(self.table.key_col)
        keys.write.mode("append").parquet(self._dir("tombstones"))
        self._staged.has_tombstones = True

    def update(self, cond: Column, assignments: dict[str, Column]) -> None:
        """UPDATE = tombstone(old) + insert(new) in this txn's delta
        (OrcRecordUpdater's delete+insert event pair).

        Round 14 (guide §5 — cut lineage that fans out): the matched set
        feeds TWO writes (tombstoned keys and new rows); without
        materialization each write re-executes the whole snapshot-read
        plan (base ∪ deltas + the tombstone max/join).  One
        localCheckpoint runs that plan once."""
        matched = self.read().filter(cond).localCheckpoint(eager=False)
        new_rows = matched
        for c, expr in assignments.items():
            new_rows = new_rows.withColumn(c, expr)
        matched.select(self.table.key_col).write.mode("append").parquet(
            self._dir("tombstones")
        )
        new_rows.write.mode("append").parquet(self._dir("rows"))
        self._staged.has_tombstones = True
        self._staged.has_rows = True

    def merge(
        self,
        source: DataFrame,
        when_matched_update: dict[str, Column] | None = None,
        when_matched_delete: Column | None = None,
        insert_unmatched: bool = True,
    ) -> None:
        """Transactional MERGE (HIVE-10924's ACID-table form, vs q160's
        copy-on-write rewrite): against THIS txn's snapshot,

        * matched target rows (key ∈ source) satisfying
          ``when_matched_delete`` are tombstoned;
        * other matched rows get ``when_matched_update`` assignments
          applied to the SOURCE-JOINED row (source columns accessible
          via the ``src_`` prefix) — tombstone + new row;
        * unmatched source rows insert as-is (columns must match the
          table schema).

        One inner join on the merge key + the delta writes — the same
        single-pass shape an ACID MERGE compiles to; commit-time
        conflict detection then covers the whole write set.

        Round 14 (guide §5): the snapshot read feeds the matched join,
        the unmatched anti-join, and both delta writes — localCheckpoint
        executes the base∪deltas reconstruction once instead of once per
        consumer."""
        k = self.table.key_col
        snap_df = self.read().localCheckpoint(eager=False)
        src = source
        for c in src.columns:
            if c != k:
                src = src.withColumnRenamed(c, f"src_{c}")
        matched = snap_df.join(src, on=k, how="inner")
        if when_matched_delete is not None:
            updated_in = matched.filter(~when_matched_delete)
        else:
            updated_in = matched
        new_rows = updated_in
        for c, expr in (when_matched_update or {}).items():
            new_rows = new_rows.withColumn(c, expr)
        new_rows = new_rows.select(*snap_df.columns)  # back to table schema
        # every matched key is tombstoned (update = delete+insert; delete = delete)
        matched.select(k).write.mode("append").parquet(self._dir("tombstones"))
        self._staged.has_tombstones = True
        out_rows = new_rows
        if insert_unmatched:
            unmatched = src.join(snap_df.select(k), on=k, how="left_anti")
            inserts = unmatched.select(
                F.col(k),
                *[
                    F.col(f"src_{c}").alias(c)
                    for c in snap_df.columns
                    if c != k
                ],
            )
            out_rows = out_rows.unionByName(inserts)
        # doomed rows need no action beyond their tombstone (already
        # covered by the all-matched-keys tombstone write above)
        out_rows.write.mode("append").parquet(self._dir("rows"))
        self._staged.has_rows = True

    def commit(self) -> int:
        """Optimistic commit: under the log lock, write-set check
        against txns committed after our snapshot, then atomic log
        append.  The lock serializes concurrent commits so two txns can
        never claim one write_id or overwrite each other's log entry
        (the role TxnHandler delegates to the metastore DB).  Insert-only
        txns skip the conflict check (they cannot conflict)."""
        if self._done:
            raise RuntimeError("txn already finished")
        root = self.table.root
        if not os.path.exists(os.path.join(root, self._staged.dir, "_OPEN")):
            # administratively killed (ABORT TRANSACTIONS) — the staged
            # dir is gone; committing now would log a phantom delta
            self._done = True
            raise RuntimeError(
                "transaction was aborted (ABORT TRANSACTIONS) before commit"
            )
        with _log_mutation(root):
            log = _read_log(root)
            if self._staged.has_tombstones:
                later = [
                    e
                    for e in log["committed"]
                    if e["write_id"] > self.snap.high_watermark
                    and e["has_tombstones"]
                ]
                if later:
                    mine = self.table._read_tombstones(  # noqa: SLF001
                        self._staged.dir, folded=False
                    )
                    theirs = None
                    for e in later:
                        # folded deltas carry per-key _twid: only deletes
                        # STRICTLY after our snapshot are conflicts
                        tt = self.table._load_tombstones(  # noqa: SLF001
                            e["dir"], e["write_id"], "folded_range" in e
                        ).filter(F.col("_twid") > self.snap.high_watermark).select(
                            self.table.key_col
                        )
                        theirs = tt if theirs is None else theirs.unionByName(tt)
                    n = mine.join(
                        theirs, on=self.table.key_col, how="left_semi"
                    ).count()
                    if n > 0:
                        self.abort()
                        raise WriteConflictError(
                            f"{n} overlapping key(s) written by a concurrent txn"
                        )
            wid = log["next_write_id"]
            log["next_write_id"] = wid + 1
            log["committed"].append(
                {
                    "write_id": wid,
                    "dir": self._staged.dir,
                    "has_tombstones": self._staged.has_tombstones,
                }
            )
            _write_log(root, log)
        try:
            os.unlink(os.path.join(root, self._staged.dir, "_OPEN"))
        except FileNotFoundError:
            pass
        self._done = True
        return wid

    def abort(self) -> None:
        """Never enters the log → invisible to all readers; the staged
        dir is removed outright (a crashed writer's dir is instead left
        with its _OPEN marker for an age-based reaper)."""
        shutil.rmtree(os.path.join(self.table.root, self._staged.dir), ignore_errors=True)
        self._done = True


class LockConflictError(RuntimeError):
    """Raised when a lock request stays blocked past its timeout (the
    fail-fast form of DbLockManager's WAITING state)."""


#: Hive 2.1 DbTxnManager compatibility matrix (TxnHandler.jumpTable /
#: LockType SHARED_READ < SHARED_WRITE < EXCLUSIVE): shared-read
#: coexists with everything but EXCLUSIVE; shared-write coexists with
#: shared locks (write-write conflicts resolve at COMMIT via the
#: write-set check, not at lock time); EXCLUSIVE coexists with nothing.
_COMPATIBLE = {
    ("shared_read", "shared_read"): True,
    ("shared_read", "shared_write"): True,
    ("shared_read", "exclusive"): False,
    ("shared_write", "shared_read"): True,
    ("shared_write", "shared_write"): True,
    ("shared_write", "exclusive"): False,
    ("exclusive", "shared_read"): False,
    ("exclusive", "shared_write"): False,
    ("exclusive", "exclusive"): False,
}

_LOCKS = "_locks.json"


class LockManager:
    """Table-level lock surface of the DbTxnManager
    (metastore/.../txn/TxnHandler.java lock/checkLock/unlock + the
    HIVE_LOCKS table; DDLTask.showLocks): SHARED_READ for readers,
    SHARED_WRITE for ACID writers, EXCLUSIVE for DDL/compaction.

    State lives in ``_locks.json`` beside the txn log, mutated under the
    same lockfile mutex (the role the metastore DB plays in Hive); lock
    requests that stay incompatible past ``timeout_s`` raise
    :class:`LockConflictError` (Hive parks them in WAITING and retries —
    same contract, bounded).  The lock table is metadata: KB-sized at
    any data scale, read driver-side like SHOW TRANSACTIONS.
    """

    def __init__(self, table: AcidTable):
        self.table = table
        self.root = table.root
        path = os.path.join(self.root, _LOCKS)
        if not os.path.exists(path):
            with _log_mutation(self.root):
                if not os.path.exists(path):
                    tmp = path + f".tmp.{uuid.uuid4().hex}"
                    with open(tmp, "w") as f:
                        json.dump({"next_lock_id": 1, "locks": []}, f)
                    os.replace(tmp, path)

    def _read(self) -> dict:
        with open(os.path.join(self.root, _LOCKS)) as f:
            return json.load(f)

    def _write(self, state: dict) -> None:
        path = os.path.join(self.root, _LOCKS)
        tmp = path + f".tmp.{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, path)

    def acquire(
        self, kind: str, owner: str, timeout_s: float = 0.5
    ) -> int:
        """Acquire a table lock; returns the lock id.  Retries until
        ``timeout_s`` then raises LockConflictError, mirroring
        DbLockManager's WAITING → retry loop with a deadline."""
        import time

        if kind not in ("shared_read", "shared_write", "exclusive"):
            raise ValueError(f"unknown lock kind: {kind}")
        deadline = time.monotonic() + timeout_s
        while True:
            with _log_mutation(self.root):
                state = self._read()
                held = state["locks"]
                if all(_COMPATIBLE[(h["kind"], kind)] for h in held):
                    lock_id = state["next_lock_id"]
                    state["next_lock_id"] = lock_id + 1
                    held.append(
                        {"lock_id": lock_id, "kind": kind, "owner": owner}
                    )
                    self._write(state)
                    return lock_id
            if time.monotonic() > deadline:
                holders = ",".join(
                    f"{h['owner']}:{h['kind']}" for h in self._read()["locks"]
                )
                raise LockConflictError(
                    f"{kind} lock for {owner} blocked by [{holders}]"
                )
            time.sleep(0.05)

    def release(self, lock_id: int) -> None:
        with _log_mutation(self.root):
            state = self._read()
            state["locks"] = [
                h for h in state["locks"] if h["lock_id"] != lock_id
            ]
            self._write(state)

    def show_locks(self) -> DataFrame:
        """SHOW LOCKS (DDLTask.showLocks over TxnHandler's HIVE_LOCKS):
        (lock_id, kind, owner, state) — held locks are ACQUIRED; the
        fail-fast acquire never parks WAITING rows."""
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("lock_id", LongType()),
                StructField("kind", StringType()),
                StructField("owner", StringType()),
                StructField("state", StringType()),
            ]
        )
        rows = [
            (int(h["lock_id"]), h["kind"], h["owner"], "ACQUIRED")
            for h in self._read()["locks"]
        ]
        return self.table.spark.createDataFrame(rows, schema)
