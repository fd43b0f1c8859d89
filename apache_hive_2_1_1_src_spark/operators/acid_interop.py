"""Hive ACID on-disk interop: export an :class:`AcidTable`'s full
history in the reference's ORC-ACID directory layout, and read such a
layout back with the reference's merge semantics.

Reference contracts being reproduced byte-for-name:

* ``ql/src/java/org/apache/hadoop/hive/ql/io/AcidUtils.java:56-146`` —
  ``base_%07d`` / ``delta_%07d_%07d`` directory naming,
  ``bucket_%05d`` file naming, best-base + later-deltas selection
  (getAcidState).
* ``ql/src/java/org/apache/hadoop/hive/ql/io/orc/OrcRecordUpdater.java
  :64-178`` — the event schema every ACID file carries:
  ``struct<operation:int, originalTransaction:bigint, bucket:int,
  rowId:bigint, currentTransaction:bigint, row:struct<...>>`` with
  operation codes INSERT=0 / UPDATE=1 / DELETE=2, and per-file
  monotonically increasing rowIds.
* ``OrcRawRecordMerger.java`` — visibility: events merge per
  (originalTransaction, bucket, rowId); the event with the highest
  currentTransaction wins; a DELETE event removes the row.

Documented divergence (honest, by design): operators/acid.py models an
UPDATE as tombstone + re-insert, so the export emits a DELETE event on
the old row version plus an INSERT event with a fresh rowId — the ACID
v2 representation (HIVE-14035's split-update) rather than 2.1's
in-place operation=1 event.  Under the merger's per-triple latest-event
rule both representations produce the identical visible state, which
the round-trip tests pin.  Files are written as ORC (Hive's ACID
format); a single bucket (bucket_00000) is emitted — multi-bucket
export would compose with operators/bucketing.hive_bucket_id.

Scale: the export is per-delta ``coalesce(1)`` writes (Hive's own
contract is one file per bucket per delta — file count is bucket count,
not data size; at 100 TB you raise the bucket count).  Delete-event
resolution is one join + one window over the row-event registry — all
distributed, no driver materialization.
"""

from __future__ import annotations

import glob
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_hive_2_1_1_src_spark.operators.acid import AcidTable, _read_log

INSERT_OPERATION = 0  # OrcRecordUpdater.java:64
UPDATE_OPERATION = 1  # OrcRecordUpdater.java:65 (not emitted; see module doc)
DELETE_OPERATION = 2  # OrcRecordUpdater.java:66

_BASE_RE = re.compile(r"^base_(\d{7})$")
_DELTA_RE = re.compile(r"^delta_(\d{7})_(\d{7})$")
_BUCKET_RE = re.compile(r"^bucket_(\d{5})$")


def base_dir_name(txn: int) -> str:
    """AcidUtils.baseDir: ``base_%07d``."""
    return f"base_{txn:07d}"


def delta_dir_name(lo: int, hi: int) -> str:
    """AcidUtils.deltaSubdir: ``delta_%07d_%07d``."""
    return f"delta_{lo:07d}_{hi:07d}"


def bucket_file_name(b: int) -> str:
    """AcidUtils.createFilename bucket part: ``bucket_%05d``."""
    return f"bucket_{b:05d}"


def _write_buckets(events: DataFrame, dir_path: str, num_buckets: int) -> None:
    """``bucket_%05d`` ORC files, one per touched bucket, each sorted by
    (originalTransaction, rowId) — the order Hive's merger expects
    inside a file (OrcRawRecordMerger key order).  Hive's
    OrcRecordUpdater only creates files for buckets a delta touched, so
    absent buckets are legal and skipped.  One shuffle on the bucket id;
    the staging-partition rename is metadata-only."""
    staging = dir_path + ".__staging__"
    os.makedirs(dir_path, exist_ok=True)
    if num_buckets == 1:
        (
            events.orderBy("originalTransaction", "bucket", "rowId")
            .coalesce(1)
            .write.mode("overwrite")
            .format("orc")
            .save(staging)
        )
        part = glob.glob(os.path.join(staging, "part-*.orc"))[0]
        shutil.move(part, os.path.join(dir_path, bucket_file_name(0)))
    else:
        (
            events.withColumn("_pb", F.col("bucket"))
            .repartition(num_buckets, "_pb")
            .sortWithinPartitions("_pb", "originalTransaction", "rowId")
            .write.partitionBy("_pb")
            .mode("overwrite")
            .format("orc")
            .save(staging)
        )
        for b in range(num_buckets):
            parts = glob.glob(os.path.join(staging, f"_pb={b}", "part-*.orc"))
            if len(parts) > 1:
                raise RuntimeError(f"bucket {b} split across {len(parts)} files")
            if parts:
                shutil.move(parts[0], os.path.join(dir_path, bucket_file_name(b)))
    shutil.rmtree(staging, ignore_errors=True)


def _as_events(
    rows: DataFrame,
    data_cols: list[str],
    op: int,
    otid_col,
    rowid_col,
    ctid_col,
    row_type: str,
    bucket_col=None,
    null_row: bool = False,
) -> DataFrame:
    # DELETE events carry no row data.  Hive writes row=null there
    # (OrcRecordUpdater addEvent with null row); we write a PRESENT
    # struct with every field null instead — semantically equivalent
    # (OrcRawRecordMerger never reads a delete event's row), and it
    # sidesteps a Spark vectorized-ORC-reader ArrayIndexOutOfBounds on
    # files whose struct column is null in every row.
    if null_row:
        row_struct = F.struct(
            *[F.lit(None).alias(c) for c in data_cols]
        ).cast(row_type)
    else:
        row_struct = F.struct(*[F.col(c) for c in data_cols]).cast(row_type)
    if bucket_col is None:
        bucket_col = F.lit(0)
    return rows.select(
        F.lit(op).cast("int").alias("operation"),
        otid_col.cast("long").alias("originalTransaction"),
        bucket_col.cast("int").alias("bucket"),
        rowid_col.cast("long").alias("rowId"),
        ctid_col.cast("long").alias("currentTransaction"),
        row_struct.alias("row"),
    )


def export_hive_acid(table: AcidTable, dest: str, num_buckets: int = 1) -> None:
    """Write ``table``'s base + committed deltas at ``dest`` in the Hive
    ACID ORC layout.  Folded (minor-compacted) deltas export as their
    covered range ``delta_lo_hi`` with each event stamped at its
    original write id — exactly what Hive's minor compaction emits.

    With ``num_buckets`` > 1 every event routes to the bucket Hive's own
    key hash picks (ObjectInspectorUtils.getBucketNumber via
    operators/bucketing.hive_bucket_id), each delta writes one
    ``bucket_%05d`` file per touched bucket, and rowIds are dense per
    bucket — the layout Hive's bucketed transactional tables carry, and
    the knob that makes export parallelism scale (file count and rowId
    windows are per bucket, not global)."""
    spark = table.spark
    k = table.key_col
    log = _read_log(table.root)
    if os.path.exists(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)

    base = spark.read.parquet(os.path.join(table.root, log["base"]))
    data_cols = [c for c in base.columns if c != "_wid"]
    row_type = (
        "struct<"
        + ",".join(
            f"{c}:{base.schema[c].dataType.simpleString()}" for c in data_cols
        )
        + ">"
    )
    base_wid = int(log["base_write_id"])

    def bucket_of(df: DataFrame):
        if num_buckets == 1:
            return F.lit(0)
        from apache_hive_2_1_1_src_spark.operators.bucketing import hive_bucket_id

        return hive_bucket_id(df, [k], num_buckets)

    # rowIds are dense PER BUCKET (OrcRecordUpdater numbers rows within
    # its bucket file) — with num_buckets > 1 the window partitions on
    # the bucket id, so assignment parallelizes with the bucket count
    def with_rid(df: DataFrame) -> DataFrame:
        df = df.withColumn("_b", bucket_of(df))
        return df.withColumn(
            "_rid", F.row_number().over(Window.partitionBy("_b").orderBy(k)) - 1
        )

    base_rows = with_rid(base)
    _write_buckets(
        _as_events(
            base_rows,
            data_cols,
            INSERT_OPERATION,
            F.lit(base_wid),
            F.col("_rid"),
            F.lit(base_wid),
            row_type,
            bucket_col=F.col("_b"),
        ),
        os.path.join(dest, base_dir_name(base_wid)),
        num_buckets,
    )

    # row-event registry (key, bucket, otid, rowId) — resolves each
    # tombstone to the concrete row version it kills
    registry = base_rows.select(
        F.col(k).alias("_k"), F.col("_b"), F.lit(base_wid).alias("_otid"), F.col("_rid")
    )

    for e in log["committed"]:
        wid = int(e["write_id"])
        lo, hi = e.get("folded_range", (wid, wid))
        rdir = os.path.join(table.root, e["dir"], "rows")
        tdir = os.path.join(table.root, e["dir"], "tombstones")
        parts = []
        ins_reg = None
        if os.path.exists(rdir):
            rows = spark.read.parquet(rdir)
            has_wid = "_wid" in rows.columns
            otid = F.col("_wid") if has_wid else F.lit(wid)
            rows = with_rid(rows)
            parts.append(
                _as_events(
                    rows, data_cols, INSERT_OPERATION, otid, F.col("_rid"), otid,
                    row_type, bucket_col=F.col("_b"),
                )
            )
            ins_reg = rows.select(
                F.col(k).alias("_k"), F.col("_b"),
                otid.cast("long").alias("_otid"), F.col("_rid")
            )
        if os.path.exists(tdir):
            tt = table._load_tombstones(e["dir"], wid, "folded_range" in e)  # (key, _twid)
            # victim = latest registered row version strictly older than
            # the tombstone's write id (same-wid re-insert survives)
            cand = tt.alias("t").join(
                registry.alias("g"), F.col("t." + k) == F.col("g._k")
            ).filter(F.col("g._otid") < F.col("t._twid"))
            w_last = Window.partitionBy("t." + k, "t._twid").orderBy(
                F.desc("g._otid"), F.desc("g._rid")
            )
            victims = (
                cand.withColumn("_rn", F.row_number().over(w_last))
                .filter(F.col("_rn") == 1)
                .select(
                    F.col("g._otid").alias("_votid"),
                    F.col("g._b").alias("_vb"),
                    F.col("g._rid").alias("_vrid"),
                    F.col("t._twid").alias("_ctid"),
                )
            )
            parts.append(
                _as_events(
                    victims,
                    data_cols,
                    DELETE_OPERATION,
                    F.col("_votid"),
                    F.col("_vrid"),
                    F.col("_ctid"),
                    row_type,
                    bucket_col=F.col("_vb"),
                    null_row=True,
                )
            )
        if not parts:
            continue
        events = parts[0]
        for p in parts[1:]:
            events = events.unionByName(p)
        _write_buckets(events, os.path.join(dest, delta_dir_name(lo, hi)), num_buckets)
        if ins_reg is not None:
            registry = registry.unionByName(ins_reg)


def read_hive_acid(
    spark: SparkSession, path: str, valid_until: int | None = None
) -> DataFrame:
    """Read a Hive ACID ORC directory tree with getAcidState selection
    (best base ≤ watermark, deltas above it) and OrcRawRecordMerger
    visibility (per-triple latest event wins; DELETE removes).  With
    ``valid_until`` events after that transaction are invisible — the
    ValidTxnList time-travel contract."""
    names = sorted(os.listdir(path))
    bases = [
        (int(m.group(1)), n)
        for n in names
        if (m := _BASE_RE.match(n))
        and (valid_until is None or int(m.group(1)) <= valid_until)
    ]
    all_bases = [n for n in names if _BASE_RE.match(n)]
    if all_bases and not bases:
        raise ValueError(
            f"no base at or below transaction {valid_until} — that history "
            "was folded by compaction (AcidUtils getAcidState contract)"
        )
    base_wid, base_name = max(bases) if bases else (-1, None)
    deltas = [
        n
        for n in names
        if (m := _DELTA_RE.match(n)) and int(m.group(2)) > base_wid
    ]
    # load bucket FILES explicitly (Hive names carry no .orc extension;
    # Spark's directory listing + vectorized reader mishandles
    # extensionless struct-bearing files, while direct file paths read
    # correctly at any size)
    def _bucket_files(d: str) -> list[str]:
        return [
            os.path.join(path, d, f)
            for f in sorted(os.listdir(os.path.join(path, d)))
            if _BUCKET_RE.match(f)
        ]

    frames = []
    if base_name:
        frames.append(spark.read.format("orc").load(_bucket_files(base_name)))
    for d in deltas:
        frames.append(spark.read.format("orc").load(_bucket_files(d)))
    if not frames:
        raise ValueError(f"no ACID base/delta directories under {path}")
    events = frames[0]
    for fr in frames[1:]:
        events = events.unionByName(fr)
    # Column-pruned / zero-column scans of these files trip an
    # ArrayIndexOutOfBounds in the ORC StructBatchReader (full-schema
    # scans read fine at any size).  The Arrow identity pass is a
    # pruning barrier: the scan always materializes the full event
    # schema, batches stay on the executors, nothing is collected.
    events = events.mapInArrow(lambda batches: batches, events.schema)
    if valid_until is not None:
        events = events.filter(F.col("currentTransaction") <= valid_until)
    w = Window.partitionBy("originalTransaction", "bucket", "rowId").orderBy(
        F.desc("currentTransaction"),
        # a DELETE at the same transaction outranks the INSERT it kills
        F.desc("operation"),
    )
    latest = (
        events.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") == 1) & (F.col("operation") != DELETE_OPERATION))
    )
    return latest.select("row.*")
