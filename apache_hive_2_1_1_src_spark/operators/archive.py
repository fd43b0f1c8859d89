"""ALTER TABLE ... ARCHIVE / UNARCHIVE PARTITION equivalent.

Reference: ql/src/java/org/apache/hadoop/hive/ql/exec/DDLTask.java
(archive/unarchive; ArchiveUtils.java) — Hive coalesces a partition's
many small files into ONE Hadoop Archive (HAR) container to relieve
NameNode pressure, flips the partition's location to point inside the
archive, keeps the data fully readable, refuses to archive twice
(ErrorMsg.ARCHIVE_ON_ARCHIVED / "Partition ... is already archived"),
and UNARCHIVE restores the original layout.  Exercised by
clientpositive/archive_excludeHadoop20.q and the clientnegative
archive_* family.

Spark-first re-expression: the container is a STORED (uncompressed) zip
holding the partition's parquet files — like HAR, a pure aggregation
layer, not a compression codec.  The archive/unarchive operations are
per-partition filesystem ops (Hive launches a copy job for the same
step; at cluster scale this op would be one distributed copy per
partition — the hot path is READ, not archival).  The read path is the
scale-critical half and stays distributed: ``binaryFile`` lists/ships
each container to an executor and a ``mapInArrow`` kernel iterates the
inner parquet members as Arrow batches — one task per container,
parallelism = number of archived partitions, exactly HAR's read
granularity (a HAR part-file is also consumed whole).
"""

from __future__ import annotations

import io
import os
import zipfile
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from apache_hive_2_1_1_src_spark.sqltext import parse_partition_path

ARCHIVE_NAME = "data.har.zip"

#: files the FileSink leaves behind that carry no row data
_NON_DATA = ("_SUCCESS", "_committed", "_started", ".crc")


def _data_files(part_dir: str) -> list[str]:
    return sorted(
        f
        for f in os.listdir(part_dir)
        if not f.startswith(".")
        and not any(f.startswith(p) or f.endswith(p) for p in _NON_DATA)
        and f != ARCHIVE_NAME
    )


def is_archived(part_dir: str) -> bool:
    return os.path.exists(os.path.join(part_dir, ARCHIVE_NAME))


def archive_partition(part_dir: str) -> int:
    """DDLTask.archive: pack the partition's data files into one
    container and remove the originals.  Raises on an already-archived
    partition, mirroring ErrorMsg.ARCHIVE_ON_ARCHIVED."""
    if is_archived(part_dir):
        raise ValueError(f"Partition {part_dir} is already archived")
    files = _data_files(part_dir)
    if not files:
        raise ValueError(f"Partition {part_dir} has no data files to archive")
    target = os.path.join(part_dir, ARCHIVE_NAME)
    # ZIP_STORED: HAR is an aggregation container, not a codec
    with zipfile.ZipFile(target, "w", compression=zipfile.ZIP_STORED) as zf:
        for f in files:
            zf.write(os.path.join(part_dir, f), arcname=f)
    for f in files:
        os.remove(os.path.join(part_dir, f))
    return len(files)


def unarchive_partition(part_dir: str) -> int:
    """DDLTask.unarchive: restore the original file layout and drop the
    container.  Raises when the partition is not archived
    (ErrorMsg.UNARCHIVE_ON_UNARCHIVED)."""
    target = os.path.join(part_dir, ARCHIVE_NAME)
    if not os.path.exists(target):
        raise ValueError(f"Partition {part_dir} is not archived")
    with zipfile.ZipFile(target) as zf:
        names = zf.namelist()
        zf.extractall(part_dir)
    os.remove(target)
    return len(names)


def read_archived(spark: SparkSession, path: str) -> DataFrame:
    """Distributed read of archived partitions under ``path``: binaryFile
    lists the containers (one per archived partition), each executor
    task unpacks its container's parquet members via pyarrow and emits
    Arrow batches — the HiveInputFormat-over-HAR equivalent."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    # schema from the first container's first member (driver-side footer
    # read — the same way Spark's parquet source infers from one footer)
    first = None
    for root, _dirs, files in sorted(os.walk(path)):
        if ARCHIVE_NAME in files:
            first = os.path.join(root, ARCHIVE_NAME)
            break
    if first is None:
        raise FileNotFoundError(f"no {ARCHIVE_NAME} under {path}")
    with zipfile.ZipFile(first) as zf:
        member = next(n for n in zf.namelist() if n.endswith(".parquet"))
        arrow_schema = pq.read_schema(io.BytesIO(zf.read(member)))

    def unpack(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            for content in batch.column("content"):
                with zipfile.ZipFile(io.BytesIO(content.as_py())) as zf:
                    for name in sorted(zf.namelist()):
                        if not name.endswith(".parquet"):
                            continue
                        tbl = pq.read_table(io.BytesIO(zf.read(name)))
                        yield from tbl.cast(arrow_schema).to_batches()

    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", ARCHIVE_NAME)
        .option("recursiveFileLookup", "true")
        .load(path)
    )
    from pyspark.sql.pandas.types import from_arrow_schema

    return files.select("content").mapInArrow(
        unpack, from_arrow_schema(arrow_schema)
    )


def read_mixed_partitioned(
    spark: SparkSession, table_dir: str, partition_col: str
) -> DataFrame:
    """Read a dir-per-value partitioned table in which SOME partitions
    are archived: live partitions through the native parquet source
    (pruning and pushdown intact), archived ones through the container
    kernel, unioned by name — the reader a user gets after archiving
    cold partitions while hot ones stay loose."""
    from pyspark.sql import functions as F

    live_parts, archived_parts = [], []
    for d in sorted(os.listdir(table_dir)):
        full = os.path.join(table_dir, d)
        if not os.path.isdir(full) or "=" not in d:
            continue
        (archived_parts if is_archived(full) else live_parts).append((d, full))
    pieces = []
    if live_parts:
        pieces.append(
            spark.read.option("basePath", table_dir).parquet(
                *[p for _, p in live_parts]
            )
        )
    for d, full in archived_parts:
        value = parse_partition_path(d)[0][1]
        pieces.append(
            read_archived(spark, full).withColumn(partition_col, F.lit(value))
        )
    if not pieces:
        raise FileNotFoundError(f"no partitions under {table_dir}")
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out
