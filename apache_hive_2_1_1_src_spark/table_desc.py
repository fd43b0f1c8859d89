"""Per-table Hive metadata the Spark catalog cannot hold.

Hive's metastore keeps one record per table: Table → StorageDescriptor →
SerDeInfo (metastore/if/hive_metastore.thrift:294/278/258).  The engine
stores every table as parquet or ORC, so the serde facts a Hive table was
declared with (delimiters, null token, charset, RegexSerDe pattern, …) and
the read-side shims that emulate Hive's schema-on-read live here, in one
``TableDesc`` per table.

``TableStore`` keys the descriptors by the resolved ``(db, table)``:
backticks stripped, lowercased, the database taken from the qualifier or
else from the session's current database.  DDL owns the lifecycle, the
way a metastore call does: a CREATE that ran replaces the whole record,
DROP deletes it, RENAME moves it to the new key.

What Spark's catalog does hold — columns and their declared types,
partition keys, location, bucketing, ANALYZE row count — is read with
``catalog_entry``, one lookup per call and never cached: DDL changes the
catalog under every statement.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.types import StructField, StructType

from apache_hive_2_1_1_src_spark.sqltext import partition_path


@dataclass
class TableDesc:
    """One table's declared storage facts and read-side shims.  Field
    defaults are Hive's LazySimpleSerDe defaults (serde2/lazy/
    LazySerDeParameters.java); ``fmt`` None means no STORED AS format was
    declared, which is distinct from every format."""

    #: declared STORED AS format (``orc``, ``textfile``, …) or None
    fmt: str | None = None
    field_delim: str = "\x01"
    #: (collection items, map keys) terminators
    coll_delims: tuple[str, str] = ("\x02", "\x03")
    #: serialization.null.format / NULL DEFINED AS
    null_format: str = "\\N"
    #: serialization.encoding
    encoding: str = "UTF-8"
    #: RegexSerDe input.regex: one capture group per column
    regex: str | None = None
    #: TCTLSeparatedProtocol (field.delim, quote chars, null token)
    tctl: tuple[str, str, str] | None = None
    #: (skip.header.line.count, skip.footer.line.count) when declared
    skips: tuple[int, int] | None = None
    #: Avro reader schema (avro.schema.literal / avro.schema.url)
    avro_schema: dict | None = None
    #: text LOADs as (path, partition spec), replayed when a SET changes
    #: how LazySimpleSerDe parses the same bytes
    text_loads: list[tuple[str, str | None]] = field(default_factory=list)
    #: column → {micro-precision text: nano-precision text}
    ts_nano: dict[str, dict[str, str]] = field(default_factory=dict)
    #: column → read-side SQL expression (char/varchar length policies,
    #: nano-timestamp display, escape.crlf, columns added after frozen
    #: partitions)
    display_casts: dict[str, str] = field(default_factory=dict)
    #: column → read-side shift for ORC timestamps loaded in a non-UTC zone
    orc_wall_masks: dict[str, str] = field(default_factory=dict)
    #: partition column → mask restoring the __HIVE_DEFAULT_PARTITION__ text
    default_part_masks: dict[str, str] = field(default_factory=dict)
    #: partitions that predate a non-CASCADE retype: pcols, parts, old types
    part_frozen: dict | None = None
    #: raw-text snapshot of a partitioned TEXT table (schema-on-read)
    sor: dict | None = None
    #: typed snapshot of a parquet table (metadata-only column DDL)
    pq_snap: dict | None = None

    @property
    def is_orc(self) -> bool:
        return self.fmt in ("orc", "orcfile")

    @property
    def is_parquet(self) -> bool:
        return self.fmt in ("parquet", "parquetfile")

    def read_masks(self, user_policy: bool) -> dict[str, str]:
        """Column masks every read of the table goes through, lowest
        precedence first: default-partition text, ORC wall-clock shift,
        then the display casts — which a user masking policy on the same
        table replaces."""
        masks = {**self.default_part_masks, **self.orc_wall_masks}
        if not user_policy:
            masks.update(self.display_casts)
        return masks


class TableStore:
    """All descriptors, keyed by resolved ``(db, table)``.

    ``pending`` is the running statement's effect on the store: a CREATE
    stages ``(name, TableDesc)``, a DROP stages ``(name, None)``.
    ``HiveEngine.sql`` settles it only when the statement succeeded, so a
    failed CREATE, or ``IF NOT EXISTS`` over an existing table, leaves the
    record alone.
    """

    def __init__(self, current_db: Callable[[], str]):
        self._descs: dict[tuple[str, str], TableDesc] = {}
        self._current_db = current_db
        self.pending: tuple[str, TableDesc | None] | None = None

    def key(self, name: str) -> tuple[str, str]:
        db, _, table = name.replace("`", "").lower().rpartition(".")
        return (db or self._current_db().lower(), table)

    def read(self, name: str) -> TableDesc:
        """The stored descriptor, or a fresh default one that is not
        stored (so writes to it are lost — use ``edit``)."""
        desc = self._descs.get(self.key(name)) if self._descs else None
        return desc or TableDesc()

    def edit(self, name: str) -> TableDesc:
        """The stored descriptor, created with defaults when absent."""
        return self._descs.setdefault(self.key(name), TableDesc())

    def settle(self) -> None:
        name, desc = self.pending
        if desc is None:
            self._descs.pop(self.key(name), None)
        else:
            self._descs[self.key(name)] = desc

    def rename(self, src: str, dst: str) -> None:
        """Move the record to the new key; a stale record left under the
        new name (its table dropped outside ``sql``) goes."""
        desc = self._descs.pop(self.key(src), None)
        if desc is None:
            self._descs.pop(self.key(dst), None)
        else:
            self._descs[self.key(dst)] = desc

    def clear(self) -> None:
        self._descs.clear()

    def items(self) -> Iterator[tuple[tuple[str, str], TableDesc]]:
        return iter(list(self._descs.items()))


@dataclass(frozen=True)
class CatalogEntry:
    """One table's or view's entry in Spark's session catalog — the
    metastore ``Table`` facts: schema, partition keys, location,
    bucketing and the ANALYZE row count."""

    #: every column as a read of the table sees it (partition keys last);
    #: char(n)/varchar(n) columns are strings carrying their declared type
    schema: StructType
    #: column name, lowercased → declared Hive type: ``char(n)`` /
    #: ``varchar(n)`` as declared, otherwise the Spark ``simpleString``
    types: dict[str, str]
    #: partition keys, spelled as declared
    partition_cols: list[str]
    #: the table directory as a local path; None for a view
    location: str | None
    #: MANAGED, EXTERNAL or VIEW
    table_type: str
    #: (number of buckets, bucket columns, sort columns)
    bucket_spec: tuple[int, list[str], list[str]] | None
    #: numRows recorded by ANALYZE ... COMPUTE STATISTICS
    row_count: int | None
    #: TBLPROPERTIES as stored
    properties: dict[str, str]

    @property
    def pcols(self) -> set[str]:
        """The partition keys, lowercased."""
        return {c.lower() for c in self.partition_cols}

    @property
    def data_fields(self) -> list[StructField]:
        """The schema's fields that are not partition keys."""
        pcols = self.pcols
        return [f for f in self.schema.fields if f.name.lower() not in pcols]

    @property
    def data_cols(self) -> list[tuple[str, str]]:
        """(name, declared Hive type) of each column that is not a
        partition key."""
        return [(f.name, self.types[f.name.lower()]) for f in self.data_fields]

    def partition_dir(self, pairs) -> str:
        """The directory of partition ``pairs`` (``(key, value)``) under
        the table's location, the location itself for no pairs.  Spark
        spells each key as the table declares it."""
        if not pairs:
            return self.location
        names = {c.lower(): c for c in self.partition_cols}
        return os.path.join(
            self.location,
            partition_path((names.get(k, k), v) for k, v in pairs),
        )


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def catalog_entry(spark: SparkSession, name: str) -> CatalogEntry:
    """Read ``name`` (a temp view first, as every SQL reference resolves
    it) from Spark's session catalog in one lookup.  A missing table
    raises ``AnalysisException`` (TABLE_OR_VIEW_NOT_FOUND)."""
    state = spark._jsparkSession.sessionState()  # noqa: SLF001
    t = state.catalog().getTempViewOrPermanentTableMetadata(
        state.sqlParser().parseTableIdentifier(name)
    )
    schema = StructType.fromJson(json.loads(t.schema().json()))
    loc, bucket, stats = t.storage().locationUri(), t.bucketSpec(), t.stats()
    location = None
    if loc.isDefined():
        # DESCRIBE FORMATTED's spelling (a Hadoop Path), less the scheme
        path = spark._jvm.org.apache.hadoop.fs.Path(loc.get())  # noqa: SLF001
        location = str(path.toString()).removeprefix("file:")
    bucket_spec = None
    if bucket.isDefined():
        b = bucket.get()
        bucket_spec = (
            b.numBuckets(),
            _seq(b.bucketColumnNames()),
            _seq(b.sortColumnNames()),
        )
    rows = stats.get().rowCount() if stats.isDefined() else None
    return CatalogEntry(
        schema=schema,
        types={
            f.name.lower(): f.metadata.get("__CHAR_VARCHAR_TYPE_STRING")
            or f.dataType.simpleString()
            for f in schema.fields
        },
        partition_cols=_seq(t.partitionColumnNames()),
        location=location,
        table_type=t.tableType().name(),
        bucket_spec=bucket_spec,
        row_count=int(rows.get()) if rows is not None and rows.isDefined() else None,
        properties={kv._1(): kv._2() for kv in _seq(t.properties().toSeq())},
    )
