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
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from dataclasses import dataclass, field


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
