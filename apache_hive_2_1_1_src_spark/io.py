"""Table loading and Hive storage-format defaults.

Reference surface (SURVEY.md §2.2): Hive's SerDe/InputFormat matrix —
LazySimpleSerDe text (serde2/lazy/LazySimpleSerDe.java: ``\\x01`` field
delimiter, ``\\N`` null marker), ORC (ql/.../io/orc/OrcInputFormat.java with
SearchArgument predicate pushdown), Parquet
(ql/.../io/parquet/MapredParquetInputFormat.java), JSON
(hcatalog JsonSerDe).  Spark's native readers give the same formats with
pushdown for free; this module pins the Hive-default *options*.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

#: Hive text-table defaults (LazySimpleSerDe.java + serdeConstants):
#: field delimiter ^A (\x01), NULL serialized as the two chars "\N".
HIVE_TEXT_OPTIONS: dict[str, str] = {
    "sep": "\x01",
    "nullValue": "\\N",
    "emptyValue": "",
    "header": "false",
}


#: Confs that change the types Spark infers from a parquet footer.
_PARQUET_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

#: Inferred schema per (path, st_mtime_ns, st_size, inference confs).  The
#: key fixes what inference reads, so one entry serves every session.
_PARQUET_SCHEMAS: dict[tuple, T.StructType] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver table — the TableScanOperator equivalent
    (ql/.../exec/TableScanOperator.java:1).  Parquet scan => columnar read,
    column pruning + filter pushdown handled by Catalyst.

    A local file's schema is inferred once (one Spark job) and passed to
    ``.schema()`` on every later read of the same file version under the
    same inference confs, as Hive reads by the schema its metastore
    recorded instead of re-reading footers per query."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
    except OSError:  # not a local file: Spark reads (or rejects) it as given
        key = None
    else:
        key = (path, st.st_mtime_ns, st.st_size) + tuple(
            spark.conf.get(k) for k in _PARQUET_INFERENCE_CONFS
        )
    schema = _PARQUET_SCHEMAS.get(key)
    df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
    if key is not None and schema is None:
        _PARQUET_SCHEMAS[key] = df.schema
    if name == "events":
        df = _normalize_event_ts(df)
    return df


def _normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column across driver testdata vintages:
    int64 epoch-nanos (TIMESTAMP(NANOS) parquet) or timestamp_ntz (plain
    timestamp[us]) → session-zone TIMESTAMP, so downstream epoch math
    (``cast(ts as long)``, window ranges) type-checks identically.  Session
    timezone is pinned UTC (session.py), so NTZ wall-clock == UTC instant and
    epoch seconds agree with DuckDB's ``epoch(ts)`` on the same file."""
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        # timestamp_micros reinterprets an epoch offset — instant-preserving
        # under ANY session zone, so no tz guard here.
        # Integer division: `/` is double division and epoch-nanos (~1.7e18)
        # exceeds double's 2^53 integer precision, corrupting microseconds.
        # Floor (not truncate-toward-zero) via pmod so pre-1970 nanos round
        # down to the containing microsecond instead of up by 1µs.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("(ts - pmod(ts, 1000L)) div 1000"))
        )
    elif dt == "timestamp_ntz":
        # the NTZ→TZ cast interprets the wall clock in the session zone —
        # instant-preserving only under the UTC zone the compat preset
        # pins; fail loudly on a misconfigured bare session.
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
        if tz not in ("UTC", "Etc/UTC", "GMT", "+00:00"):
            raise RuntimeError(
                "events.ts NTZ normalization requires "
                f"spark.sql.session.timeZone=UTC (got {tz!r}); build the "
                "session via session.build_session / apply_compat_conf"
            )
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` normalized to a session-zone timestamp
    (see _normalize_event_ts — handles both nanos-long and timestamp_ntz
    vintages of the driver testdata)."""
    return load_table(spark, sf_dir, "events")


def write_hive_text(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    null_str: str = "\\N",
    sep: str = "\x01",
    coll_sep: str = "\x02",
    key_sep: str = "\x03",
) -> None:
    """Write as Hive text (^A-delimited by default; ``ROW FORMAT
    DELIMITED FIELDS/COLLECTION ITEMS/MAP KEYS TERMINATED BY`` override
    the ladder) — HiveIgnoreKeyTextOutputFormat equivalent
    (ql/.../io/HiveIgnoreKeyTextOutputFormat.java).  ``null_str`` is
    LazySimpleSerDe's serialization.null.format (default the two chars
    "\\N"; ``NULL DEFINED AS '...'`` / SET SERDEPROPERTIES override it —
    nullformat.q).  Complex types serialize with LazySimpleSerDe's
    separator ladder (LazySerDeParameters.collectionDelims): array
    elements joined by the collection delim, map entries k<key_sep>v
    joined by the collection delim, struct fields by the collection
    delim — insert_overwrite_local_directory_1.q pins the custom-delim
    forms."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    # LazySerDeParameters.collectSeparators ladder: \x04..\x08, then
    # 11, 14..26, 28..31 (skipping \t \n \f \r ESC) — 24+ levels when
    # hive.serialization.extend.nesting.levels is set (nested_complex.q)
    seps = (
        [sep, coll_sep, key_sep]
        + [chr(b) for b in range(4, 9)]
        + [chr(11)]
        + [chr(b) for b in range(14, 27)]
        + [chr(b) for b in range(28, 32)]
        # extend.ADDITIONAL.nesting.levels continues into the high bytes
        # (-128..-1 in Java); decoded text sees them as U+0080..U+00FF
        + [chr(b) for b in range(128, 256)]
    )

    def cell(col, dt, lvl: int):
        if isinstance(dt, T.ArrayType):
            return F.array_join(
                F.transform(col, lambda x: cell(x, dt.elementType, lvl + 1)),
                seps[lvl],
                null_str,
            )
        if isinstance(dt, T.MapType):
            return F.array_join(
                F.transform(
                    F.map_entries(col),
                    lambda e: F.concat(
                        cell(e["key"], dt.keyType, lvl + 2),
                        F.lit(seps[lvl + 1]),
                        cell(e["value"], dt.valueType, lvl + 2),
                    ),
                ),
                seps[lvl],
                null_str,
            )
        if isinstance(dt, T.StructType):
            return F.concat_ws(
                seps[lvl],
                *[
                    F.coalesce(
                        cell(col.getField(sub.name), sub.dataType, lvl + 1),
                        F.lit(null_str),
                    )
                    for sub in dt.fields
                ],
            )
        return col.cast("string")

    # text sink, not CSV: LazySimpleSerDe never quotes, so a value
    # containing '"' must be written raw (mirror of the read path)
    line = F.concat_ws(
        sep,
        *[
            F.coalesce(cell(F.col(f.name), f.dataType, 1), F.lit(null_str))
            for f in df.schema.fields
        ],
    )
    df.select(line.alias("value")).write.mode(mode).text(path)


_B64_ALPHABET = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
)
_B64_INDEX = {c: i for i, c in enumerate(_B64_ALPHABET)}
#: commons-codec Base64.isArrayByteBase64 accepts the alphabet, '='
#: pad, and whitespace (space/TAB/LF/CR)
_B64_BYTES = {ord(c) for c in _B64_ALPHABET} | {
    ord("="), 0x20, 0x09, 0x0A, 0x0D
}


def _commons_decode_base64(s):
    """LazyBinary.init / decodeIfNeeded semantics (serde2/lazy/
    LazyBinary.java:47-66): decode ONLY when every byte is in the
    base64 alphabet (commons-codec isArrayByteBase64 — A-Za-z0-9+/=
    plus whitespace); otherwise the RAW bytes are the value
    (load_binary_data.q's string.txt keeps its \\x00/\\x01 bytes).
    The decode itself is commons-codec lenient: skip whitespace, stop
    at '=', emit full 8-bit groups, never raise; an empty decode of a
    non-empty field also falls back to the raw bytes."""
    if s is None:
        return None
    raw = s.encode("utf-8")
    if not all(b in _B64_BYTES for b in raw):
        return raw
    acc = bits = 0
    out = bytearray()
    for ch in s:
        if ch == "=":
            break
        idx = _B64_INDEX.get(ch)
        if idx is None:
            continue
        acc = (acc << 6) | idx
        bits += 6
        if bits >= 8:
            bits -= 8
            out.append((acc >> bits) & 0xFF)
    return bytes(out) if out or not raw else raw


def _lenient_unbase64(col):
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    return F.udf(_commons_decode_base64, T.BinaryType())(col)


def read_hive_text(
    spark: SparkSession,
    path: str,
    schema,
    null_str: str = "\\N",
    sep: str = "\x01",
    coll_sep: str = "\x02",
    key_sep: str = "\x03",
    extended_bool: bool = False,
    encoding: str = "UTF-8",
) -> DataFrame:
    """Read Hive text with an explicit schema (schema-on-read — the
    catalog supplies column types, the serde parses bytes:
    serde/src/java/org/apache/hadoop/hive/serde2/AbstractSerDe.java).
    ``null_str`` mirrors serialization.null.format: bytes equal to it
    parse as NULL; after an ALTER changes it, previously-written tokens
    come back as literal strings (nullformat.q's contract).

    Parsed via text + split/cast (all JVM-side), NOT the CSV source:
    LazySimpleSerDe has no quoting and reads an empty field as the empty
    STRING — CSV would treat '\"' as a quote opener and unquoted-empty as
    NULL (the join25.q src1 rows with empty values pin this)."""
    import re as _re

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    parts = F.split(F.col("value"), _re.escape(sep), -1)

    # LazySimpleSerDe's separator ladder: level 0 = field.delim, 1 =
    # collection.delim (^B default), 2 = mapkey.delim (^C default), then
    # ^D.. for deeper nesting (LazySerDeParameters.collectionDelims)
    # LazySerDeParameters.collectSeparators ladder: \x04..\x08, then
    # 11, 14..26, 28..31 (skipping \t \n \f \r ESC) — 24+ levels when
    # hive.serialization.extend.nesting.levels is set (nested_complex.q)
    seps = (
        [sep, coll_sep, key_sep]
        + [chr(b) for b in range(4, 9)]
        + [chr(11)]
        + [chr(b) for b in range(14, 27)]
        + [chr(b) for b in range(28, 32)]
        # extend.ADDITIONAL.nesting.levels continues into the high bytes
        # (-128..-1 in Java); decoded text sees them as U+0080..U+00FF
        + [chr(b) for b in range(128, 256)]
    )

    def build(col, dt, lvl: int):
        s = _re.escape(seps[lvl])
        if isinstance(dt, T.ArrayType):
            # LazyArray: \N bytes are NULL, EMPTY bytes are an EMPTY
            # array (create_nested_type.q's golden [] and null cells) —
            # a bare split would fabricate a single empty element
            return (
                F.when(col.isNull() | (col == null_str), F.lit(None).cast(dt))
                .when(col == "", F.array().cast(dt))
                .otherwise(
                    F.transform(
                        F.split(col, s, -1),
                        lambda x: build(x, dt.elementType, lvl + 1),
                    )
                )
            )
        if isinstance(dt, T.MapType):
            ks = _re.escape(seps[lvl + 1])
            entries = F.split(col, s, -1)
            # split on the FIRST key delimiter only (limit 2): LazyMap
            # scans for one delimiter and treats the rest as the value —
            # a timestamp value containing ':' must survive intact
            # (avro_timestamp.q's map<string,timestamp> with ':' keys)
            return (
                F.when(col.isNull() | (col == null_str), F.lit(None).cast(dt))
                .otherwise(
                    F.map_from_arrays(
                        F.transform(
                            entries,
                            lambda e: build(
                                F.split(e, ks, 2).getItem(0),
                                dt.keyType,
                                lvl + 2,
                            ),
                        ),
                        F.transform(
                            entries,
                            lambda e: build(
                                F.split(e, ks, 2).getItem(1),
                                dt.valueType,
                                lvl + 2,
                            ),
                        ),
                    )
                )
            )
        if isinstance(dt, T.StructType):
            names = [f.name for f in dt.fields]
            if names and names[0] == "tag" and all(
                n == f"field{i}" for i, n in enumerate(names[1:])
            ):
                # UNION encoding (uniontype<...> → struct<tag,field0..>;
                # LazyUnion serialization: tag SEP value, the value
                # parsed as the tag'th branch type — create_union_table.q)
                su = F.split(col, s, 2)
                tag_c = su.getItem(0).cast("int")
                built = F.struct(
                    tag_c.alias("tag"),
                    *[
                        F.when(
                            tag_c == i,
                            build(su.getItem(1), sub.dataType, lvl + 1),
                        )
                        .otherwise(F.lit(None).cast(sub.dataType))
                        .alias(sub.name)
                        for i, sub in enumerate(dt.fields[1:])
                    ],
                )
                return F.when(col.isNull(), F.lit(None).cast(dt)).otherwise(
                    built
                )
            sf = F.split(col, s, -1)
            built = F.struct(
                *[
                    build(sf.getItem(i), sub.dataType, lvl + 1).alias(sub.name)
                    for i, sub in enumerate(dt.fields)
                ]
            )
            return F.when(col.isNull(), F.lit(None).cast(dt)).otherwise(built)
        # \N inside a collection element is null too (LazyPrimitive
        # checks the null sequence at every nesting level)
        if isinstance(dt, T.BinaryType):
            # LazyBinary.java base64-DECODES text bytes on read through
            # commons-codec, which IGNORES invalid characters and
            # partial trailing groups rather than erroring (binary.txt
            # holds plain sentences; compute_stats_binary.q's
            # avglength=20.0 is the lenient-decoded length).  Spark's
            # unbase64 is strict, so decode with the same lenient rule.
            return F.when(col == null_str, None).otherwise(
                _lenient_unbase64(col)
            )
        if isinstance(dt, T.BooleanType):
            # LazyBoolean.java accepts exactly TRUE/FALSE (any case),
            # everything else is NULL — Spark's string→boolean cast
            # also accepts t/f/y/n/1/0, silently flipping bool_literal.q
            # rows Hive reads as NULL.  With
            # hive.lazysimple.extended_boolean_literal, T/t/1 and F/f/0
            # join the accepted spellings (LazyBoolean.parseBoolean).
            # (The CAST path is a DIFFERENT rule: GenericUDFToBoolean =
            # non-empty string → true.)
            up = F.upper(col)
            truthy = ("TRUE", "T", "1") if extended_bool else ("TRUE",)
            falsy = ("FALSE", "F", "0") if extended_bool else ("FALSE",)
            return (
                F.when(up.isin(*truthy), F.lit(True))
                .when(up.isin(*falsy), F.lit(False))
                .otherwise(F.lit(None).cast("boolean"))
            )
        return F.when(col == null_str, None).otherwise(col).cast(
            dt.simpleString()
        )

    def field_col(i: int, f: "T.StructField"):
        raw = parts.getItem(i)
        cell = F.when(raw == null_str, None).otherwise(raw)
        return build(cell, f.dataType, 1).alias(f.name)

    cols = [field_col(i, f) for i, f in enumerate(schema.fields)]
    canon = encoding.upper().replace("-", "").replace("_", "")
    # Java charset aliases (ISO8859_1, Latin1, UTF16LE …) → the names
    # Spark's CSVOptions accepts
    encoding = {
        "ISO88591": "ISO-8859-1",
        "LATIN1": "ISO-8859-1",
        "USASCII": "US-ASCII",
        "ASCII": "US-ASCII",
        "UTF16": "UTF-16",
        "UTF16BE": "UTF-16BE",
        "UTF16LE": "UTF-16LE",
    }.get(canon, encoding)
    if canon not in ("UTF8",):
        # serialization.encoding (LazySimpleSerDe charset —
        # encoding_nonutf8.q's ISO8859_1 table): the text source is
        # UTF-8-only, so ride the csv reader's decoder with separators
        # and quoting disabled — one line per row, decoded JVM-side
        lines = (
            spark.read.format("csv")
            .schema("value string")
            .option("encoding", encoding)
            .option("sep", "\x00")
            .option("quote", "")
            .load(path)
        )
        return lines.select(cols)
    return spark.read.text(path).select(cols)


def write_hive_sequencefile(df: DataFrame, path: str) -> None:
    """Write as Hive SEQUENCEFILE storage — a real Hadoop SequenceFile
    container (SEQ magic, Text/Text records) holding LazySimpleSerDe
    lines as values (ql/.../io/HiveSequenceFileOutputFormat.java:1
    writes the serialized row as the value and ignores the key; Hive
    readers likewise drop keys).  The serialization is the same
    ^A-delimited / \\N-null framing as the text serde (q89), so the two
    formats share one schema-on-read parser.  Distributed: one
    SequenceFile per partition via saveAsSequenceFile — the only RDD
    hop in the engine's IO layer, required because DataFrameWriter has
    no sequencefile source; the per-row map is a projection already
    computed JVM-side."""
    from pyspark.sql import functions as F

    line = F.concat_ws(
        "\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in df.columns]
    ).alias("line")
    df.select(line).rdd.map(lambda r: ("", r[0])).saveAsSequenceFile(path)


def write_hive_sequencefile_compressed(
    df: DataFrame,
    path: str,
    codec: str = "org.apache.hadoop.io.compress.DefaultCodec",
) -> None:
    """Record-compressed SequenceFile write (SET
    hive.exec.compress.output=true + mapred.output.compression.codec in
    the reference; SequenceFile.Writer RECORD compression).  The read
    path is unchanged — Hadoop's reader decompresses transparently."""
    from pyspark.sql import functions as F

    line = F.concat_ws(
        "\x01", *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in df.columns]
    ).alias("line")
    df.select(line).rdd.map(lambda r: ("", r[0])).saveAsSequenceFile(path, codec)


#: writable classes PySpark's JVM sequenceFile bridge can ship to Python
_SEQ_SAFE_WRITABLES = {
    "org.apache.hadoop.io.Text",
    "org.apache.hadoop.io.BytesWritable",
    "org.apache.hadoop.io.NullWritable",
    "org.apache.hadoop.io.LongWritable",
    "org.apache.hadoop.io.IntWritable",
    "org.apache.hadoop.io.BooleanWritable",
    "org.apache.hadoop.io.FloatWritable",
    "org.apache.hadoop.io.DoubleWritable",
}


def _seq_values_py(path: str) -> list[str]:
    """Pure-Python SequenceFile VALUE extraction for containers whose
    KEY class has no Python converter (kv1.seq's
    ql.exec.ByteWritable key — inputddl7.q): parse the v6 header,
    skip keys, decode Text values.  Driver-side: used only on the
    LOAD-DATA ingest path, whose unit of work is one moved file."""
    import io as _io
    import struct as _s

    from apache_hive_2_1_1_src_spark.rcfile_io import (
        _read_text,
        read_vlong,
    )

    files = (
        sorted(
            os.path.join(path, e)
            for e in os.listdir(path)
            if not e.startswith((".", "_"))
        )
        if os.path.isdir(path)
        else [path]
    )
    lines: list[str] = []
    for fp in files:
        data = open(fp, "rb").read()
        buf = _io.BytesIO(data)
        if buf.read(3) != b"SEQ":
            continue
        if buf.read(1)[0] != 6:
            continue
        _read_text(buf)  # key class
        vclass = _read_text(buf)
        compressed = buf.read(1) != b"\x00"
        block = buf.read(1) != b"\x00"
        if compressed or block:
            raise ValueError(
                "compressed SequenceFile needs the JVM reader"
            )
        n_meta = _s.unpack(">i", buf.read(4))[0]
        for _ in range(n_meta):
            _read_text(buf)
            _read_text(buf)
        sync = buf.read(16)
        total = len(data)
        while buf.tell() < total:
            rec_len = _s.unpack(">i", buf.read(4))[0]
            if rec_len == -1:
                if buf.read(16) != sync:
                    raise ValueError("sync mismatch in SequenceFile")
                continue
            key_len = _s.unpack(">i", buf.read(4))[0]
            buf.read(key_len)
            raw = buf.read(rec_len - key_len)
            if vclass == "org.apache.hadoop.io.Text":
                vb = _io.BytesIO(raw)
                n = read_vlong(vb)
                lines.append(vb.read(n).decode("utf-8", "replace"))
            else:
                lines.append(raw.decode("utf-8", "replace"))
    return lines


def read_hive_sequencefile(spark: SparkSession, path: str, schema) -> DataFrame:
    """Read Hive SEQUENCEFILE: container → Text values → schema-on-read
    parse (keys ignored, as Hive's SequenceFileInputFormat binding
    does).  Quoting is DISABLED: the writer emits raw LazySimpleSerDe
    lines (no quote-escaping, exactly like Hive), so a value beginning
    with '\"' must parse verbatim, not as a CSV quote opener.  A
    container keyed by a class outside the Python-converter set (Hive's
    own ByteWritable — inputddl7.q) routes through the in-repo parser."""
    probe = path
    if os.path.isdir(path):
        entries = [
            e for e in sorted(os.listdir(path))
            if not e.startswith((".", "_"))
        ]
        if entries:
            probe = os.path.join(path, entries[0])
    safe = True
    try:
        with open(probe, "rb") as fh:
            import io as _io

            from apache_hive_2_1_1_src_spark.rcfile_io import _read_text

            hb = _io.BytesIO(fh.read(4096))
            if hb.read(4)[:3] == b"SEQ":
                kc = _read_text(hb)
                vc = _read_text(hb)
                safe = (
                    kc in _SEQ_SAFE_WRITABLES and vc in _SEQ_SAFE_WRITABLES
                )
    except OSError:
        pass
    opts = dict(HIVE_TEXT_OPTIONS, quote="", escape="")
    if not safe:
        lines = _seq_values_py(path)
        values = spark.sparkContext.parallelize(lines or [""], 1)
        if not lines:
            return spark.createDataFrame([], schema)
        return spark.read.options(**opts).schema(schema).csv(values)
    values = spark.sparkContext.sequenceFile(path).values()
    return spark.read.options(**opts).schema(schema).csv(values)


def write_text_with_header_footer(
    df: DataFrame,
    path: str,
    header_lines: list[str],
    footer_lines: list[str],
    sep: str = "\x01",
    null_str: str = "\\N",
) -> int:
    """Write text files that each carry per-FILE header and trailer lines
    (the on-disk shape ``skip.header.line.count`` / ``skip.footer.line.count``
    tables consume — data/files/header_footer_table_1 in the reference).
    One file per partition via mapInPandas (same distributed per-file write
    pattern as rcfile_io.write_rcfile); returns the data-row count."""
    import uuid

    import pandas as pd  # noqa: F401

    os.makedirs(path, exist_ok=True)
    cols = df.columns

    def write_partition(pdfs):
        import pandas as pd

        rows: list[str] = []
        for pdf in pdfs:
            for tup in pdf[cols].itertuples(index=False):
                rows.append(
                    sep.join(
                        null_str if v is None or v != v else str(v) for v in tup
                    )
                )
        out = os.path.join(path, f"part-{uuid.uuid4().hex}.txt")
        with open(out, "w", encoding="utf-8") as fh:
            for line in header_lines:
                fh.write(line + "\n")
            for line in rows:
                fh.write(line + "\n")
            for line in footer_lines:
                fh.write(line + "\n")
        yield pd.DataFrame({"path": [out], "n_records": [len(rows)]})

    manifest = df.mapInPandas(write_partition, "path string, n_records long")
    return sum(r.n_records for r in manifest.collect())


def read_hive_text_skips(
    spark: SparkSession,
    path: str,
    schema,
    skip_header: int = 0,
    skip_footer: int = 0,
    sep: str = "\x01",
    null_str: str = "\\N",
) -> DataFrame:
    """Text read honoring ``skip.header.line.count`` / ``skip.footer.line.count``
    table properties (HIVE-5795, file_with_header_footer.q;
    HiveContextAwareRecordReader.java's doNext header skip + FooterBuffer).

    The skips apply per FILE, not per table — exactly Hive's contract —
    so each file is trimmed whole: binaryFile lists/distributes the files,
    a mapInArrow kernel drops the first ``skip_header`` and last
    ``skip_footer`` lines of each (a file with <= header+footer lines
    yields zero rows, the reference's ``emptytable`` case), and the
    declared schema is applied JVM-side by split/cast, the same
    schema-on-read convention as the other text paths.  Hive likewise
    reads header/footer files unsplit (footer skipping needs whole-file
    buffering), so per-file tasks are the faithful scale shape: parallelism
    comes from the file count, as in the reference."""
    import re as _re
    from collections.abc import Iterator

    import pyarrow as pa

    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    h, f_skip = int(skip_header), int(skip_footer)

    def trim(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            for content in batch.column("content"):
                lines = bytes(content.as_py()).decode("utf-8").splitlines()
                end = len(lines) - f_skip
                kept = lines[h:end] if end > h else []
                yield pa.RecordBatch.from_arrays(
                    [pa.array(kept, type=pa.string())], names=["value"]
                )

    from pyspark.sql import functions as F

    files = spark.read.format("binaryFile").option("pathGlobFilter", "*.txt").load(path)
    raw = files.select("content").mapInArrow(trim, "value string")
    parts = F.split(F.col("value"), _re.escape(sep))
    return raw.select(
        [
            F.when(parts.getItem(i) == null_str, None)
            .otherwise(parts.getItem(i))
            .cast(fld.dataType)
            .alias(fld.name)
            for i, fld in enumerate(schema.fields)
        ]
    )


def write_multidelimit_text(df: DataFrame, path: str, delim: str) -> None:
    """MultiDelimitSerDe write equivalent (contrib/.../serde2/
    MultiDelimitSerDe.java — FIELDS TERMINATED BY a multi-character
    delimiter, which LazySimpleSerDe cannot do): rows become text lines
    joined on the literal delimiter, ``\\N`` nulls, one file per
    partition via the text source."""
    from pyspark.sql import functions as F

    line = F.concat_ws(
        delim, *[F.coalesce(F.col(c).cast("string"), F.lit("\\N")) for c in df.columns]
    ).alias("value")
    df.select(line).write.mode("overwrite").text(path)


def read_multidelimit_text(spark: SparkSession, path: str, schema, delim: str) -> DataFrame:
    """MultiDelimitSerDe read equivalent: split each line on the literal
    multi-char delimiter (regex-quoted), then cast fields per the
    declared schema — all JVM-side expressions, schema-on-read."""
    import re as _re

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    parts = F.split(F.col("value"), _re.escape(delim))
    cols = [
        F.when(parts.getItem(i) == "\\N", None)
        .otherwise(parts.getItem(i))
        .cast(f.dataType)
        .alias(f.name)
        for i, f in enumerate(schema.fields)
    ]
    return spark.read.text(path).select(cols)


def has_avro_support(spark: SparkSession) -> bool:
    """spark-avro is an external module; gate Avro paths on its presence.
    Probed with a real one-row write — class-presence checks false-positive
    because catalyst ships avro expression classes without the datasource."""
    import tempfile

    path = os.path.join(tempfile.gettempdir(), "_avro_probe")
    try:
        spark.range(1).write.mode("overwrite").format("avro").save(path)
        return True
    except Exception:
        return False
