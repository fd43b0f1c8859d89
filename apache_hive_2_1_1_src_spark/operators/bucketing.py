"""Hive-bucket-file compatibility: write bucketed tables whose on-disk
layout (bucket count, file naming, key→file assignment) matches what
Hive 2.1 produces, and read them back with file-level bucket pruning.

Reference semantics being re-expressed:

* ``serde/src/java/org/apache/hadoop/hive/serde2/objectinspector/
  ObjectInspectorUtils.java`` — ``hashCode()``: identity for int-likes,
  ``(int)(v ^ (v >>> 32))`` for bigint, ``v ? 1 : 0`` for boolean, and
  the 31 polynomial over a string's signed UTF-8 bytes (== Java
  ``String.hashCode`` on ASCII); multi-column keys combine as
  ``31*h + h_i``.  ``hive_hash_value`` is the engine's one copy of these
  rules: SQL ``hash()``, bucketing and compute_stats' FM sketch all
  call it.
* ``ObjectInspectorUtils.getBucketNumber`` — bucket =
  ``(hash & Integer.MAX_VALUE) % numBuckets`` (mask, NOT pmod: Hive
  masks the sign bit first, which differs from pmod for negative
  hashes).
* ``ql/src/java/org/apache/hadoop/hive/ql/exec/Utilities.java``
  ``getBucketIdFromFile`` — bucket files are named ``000000_0``,
  ``000001_0``, … (6-digit bucket id + attempt suffix); readers map
  file name → bucket id positionally.

SURVEY §1.4 notes Spark's ``bucketBy`` writes murmur3 buckets that Hive
cannot read as bucketed; this module closes that gap WITHOUT touching
``bucketBy``: it computes Hive's bucket id as a JVM-side expression,
shuffles once on it (each bucket lands wholly in one task), writes via
``partitionBy`` into a staging dir, and renames each bucket's single
file into the flat Hive layout.  Empty buckets get schema-valid empty
parquet files, preserving the positional file↔bucket mapping Hive's
bucket map-join relies on.

100 TB: the write is one hash shuffle on the bucket id (identical cost
to any bucketed write); a pruned point-read opens exactly ONE file of
the table regardless of table size — the same 1/N I/O Hive's
TABLESAMPLE(BUCKET x OUT OF N) and bucket map-join get.

Type coverage: int-family / bigint / boolean are pure codegen; date
(DateWritable.hashCode == daysSinceEpoch) is codegen via datediff;
string (UTF-8 bytes), double / float (IEEE-754 bit hashes) and decimal
(HiveDecimalWritable → normalized BigDecimal.hashCode) run
``hive_hash_value`` in an Arrow-batched pandas UDF, pinned against
literal values produced by an actual Java run of the same arithmetic
(tests/test_bucketing.py).  Anything else fails loudly.
"""

from __future__ import annotations

import datetime
import decimal
import glob
import math
import os
import shutil
import struct

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_INT_MAX = 2147483647
_JAVA_DOUBLE_NAN_BITS = 0x7FF8000000000000  # doubleToLongBits canonical NaN
_JAVA_FLOAT_NAN_BITS = 0x7FC00000  # floatToIntBits canonical NaN


def _wrap32(c: Column) -> Column:
    """Java int overflow semantics for a long-valued expression."""
    return c.cast("int")


def to_int32(v: int) -> int:
    """Java int overflow: the low 32 bits of ``v`` as a signed int."""
    v &= 0xFFFFFFFF
    return v - 0x100000000 if v >= 0x80000000 else v


def _fold_bytes(data: bytes, seed: int) -> int:
    """``h = 31*h + b`` over SIGNED bytes (Java ``byte``): the STRING
    loop of ObjectInspectorUtils.hashCode (seed 0) and
    WritableComparator.hashBytes behind Text/BytesWritable (seed 1)."""
    h = seed
    for b in data:
        h = to_int32(31 * h + (b - 256 if b >= 128 else b))
    return h


def _java_bigint_hash(n: int) -> int:
    """java.math.BigInteger.hashCode: fold the big-endian 32-bit
    magnitude words with the 31 polynomial, then multiply by signum."""
    if n == 0:
        return 0
    sign = 1 if n > 0 else -1
    mag, words = abs(n), []
    while mag:
        words.append(mag & 0xFFFFFFFF)
        mag >>= 32
    h = 0
    for w in reversed(words):
        h = (31 * h + w) & 0xFFFFFFFF
    return to_int32(h * sign)


def _hive_decimal_parts(d) -> tuple[int, int]:
    """HiveDecimal normalization (storage-api/.../HiveDecimal.java:245
    trim): strip trailing zeros, no negative scale (5E+2 → scale 0),
    exact zero → (0, 0).  Returns (unscaledValue, scale)."""
    d = decimal.Decimal(d)
    if d == 0:
        return 0, 0
    t = d.normalize()
    sign, digits, exp = t.as_tuple()
    if exp > 0:  # stripTrailingZeros left a negative scale -> setScale(0)
        return int(t), 0
    unscaled = (-1 if sign else 1) * int("".join(map(str, digits)))
    return unscaled, -exp


def java_string_hashcode(s: str) -> int:
    """Java ``String.hashCode``: the 31 polynomial over UTF-16 code
    units, so an astral character contributes its surrogate pair.  The
    FM sketch hashes strings with it (NumDistinctValueEstimator
    .addToEstimator(String)); Hive's own hash() of a STRING folds its
    UTF-8 bytes instead (hive_hash_value), and the two agree on ASCII."""
    b = s.encode("utf-16-be", "surrogatepass")
    h = 0
    for i in range(0, len(b), 2):
        h = to_int32(31 * h + (b[i] << 8 | b[i + 1]))
    return h


_HASH_TYPES = frozenset(
    (
        "boolean", "tinyint", "smallint", "int", "integer", "bigint",
        "string", "char", "varchar", "binary", "date", "timestamp",
        "double", "float", "decimal",
    )
)


def _value_type(v) -> str:
    """The Hive type a bare value hashes as where no declared type
    reaches the hash (SQL hash() over an expression or under a JOIN, a
    bucket key given without its type): an int is an int when it fits
    32 bits, else a bigint; a value with no rule of its own hashes its
    display text as a STRING."""
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "int" if -(1 << 31) <= v < 1 << 31 else "bigint"
    if isinstance(v, float):
        return "double"
    if isinstance(v, (bytes, bytearray)):
        return "binary"
    if isinstance(v, decimal.Decimal):
        return "decimal"
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        return "date"
    return "string"


def hive_hash_value(v, typ: str | None = None) -> int:
    """ObjectInspectorUtils.hashCode (serde2/objectinspector/
    ObjectInspectorUtils.java:600-669) of one value of Hive type
    ``typ``.  The type matters: Long.hashCode folds high into low bits,
    so hash(-1 as bigint) is 0 while hash(-1 as int) is -1.  A ``typ``
    with no rule here (None, a complex type) is taken from the value."""
    if v is None:
        return 0
    if typ not in _HASH_TYPES:
        typ = _value_type(v)
    if typ == "boolean":
        # 1/0, NOT Java Boolean.hashCode's 1231/1237 (udf_hash.q)
        return 1 if v else 0
    if typ in ("tinyint", "smallint", "int", "integer"):
        return int(v)
    if typ == "bigint":
        # Long.hashCode is ALWAYS (v ^ v>>>32) on the 64-bit pattern — a
        # negative long in int range hashes to ~v, not v (orc_merge12.q's
        # sum(hash(*)) pins it)
        u = int(v) & 0xFFFFFFFFFFFFFFFF
        return to_int32(u ^ (u >> 32))
    if typ == "string":
        return _fold_bytes(str(v).encode("utf-8"), 0)
    if typ == "char":
        # HiveCharWritable.hashCode → Text hash of the STRIPPED value
        # (HiveBaseCharWritable.java:61)
        return _fold_bytes(str(v).rstrip(" ").encode("utf-8"), 1)
    if typ == "varchar":
        return _fold_bytes(str(v).encode("utf-8"), 1)
    if typ == "binary":
        return _fold_bytes(bytes(v), 1)  # BytesWritable.hashCode
    if typ == "date":
        # DateWritable.hashCode == daysSinceEpoch (DateWritable.java:222)
        if isinstance(v, datetime.datetime):
            v = v.date()
        return (v - datetime.date(1970, 1, 1)).days
    if typ == "timestamp":
        # TimestampWritable.hashCode: (seconds<<30 | nanos) folded
        # (TimestampWritable.java:410-415) over the INSTANT's epoch
        # seconds — SQL callers pass CAST(ts AS DOUBLE), so the value is
        # timezone-independent end to end
        secs = math.floor(v)
        micros = round((v - secs) * 1_000_000)
        folded = ((secs << 30) | (micros * 1000)) & 0xFFFFFFFFFFFFFFFF
        return to_int32(folded ^ (folded >> 32))
    if typ == "double":
        # Double.hashCode: doubleToLongBits folded (int)(bits ^ bits>>>32)
        bits = (
            _JAVA_DOUBLE_NAN_BITS
            if math.isnan(v)
            else struct.unpack(">Q", struct.pack(">d", float(v)))[0]
        )
        return to_int32((bits >> 32) ^ bits)
    if typ == "float":
        bits = (
            _JAVA_FLOAT_NAN_BITS
            if math.isnan(v)
            else struct.unpack(">I", struct.pack(">f", float(v)))[0]
        )
        return to_int32(bits)
    # decimal: HiveDecimalWritable → normalized HiveDecimal →
    # BigDecimal.hashCode = 31 * unscaled.hashCode() + scale
    unscaled, scale = _hive_decimal_parts(v)
    return to_int32(31 * _java_bigint_hash(unscaled) + scale)


def hive_hash_row(values, types=None) -> int:
    """GenericUDFHash / the bucket key hash: ``31*h + hash(v_i)`` over
    the values, each hashed as its entry of ``types`` (None: from the
    value)."""
    h = 0
    for v, typ in zip(values, types or [None] * len(values)):
        h = to_int32(31 * h + hive_hash_value(v, typ))
    return h


def _scalar_hash_udf(typ: str):
    """hive_hash_value over a column of Hive type ``typ``, Arrow-batched
    (no Spark builtin exposes IEEE-754 bits, BigDecimal's hash or a
    string's UTF-8 bytes)."""

    def h(s):
        return s.map(lambda v: hive_hash_value(v, typ)).astype("int32")

    return F.pandas_udf(h, "int")


_UDF_HASH_TYPES = {
    T.StringType: "string",
    T.DoubleType: "double",
    T.FloatType: "float",
    T.DecimalType: "decimal",
}


def hive_hash_col(df: DataFrame, col: str) -> Column:
    """ObjectInspectorUtils.hashCode as an expression, dispatched on the
    column's Spark type: codegen for int-likes, bigint, boolean and
    date, hive_hash_value through a pandas UDF for the rest."""
    dt = df.schema[col].dataType
    c = F.col(col)
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        h = c.cast("int")
    elif isinstance(dt, T.LongType):
        h = _wrap32(c.bitwiseXOR(F.shiftrightunsigned(c, 32)))
    elif isinstance(dt, T.BooleanType):
        h = F.when(c, F.lit(1)).otherwise(F.lit(0))
    elif isinstance(dt, T.DateType):
        h = F.datediff(c, F.to_date(F.lit("1970-01-01")))
    elif type(dt) in _UDF_HASH_TYPES:
        h = _scalar_hash_udf(_UDF_HASH_TYPES[type(dt)])(c)
    else:
        raise TypeError(f"unsupported bucket key type for {col}: {dt}")
    return F.when(c.isNull(), F.lit(0)).otherwise(h)


def hive_bucket_id(df: DataFrame, cols: list[str], num_buckets: int) -> Column:
    """``(31-combined hash & Integer.MAX_VALUE) % n`` — the exact
    getBucketNumber arithmetic (mask then mod, not pmod)."""
    h: Column = F.lit(0)
    for c in cols:
        h = _wrap32(h * F.lit(31) + hive_hash_col(df, c))
    return h.bitwiseAND(F.lit(_INT_MAX)) % F.lit(num_buckets)


def hive_bucket_of(
    values: list, num_buckets: int, types: list[str] | None = None
) -> int:
    """Driver-side bucket id for a literal key tuple; ``types`` are Hive
    type names, taken from the values when not given."""
    return (hive_hash_row(values, types) & _INT_MAX) % num_buckets


def bucket_file(b: int) -> str:
    """Hive bucket file name (Utilities.getBucketIdFromFile inverse)."""
    return f"{b:06d}_0"


def hive_bucketed_write(
    df: DataFrame, path: str, key_cols: list[str], num_buckets: int
) -> None:
    """Write ``df`` as a Hive-layout bucketed table at ``path``: flat
    directory of ``000000_0 … 00000N_0`` parquet files where file i
    holds exactly the rows Hive would put in bucket i.

    One shuffle on the Hive bucket id (so each bucket is one task →
    one file), then a constant-count rename pass (metadata-only moves,
    no data rewrite — same cost on HDFS/S3A committers)."""
    spark = df.sparkSession
    staging = path.rstrip("/") + ".__staging__"
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(path, ignore_errors=True)
    bid = hive_bucket_id(df, key_cols, num_buckets)
    (
        df.withColumn("_hive_bucket", bid)
        .repartition(num_buckets, "_hive_bucket")
        .write.partitionBy("_hive_bucket")
        .mode("overwrite")
        .parquet(staging)
    )
    os.makedirs(path)
    empty = None
    for b in range(num_buckets):
        parts = glob.glob(os.path.join(staging, f"_hive_bucket={b}", "part-*.parquet"))
        if len(parts) > 1:  # one bucket == one partition == one file
            raise RuntimeError(f"bucket {b} split across {len(parts)} files")
        if parts:
            shutil.move(parts[0], os.path.join(path, bucket_file(b)))
        else:
            # Hive writes schema-valid empty files for empty buckets so
            # positional file↔bucket mapping survives
            if empty is None:
                edir = staging + ".empty"
                df.limit(0).coalesce(1).write.mode("overwrite").parquet(edir)
                empty = glob.glob(os.path.join(edir, "part-*.parquet"))[0]
            shutil.copy(empty, os.path.join(path, bucket_file(b)))
    shutil.rmtree(staging, ignore_errors=True)
    shutil.rmtree(staging + ".empty", ignore_errors=True)
    _ = spark  # session retained for API symmetry / future FS handles


def read_bucketed(spark: SparkSession, path: str) -> DataFrame:
    """Full-table read of a Hive-layout bucketed dir, with the bucket id
    recovered from the file name (Utilities.getBucketIdFromFile)."""
    files = sorted(glob.glob(os.path.join(path, "*_0")))
    return (
        spark.read.parquet(*files)
        .withColumn(
            "_hive_bucket",
            F.regexp_extract(F.input_file_name(), r"(\d{6})_\d+$", 1).cast("int"),
        )
    )


def bucket_pruned_read(
    spark: SparkSession, path: str, key_cols: list[str], num_buckets: int, key_values: list
) -> DataFrame:
    """Point/key read that opens exactly ONE bucket file — the I/O shape
    of Hive's bucket map-join probe and TABLESAMPLE(BUCKET x OUT OF N):
    1/N of the table regardless of scale.  Key types come from the
    table's own schema (a footer-only read of bucket file 0), so the
    literal hash always matches what the writer computed."""
    schema = spark.read.parquet(os.path.join(path, bucket_file(0))).schema
    _SPARK_TO_HIVE = {
        T.ByteType: "int",
        T.ShortType: "int",
        T.IntegerType: "int",
        T.LongType: "bigint",
        T.BooleanType: "boolean",
        T.StringType: "string",
        T.DateType: "date",
        T.DoubleType: "double",
        T.FloatType: "float",
        T.DecimalType: "decimal",
    }
    types = [_SPARK_TO_HIVE[type(schema[c].dataType)] for c in key_cols]
    b = hive_bucket_of(key_values, num_buckets, types)
    df = spark.read.parquet(os.path.join(path, bucket_file(b)))
    cond = F.lit(True)
    for c, v in zip(key_cols, key_values):
        cond = cond & (F.col(c) == F.lit(v))
    return df.filter(cond)
