"""Hive bucket-file compatibility pins (operators/bucketing.py):
getBucketNumber arithmetic, 000000_0 naming, empty-bucket files,
string/bigint/multi-col hashing, 1-file pruned probes, and SQL hash(),
which shares the bucket hash's per-type rules."""

from __future__ import annotations

import glob
import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import apache_hive_2_1_1_src_spark
from apache_hive_2_1_1_src_spark.operators.bucketing import (
    bucket_file,
    bucket_pruned_read,
    hive_bucket_id,
    hive_bucket_of,
    hive_bucketed_write,
    hive_hash_col,
    java_string_hashcode,
    read_bucketed,
)
from apache_hive_2_1_1_src_spark.session import HiveEngine


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    e = HiveEngine(spark, sf_dir)
    e.register_tables()
    yield e
    e._vars = {}


def test_java_string_hashcode_known_values():
    # Java: "abc".hashCode()==96354, "hive".hashCode()==3202928, ""==0
    assert java_string_hashcode("abc") == 96354
    assert java_string_hashcode("hive") == 3202928
    assert java_string_hashcode("") == 0


def test_bucket_of_matches_hive_arithmetic():
    assert hive_bucket_of([42], 8) == 42 % 8
    # negative int hash: mask-then-mod, NOT pmod — Hive masks the sign bit
    assert hive_bucket_of([-3], 8, types=["int"]) == ((-3) & 0x7FFFFFFF) % 8
    # bigint folding (int)(v ^ (v >>> 32)) applies even to small values:
    # Java hash(-1L) == 0, not -1
    assert hive_bucket_of([-1], 8, types=["bigint"]) == 0
    v = 2**33 + 5
    folded = (v ^ (v >> 32)) & 0xFFFFFFFF
    folded = folded - 2**32 if folded >= 2**31 else folded
    assert hive_bucket_of([v], 16) == (folded & 0x7FFFFFFF) % 16


def test_expression_matches_driver_side(spark):
    df = spark.createDataFrame(
        [(1, 2**33 + 5, "abc", True), (-7, -1, "BUILDING", False)],
        "i int, l long, s string, b boolean",
    )
    typs = {"i": "int", "l": "bigint", "s": "string", "b": "boolean"}
    for col, typ in typs.items():
        got = df.select(hive_bucket_id(df, [col], 32).alias("x")).collect()
        vals = df.select(col).collect()
        for g, v in zip(got, vals):
            assert g["x"] == hive_bucket_of([v[0]], 32, types=[typ]), col
    # multi-column 31-combination
    got = df.select(hive_bucket_id(df, ["i", "s"], 32).alias("x")).collect()
    for g, v in zip(got, df.select("i", "s").collect()):
        assert g["x"] == hive_bucket_of([v[0], v[1]], 32, types=["int", "string"])


def test_write_layout_and_assignment(spark, tmp_path):
    path = str(tmp_path / "bkt")
    df = spark.createDataFrame(
        [(i, f"name_{i}", float(i)) for i in range(200)], "k int, s string, v double"
    )
    hive_bucketed_write(df, path, ["k"], 8)
    names = sorted(os.path.basename(p) for p in glob.glob(os.path.join(path, "*")))
    assert names == [bucket_file(b) for b in range(8)]
    # every file holds exactly Hive's bucket membership
    for b in range(8):
        rows = spark.read.parquet(os.path.join(path, bucket_file(b))).collect()
        assert rows and all(hive_bucket_of([r["k"]], 8) == b for r in rows)
    # full read-back recovers bucket ids from file names, loses no rows
    back = read_bucketed(spark, path)
    assert back.count() == 200
    bad = back.filter(
        hive_bucket_id(back, ["k"], 8) != F.col("_hive_bucket")
    ).count()
    assert bad == 0


def test_empty_buckets_get_schema_valid_files(spark, tmp_path):
    path = str(tmp_path / "bkt_sparse")
    # all keys hash to bucket 0 (multiples of 8)
    df = spark.createDataFrame([(i * 8, "x") for i in range(10)], "k int, s string")
    hive_bucketed_write(df, path, ["k"], 8)
    for b in range(1, 8):
        empty = spark.read.parquet(os.path.join(path, bucket_file(b)))
        assert empty.count() == 0
        assert empty.schema.fieldNames() == ["k", "s"]


def test_pruned_read_opens_one_file(spark, tmp_path):
    path = str(tmp_path / "bkt_probe")
    df = spark.createDataFrame(
        [(i, f"seg_{i % 5}") for i in range(100)], "k int, seg string"
    )
    hive_bucketed_write(df, path, ["k"], 8)
    probe = bucket_pruned_read(spark, path, ["k"], 8, [37])
    assert len(probe.inputFiles()) == 1
    assert [r["k"] for r in probe.collect()] == [37]


def test_string_keyed_buckets(spark, tmp_path):
    path = str(tmp_path / "bkt_str")
    # a non-ASCII key hashes its UTF-8 bytes on the write and the probe
    segs = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE", "MÖBEL"]
    df = spark.createDataFrame(
        [(i, segs[i % 6]) for i in range(60)], "k int, seg string"
    )
    hive_bucketed_write(df, path, ["seg"], 4)
    for seg in segs:
        probe = bucket_pruned_read(spark, path, ["seg"], 4, [seg])
        assert len(probe.inputFiles()) == 1
        assert probe.count() == 10


# ---- date / double / float / decimal branches --------------------------
# Expected values below were produced by compiling and running the actual
# Java arithmetic (Double.doubleToLongBits fold, Float.floatToIntBits,
# BigDecimal trim + hashCode) on this machine's JDK 17 — they pin our
# Python/Spark re-derivations to the reference's
# ObjectInspectorUtils.hashCode branches bit-for-bit.

def test_double_hash_literals_match_java():
    from apache_hive_2_1_1_src_spark.operators.bucketing import (
        hive_hash_value as _hash_literal,
    )

    assert _hash_literal(1.5, "double") == 1073217536
    assert _hash_literal(-0.0, "double") == -2147483648
    assert _hash_literal(0.0, "double") == 0
    assert _hash_literal(3.141592653589793, "double") == 340593891
    assert _hash_literal(-123.456, "double") == -624860328
    assert _hash_literal(float("nan"), "double") == 2146959360


def test_float_hash_literals_match_java():
    from apache_hive_2_1_1_src_spark.operators.bucketing import (
        hive_hash_value as _hash_literal,
    )

    assert _hash_literal(1.5, "float") == 1069547520
    assert _hash_literal(-2.75, "float") == -1070596096


def test_decimal_hash_literals_match_java():
    import decimal

    from apache_hive_2_1_1_src_spark.operators.bucketing import (
        hive_hash_value as _hash_literal,
    )

    D = decimal.Decimal
    assert _hash_literal(D("123.45"), "decimal") == 382697
    assert _hash_literal(D("-0.001"), "decimal") == -28
    assert _hash_literal(D("5.00"), "decimal") == 155  # trailing zeros stripped
    assert _hash_literal(D("500"), "decimal") == 15500  # no negative scale
    assert _hash_literal(D("0.000"), "decimal") == 0  # exact-zero special case
    assert _hash_literal(D("98765432109876543210.123"), "decimal") == 905931821
    assert _hash_literal(D("-98765432109876543210.123"), "decimal") == -905931815


def test_date_hash_is_days_since_epoch():
    import datetime

    from apache_hive_2_1_1_src_spark.operators.bucketing import (
        hive_hash_value as _hash_literal,
    )

    assert _hash_literal(datetime.date(1970, 1, 1), "date") == 0
    assert _hash_literal(datetime.date(1970, 1, 11), "date") == 10
    assert _hash_literal(datetime.date(1969, 12, 31), "date") == -1
    assert _hash_literal(datetime.date(2024, 2, 29), "date") == 19782


def test_new_type_expressions_match_driver_side(spark):
    """The Spark column expressions (codegen datediff for date, Arrow
    UDFs for double/float/decimal) must agree with the driver-side
    literal hash for every value — the same writer/prober consistency
    the int/string tests pin."""
    import datetime
    import decimal

    from apache_hive_2_1_1_src_spark.operators.bucketing import (
        hive_hash_value as _hash_literal,
    )

    rows = [
        (datetime.date(1970, 1, 1), 1.5, 1.5, decimal.Decimal("123.45")),
        (datetime.date(1969, 12, 31), -0.0, -2.75, decimal.Decimal("5.00")),
        (datetime.date(2024, 2, 29), -123.456, 0.0, decimal.Decimal("-0.001")),
        (None, None, None, None),
        (datetime.date(2000, 7, 4), float("nan"), float("nan"), decimal.Decimal("500")),
    ]
    df = spark.createDataFrame(
        rows, "d date, x double, f float, dec decimal(25,3)"
    )
    got = df.select(
        *[hive_hash_col(df, c).alias(c) for c in ("d", "x", "f", "dec")]
    ).collect()
    for r, (d, x, f_, dec) in zip(got, rows):
        assert r.d == (0 if d is None else _hash_literal(d, "date"))
        assert r.x == (0 if x is None else _hash_literal(x, "double"))
        assert r.f == (0 if f_ is None else _hash_literal(f_, "float"))
        assert r.dec == (0 if dec is None else _hash_literal(dec, "decimal"))


def test_date_keyed_bucket_roundtrip(spark, tmp_path):
    """End-to-end on a date key: Hive-layout write, then a pruned point
    read opens exactly one file and finds the row."""
    import datetime

    from apache_hive_2_1_1_src_spark.operators.bucketing import (
        bucket_pruned_read,
        hive_bucketed_write,
    )

    base = datetime.date(2020, 1, 1)
    df = spark.createDataFrame(
        [(base + datetime.timedelta(days=i), i) for i in range(200)],
        "event_date date, v int",
    )
    path = str(tmp_path / "date_bucketed")
    hive_bucketed_write(df, path, ["event_date"], num_buckets=8)
    probe = datetime.date(2020, 4, 15)
    got = bucket_pruned_read(spark, path, ["event_date"], 8, [probe]).collect()
    assert len(got) == 1 and got[0].v == (probe - base).days


# ---- SQL hash(): the same rules through HiveEngine.sql ------------------
def test_hive_hash_typed_matches_reference_goldens(eng):
    """Per-type hash rules (ObjectInspectorUtils.java:600-669):
    char→Text hash of stripped value, varchar→Text hash, decimal→
    normalized BigDecimal hash, date→epoch days, boolean→1/0.  The
    composite value is pinned by orc_ppd_varchar.q.out's digest
    -252951929000 = 500 rows × -505903858."""
    eng.spark.sql("DROP TABLE IF EXISTS r9_hash_t")
    eng.sql(
        "create table r9_hash_t (c char(10), v varchar(10), d decimal(5,3),"
        " da date) stored as textfile"
    )
    eng.sql(
        "insert into r9_hash_t select cast('apple' as char(10)), "
        "cast('bee' as varchar(10)), 0.22, cast('1970-02-20' as date)"
    )
    got = eng.sql("select hash(*) as h from r9_hash_t").collect()[0].h
    assert got == -505903858
    eng.spark.sql("DROP TABLE r9_hash_t")


def test_hive_hash_literals_match_udf_hash_golden(eng):
    """udf_hash.q.out: float hashes its float32 bits (1067450368 for
    1.25), booleans hash 1/0, hash(1,2,3)=1026."""
    row = eng.sql(
        "SELECT hash(CAST(1.25 AS FLOAT)) AS f, hash(TRUE) AS t, "
        "hash(FALSE) AS fa, hash(1, 2, 3) AS c FROM region LIMIT 1"
    ).collect()[0]
    assert (row.f, row.t, row.fa, row.c) == (1067450368, 1, 0, 1026)


def test_hive_hash_string_folds_utf8_bytes(eng):
    """'é' is UTF-8 C3 A9: 31*(-61) + (-87) = -1978 in Hive, where the
    code point 233 is Java's String.hashCode."""
    assert eng.sql("SELECT hash('é') AS h").collect()[0].h == -1978


def test_untyped_hash_under_join_uses_the_typed_rules(eng):
    """Under a JOIN hash() gets bare values: a date hashes its epoch
    days (1970-02-20 → 50), a decimal its normalized BigDecimal
    (0.220 → 31*22+2 = 684), a binary its bytes with seed 1
    (X'41' → 31+65 = 96)."""
    row = eng.sql(
        "SELECT hash(CAST('1970-02-20' AS DATE)) AS d, "
        "hash(CAST(0.22 AS DECIMAL(5,3))) AS x, hash(X'41') AS b "
        "FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey LIMIT 1"
    ).collect()[0]
    assert (row.d, row.x, row.b) == (50, 684, 96)


def test_java_hash_arithmetic_has_one_home():
    """java.util.Random's multiplier and the signed 32-bit wrap each
    appear in exactly one package module."""
    pkg = Path(apache_hive_2_1_1_src_spark.__file__).parent
    srcs = {str(p.relative_to(pkg)): p.read_text() for p in pkg.rglob("*.py")}
    lcg = [p for p, s in srcs.items() if "0x5DEECE66D" in s]
    wrap = re.compile(r"-\s*(?:0x100000000|\(1\s*<<\s*32\)|2\s*\*\*\s*32)\b")
    wraps = [p for p, s in srcs.items() if wrap.search(s)]
    assert lcg == ["functions/compute_stats.py"]
    assert wraps == ["operators/bucketing.py"]
