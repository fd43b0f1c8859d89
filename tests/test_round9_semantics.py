"""Round-9 semantic pins: union+LIMIT binding, masking
db-qualification, LazyBoolean vs GenericUDFToBoolean truth tables,
legacy outer-join filter pushing, Avro container IO, partition
metadata-only answers, and qtest cell framing (the typed hash() pins
live in test_bucketing.py).

Each pin cites the reference behavior it locks (file:line or .q golden)
so a regression is traceable to the semantics it breaks.
"""

from __future__ import annotations

import datetime
import os
import decimal

import pytest

from apache_hive_2_1_1_src_spark.session import HiveEngine


@pytest.fixture(scope="module")
def eng(spark):
    e = HiveEngine(spark, "/root/testdata/sf0.001")
    e.register_tables()
    yield e
    e._vars = {}


# ---------------------------------------------------------------- union+LIMIT
def test_union_limit_binds_to_whole_union(eng, spark):
    """HiveParser binds a trailing LIMIT to the WHOLE union
    (parquet_ppd_char.q.out fixture = 10 rows; merge4.q.out's union
    insert lists only the single limited row's partition)."""
    spark.sql("DROP TABLE IF EXISTS r9_union_t")
    spark.sql("CREATE TABLE r9_union_t (c string) USING parquet")
    eng.sql(
        "insert overwrite table r9_union_t select * from ("
        "select 'a' from region union all select 'b' from nation limit 10"
        ") u"
    )
    rows = [r.c for r in spark.table("r9_union_t").collect()]
    assert len(rows) == 10
    # Hive's MR round-robin keeps an even split (5 apple + 5 hello in
    # the ppd goldens)
    assert rows.count("a") == 5 and rows.count("b") == 5
    spark.sql("DROP TABLE r9_union_t")


# ------------------------------------------------------------------- masking
def test_masking_applies_to_db_qualified_reference(eng):
    """A db-qualified read of a policied table must still be rewritten
    (SQLStdHiveAuthorizationValidatorForTest filters by table NAME;
    masking_1_newdb.q golden returns 6 masked rows, not 500 raw)."""
    from apache_hive_2_1_1_src_spark.operators import masking as mk

    pol = mk.MaskingPolicy(
        row_filter="key % 2 = 0", column_masks={"value": "reverse(value)"}
    )
    out = mk.rewrite_with_policies(
        "select * from otherdb.masking_test",
        {"masking_test": pol},
        lambda t: [("key", "int"), ("value", "string")],
    )
    assert "otherdb.masking_test" in out
    assert "reverse" in out and "key % 2 = 0" in out


# ------------------------------------------------------------------ booleans
def test_lazy_boolean_text_read_is_strict(eng, spark, tmp_path):
    """LazyBoolean.java accepts exactly TRUE/FALSE; 't'/'1' read as NULL
    (bool_literal.q.out first block)."""
    p = tmp_path / "bools.txt"
    p.write_text("1\x01TRUE\n2\x01t\n3\x011\n4\x01FALSE\n")
    spark.sql("DROP TABLE IF EXISTS r9_bool_t")
    eng.sql("create table r9_bool_t (k int, b boolean) stored as textfile")
    eng.sql(f"LOAD DATA LOCAL INPATH '{p}' INTO TABLE r9_bool_t")
    got = {r.k: r.b for r in spark.table("r9_bool_t").collect()}
    assert got == {1: True, 2: None, 3: None, 4: False}
    spark.sql("DROP TABLE r9_bool_t")


def test_cast_string_to_boolean_is_nonempty_rule(eng):
    """GenericUDFToBoolean: any non-empty string → true, '' → false
    (PrimitiveObjectInspectorUtils.java:550-558; udf_to_boolean.q)."""
    row = eng.sql(
        "SELECT CAST('Foo' AS BOOLEAN) AS a, CAST('' AS BOOLEAN) AS b, "
        "CAST('false' AS BOOLEAN) AS c"
    ).collect()[0]
    assert (row.a, row.b, row.c) == (True, False, True)


# ------------------------------------------------- legacy outer-join filters
def test_legacy_outer_filter_prefilters_preserved_side(eng, spark):
    """hive.outerjoin.supports.filters=false pushes single-sided ON
    conjuncts BEFORE the join (SemanticAnalyzer.java:2688-2810) — a
    preserved row failing its filter disappears instead of
    null-extending (join_1to1.q 21-row goldens)."""
    spark.sql("DROP TABLE IF EXISTS r9_oj")
    spark.sql("CREATE TABLE r9_oj (k int, v int) USING parquet")
    spark.sql("INSERT INTO r9_oj VALUES (1, 66), (2, 77)")
    eng.set_var("hive.outerjoin.supports.filters", "false")
    try:
        legacy = eng.sql(
            "SELECT * FROM r9_oj a FULL OUTER JOIN r9_oj b "
            "ON a.k = b.k AND a.v = 66 AND b.v = 66"
        ).collect()
    finally:
        eng._vars.pop("hive.outerjoin.supports.filters", None)
    # legacy: both sides pre-filtered to v=66 → one matched row plus
    # NOTHING for k=2 on either side... except full outer keeps no
    # unmatched rows because both inputs shrank to the k=1 row
    assert len(legacy) == 1
    modern = eng.sql(
        "SELECT * FROM r9_oj a FULL OUTER JOIN r9_oj b "
        "ON a.k = b.k AND a.v = 66 AND b.v = 66"
    ).collect()
    # modern: 2 a-rows preserved + 1 unmatched b-row = 3
    assert len(modern) == 3
    spark.sql("DROP TABLE r9_oj")


# ------------------------------------------------------------------ avro IO
def _avro_container(schema: dict, rows: list, codec: bytes) -> bytes:
    """One Avro object container holding ``rows`` in a single block,
    compressed per ``codec`` (deflate = raw DEFLATE, no zlib header).
    Decimal logical-type fields take Decimal values, encoded as the
    big-endian two's-complement unscaled bytes the spec prescribes."""
    import io
    import json
    import zlib

    from apache_hive_2_1_1_src_spark.avro_io import (
        MAGIC,
        _encode_value,
        _write_bytes,
        _write_long,
    )

    sync = bytes(range(16))
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec}
    _write_long(out, len(meta))
    for k, v in meta.items():
        _write_bytes(out, k.encode())
        _write_bytes(out, v)
    _write_long(out, 0)
    out.write(sync)
    block = io.BytesIO()
    for row in rows:
        for f, value in zip(schema["fields"], row):
            t = f["type"]
            if isinstance(t, dict) and t.get("logicalType") == "decimal":
                n = int(value.scaleb(t["scale"]))
                _write_bytes(block, n.to_bytes(n.bit_length() // 8 + 1, "big", signed=True))
            else:
                _encode_value(block, t, value)
    payload = block.getvalue()
    if codec == b"deflate":
        z = zlib.compressobj(wbits=-15)
        payload = z.compress(payload) + z.flush()
    _write_long(out, len(rows))
    _write_bytes(out, payload)
    out.write(sync)
    return out.getvalue()


_DOCTORS = [
    (1, "William", "Hartnell"), (2, "Patrick", "Troughton"),
    (3, "Jon", "Pertwee"), (4, "Tom", "Baker"), (5, "Peter", "Davison"),
    (6, "Colin", "Baker"), (7, "Sylvester", "McCoy"), (8, "Paul", "McGann"),
    (9, "Christopher", "Eccleston"), (10, "David", "Tennant"),
    (11, "Matt", "Smith"),
]


def test_avro_deflate_container_and_schema_resolution(spark, tmp_path):
    """A deflate-compressed container (the reference's doctors.avro
    shape) read against a reader schema carrying an extra defaulted
    field applies the default (avro_add_column.q / avro_joins.q
    goldens)."""
    from pyspark.sql import types as T

    from apache_hive_2_1_1_src_spark.avro_io import (
        decode_container,
        read_avro_resolved,
    )

    writer = {
        "type": "record",
        "name": "doctors",
        "fields": [
            {"name": "number", "type": "int"},
            {"name": "first_name", "type": "string"},
            {"name": "last_name", "type": "string"},
        ],
    }
    raw = _avro_container(writer, _DOCTORS, b"deflate")
    path = tmp_path / "doctors.avro"
    path.write_bytes(raw)
    schema, rows = decode_container(raw)
    assert len(rows) == 11
    assert schema["fields"][0]["name"] == "number"
    assert rows == _DOCTORS
    reader = {
        "type": "record",
        "name": "doctors",
        "fields": [
            {"name": "number", "type": "int"},
            {"name": "first_name", "type": "string"},
            {"name": "extra", "type": "string", "default": "fishfingers"},
        ],
    }
    tbl_schema = T.StructType(
        [
            T.StructField("number", T.IntegerType()),
            T.StructField("first_name", T.StringType()),
            T.StructField("extra", T.StringType()),
        ]
    )
    df = read_avro_resolved(spark, str(path), tbl_schema, reader)
    got = {r.number: (r.first_name, r.extra) for r in df.collect()}
    assert len(got) == 11
    assert all(v[1] == "fishfingers" for v in got.values())
    assert got == {n: (first, "fishfingers") for n, first, _ in _DOCTORS}


def test_avro_decimal_logical_type_rescales_half_up(spark, tmp_path):
    """A bytes-backed decimal(5,2) logical type (the reference's dec.avro
    shape) read as decimal(4,1) rescales HALF_UP (avro_decimal.q golden
    234.79→234.8); ties round away from zero, never to even."""
    from pyspark.sql import types as T

    from apache_hive_2_1_1_src_spark.avro_io import read_avro_resolved

    dec52 = {"type": "bytes", "logicalType": "decimal", "precision": 5, "scale": 2}
    writer = {
        "type": "record",
        "name": "dec",
        "fields": [
            {"name": "name", "type": "string"},
            {"name": "value", "type": dec52},
        ],
    }
    # (written decimal(5,2), expected decimal(4,1) under HALF_UP)
    cases = [
        ("234.79", "234.8"), ("77.34", "77.3"), ("55.71", "55.7"),
        ("12.25", "12.3"), ("-3.45", "-3.5"), ("0.05", "0.1"),
        ("99.99", "100.0"), ("1.00", "1.0"), ("33.11", "33.1"),
        ("-78.56", "-78.6"),
    ]
    rows = [(f"n{i}", decimal.Decimal(w)) for i, (w, _) in enumerate(cases)]
    path = tmp_path / "dec.avro"
    path.write_bytes(_avro_container(writer, rows, b"null"))
    tbl = T.StructType(
        [
            T.StructField("name", T.StringType()),
            T.StructField("value", T.DecimalType(4, 1)),
        ]
    )
    df = read_avro_resolved(spark, str(path), tbl, None)
    got = {r.name: str(r.value) for r in df.collect()}
    assert "234.8" in got.values() and len(got) == 10
    assert got == {f"n{i}": e for i, (_, e) in enumerate(cases)}


# -------------------------------------------------- partition metadata-only
def test_partition_key_answers_from_partition_list(eng, spark):
    """MetadataOnlyOptimizer: max(pcol) over EMPTY partitions answers
    from partition VALUES (metadataonly1.q golden '1')."""
    import shutil

    spark.sql("DROP TABLE IF EXISTS r9_meta_t")
    # an empty ADDed partition leaves its directory behind after DROP —
    # clear the managed location so re-runs don't trip
    # LOCATION_ALREADY_EXISTS
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        os.path.join(wh.removeprefix("file:"), "r9_meta_t"),
        ignore_errors=True,
    )
    spark.sql(
        "CREATE TABLE r9_meta_t (a int) USING parquet PARTITIONED BY (ds string)"
    )
    spark.sql("ALTER TABLE r9_meta_t ADD PARTITION (ds='7')")
    got = eng.sql("select max(ds) as m from r9_meta_t").collect()
    assert got[0].m == "7"
    # non-distinct count counts DATA rows — still 0
    got = eng.sql("select count(ds) as c from r9_meta_t").collect()
    assert got[0].c == 0
    spark.sql("DROP TABLE r9_meta_t")


# ------------------------------------------------------------- qtest framing
def test_canon_braces_sorts_map_entries_only_within_groups():
    from apache_hive_2_1_1_src_spark.qtest import _canon_braces

    a = 'x\t{"Earth":42,"Bob":31}\ty'
    b = 'x\t{"Bob":31,"Earth":42}\ty'
    assert _canon_braces(a) == _canon_braces(b)
    # quoted braces/commas survive untouched
    s = '{"k":"a,b}c"}'
    assert _canon_braces(s) == s


def test_decimal_cell_renders_plain_notation():
    from apache_hive_2_1_1_src_spark.qtest import hive_cell

    assert hive_cell(decimal.Decimal("0E-18")) == "0.000000000000000000"
    assert hive_cell(decimal.Decimal("1.5")) == "1.5"


def test_nested_dates_quote_like_strings():
    from apache_hive_2_1_1_src_spark.qtest import hive_cell

    assert (
        hive_cell({"bar": datetime.date(1998, 5, 7)}) == '{"bar":"1998-05-07"}'
    )
