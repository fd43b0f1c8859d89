"""Round-11 semantic pins for the round-10 VERDICT "do this" items:

1. NUL-valued dynamic partition values write through the Hive-escaped
   fallback (FileUtils.escapePathName: Spark escapes \\u0001-\\u001F but
   not \\u0000 — escape1.q) and SHOW PARTITIONS prints %00.
2. CAST(x AS VARCHAR(n)) truncates (GenericUDFToVarchar; varchar_1.q);
   char→varchar converts via the STRIPPED value (char_cast.q).
3. char(n)-vs-char(m) comparisons strip trailing pad
   (GenericUDFBaseCompare; char_comparison.q).
4. UDFs see STRIPPED char args (TextConverter), but upper/lower/concat
   preserve the char TYPE (padded) and min/max return the input char
   type (char_udf1.q).
5. Default-path SQL percentile_approx stays on Spark's native mergeable
   sketch (no grouped-agg pandas UDAF in the plan — O(group) memory);
   the Hive-exact NumericHistogram path is opt-in
   (hive_exact_percentile / qtest runs).
6. ADD PARTITION ... LOCATION over a nested list-bucketing directory of
   parquet files reads the real values, not text-parse NULLs
   (ListBucketingPruner layout; list_bucket_query_oneskew_1.q).
"""

from __future__ import annotations

import os

import pytest

from apache_hive_2_1_1_src_spark.session import HiveEngine
from apache_hive_2_1_1_src_spark.sqltext import escape_path_name
from apache_hive_2_1_1_src_spark.table_desc import catalog_entry


@pytest.fixture(scope="module")
def eng(spark):
    e = HiveEngine(spark, "/root/testdata/sf0.001")
    e.register_tables()
    yield e
    e._vars = {}


# ----------------------------------------------- NUL partition fallback
def test_nul_partition_value_write_and_listing(eng, spark, tmp_path_factory):
    spark.sql("DROP TABLE IF EXISTS r11_nul_t")
    eng.sql("create table r11_nul_t (a string) partitioned by (p string)")
    eng.sql(
        "insert overwrite table r11_nul_t partition (p) "
        "select 'v', concat('x', chr(0)) "
    )
    rows = eng.sql("select a, p from r11_nul_t").collect()
    assert [(r.a, r.p) for r in rows] == [("v", "x\x00")]
    parts = [r[0] for r in eng.sql("SHOW PARTITIONS r11_nul_t").collect()]
    assert parts == ["p=x%00"]
    # the partition directory on disk is Hive-escaped
    loc = catalog_entry(eng.spark, "r11_nul_t").location
    assert os.path.isdir(os.path.join(loc, "p=x%00"))
    spark.sql("DROP TABLE IF EXISTS r11_nul_t")


def test_escape_path_name_matches_hive_charset():
    # FileUtils.java escapePathName reserved set
    assert escape_path_name("\x00") == "%00"
    assert escape_path_name("a/b") == "a%2Fb"
    assert escape_path_name("x y") == "x y"  # space kept
    assert escape_path_name("[k]") == "%5Bk%5D"


# --------------------------------------------------- varchar/char casts
def test_varchar_cast_truncates(eng):
    r = eng.sql(
        "select cast('val_0' as varchar(3)) as v, "
        "cast(cast('abc123' as char(10)) as varchar(10)) as cv"
    ).collect()[0]
    assert r.v == "val"
    assert r.cv == "abc123"  # stripped, not 'abc123    '


def test_char_char_comparison_strips_pad(eng):
    r = eng.sql(
        "select cast('abc' as char(10)) = cast('abc' as char(3)) as eq, "
        "cast('abc ' as char(10)) = cast('abc' as char(10)) as eq2, "
        "cast(' abc' as char(10)) <> cast('abc' as char(10)) as ne"
    ).collect()[0]
    assert (r.eq, r.eq2, r.ne) == (True, True, True)


def test_char_udf_arg_stripping_and_type_preservation(eng, spark):
    spark.sql("DROP TABLE IF EXISTS r11_char_t")
    eng.sql("create table r11_char_t (c3 char(10), c4 char(20))")
    eng.sql("insert into r11_char_t values ('238', 'val_238')")
    r = eng.sql(
        "select concat(c3, c4) as cc, upper(c4) as uc, length(c4) as lc, "
        "min(c4) as mn from r11_char_t group by c3, c4"
    ).collect()[0]
    assert r.cc == "238val_238" + " " * 20  # char(30): stripped concat, padded
    assert r.uc == "VAL_238" + " " * 13  # char(20) preserved
    assert r.lc == 7  # stripped length
    assert r.mn == "val_238" + " " * 13  # min returns input char type
    spark.sql("DROP TABLE IF EXISTS r11_char_t")


# ----------------------------------------------- percentile scale gate
def test_default_sql_percentile_is_native_sketch(eng):
    """The default SQL path must NOT plan the grouped-agg pandas UDAF
    (O(group) memory, no partial/merge) — Spark's native mergeable GK
    sketch only.  The Hive-exact path is opt-in."""
    df = eng.sql(
        "select l_returnflag, percentile_approx(l_quantity, 0.5) as m "
        "from lineitem group by l_returnflag"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hive_percentile_approx" not in plan
    assert "AggregateInPandas" not in plan
    eng.hive_exact_percentile = True
    try:
        df2 = eng.sql(
            "select percentile_approx(l_quantity, 0.5) as m from lineitem"
        )
        plan2 = df2._jdf.queryExecution().executedPlan().toString()
        assert "hive_percentile_approx" in plan2
    finally:
        eng.hive_exact_percentile = False


# ------------------------------------------- list-bucketing DDL reads
def test_list_bucket_nested_location_reads_values(eng, spark, tmp_path):
    """ADD PARTITION ... LOCATION over a directory whose data lives in
    list-bucketing SUBDIRECTORIES must surface the real parquet values
    (the text-parse of parquet bytes returned NULL rows — a silent
    wrong answer)."""
    spark.sql("DROP TABLE IF EXISTS r11_lb_t")
    spark.sql("DROP TABLE IF EXISTS r11_lb_src")
    eng.sql("create table r11_lb_src (x int)")
    eng.sql("insert into r11_lb_src values (484), (495)")
    srcloc = catalog_entry(eng.spark, "r11_lb_src").location
    base = tmp_path / "fact" / "ds=1"
    skew = base / "x=484"
    skew.mkdir(parents=True)
    import shutil

    for e in os.listdir(srcloc):
        if not e.startswith((".", "_")):
            shutil.copy(os.path.join(srcloc, e), skew / e)
    eng.sql(
        "create table r11_lb_t (x int) partitioned by (ds string) "
        "stored as textfile"
    )
    eng.sql(
        f"ALTER TABLE r11_lb_t ADD PARTITION (ds='1') LOCATION '{base}'"
    )
    rows = sorted(
        (r.x, r.ds)
        for r in eng.sql("select x, ds from r11_lb_t where ds='1'").collect()
    )
    assert rows == [(484, "1"), (495, "1")]
    spark.sql("DROP TABLE IF EXISTS r11_lb_t")
    spark.sql("DROP TABLE IF EXISTS r11_lb_src")
