"""Unit tests for the function-compat gap set, pinning exact values
(these back the rows-only registry entries)."""

from __future__ import annotations

from pyspark.sql import functions as F

from apache_hive_2_1_1_src_spark.functions.compat import elt, field, nvl, sum0
from apache_hive_2_1_1_src_spark.operators.bucketing import hive_hash_col


def test_field_semantics(spark):
    df = spark.createDataFrame([("b",), ("z",), (None,)], "v string")
    rows = df.select(field(F.col("v"), "a", "b", "c").alias("f")).collect()
    # Hive GenericUDFField: 1-based match index, 0 when absent (NULL → 0)
    assert [r.f for r in rows] == [2, 0, 0]


def test_elt_semantics(spark):
    df = spark.createDataFrame([(1,), (3,), (5,)], "i int")
    rows = df.select(elt(F.col("i"), "a", "b", "c").alias("e")).collect()
    assert [r.e for r in rows] == ["a", "c", None]  # out-of-range → NULL


def test_nvl_and_sum0(spark):
    df = spark.createDataFrame([(None,), (2.0,)], "x double")
    assert df.select(nvl(F.col("x"), 9.0).alias("n")).collect()[1].n == 2.0
    empty = df.filter(F.col("x") < -100)
    assert empty.agg(sum0(F.col("x")).alias("s")).collect()[0].s == 0.0
    assert empty.agg(F.sum("x").alias("s")).collect()[0].s is None


def test_hive_hash_matches_java_string_hashcode(spark):
    # Java "abc".hashCode() == 96354 ; "hive".hashCode() == 3202928
    df = spark.createDataFrame([("abc",), ("hive",)], "s string")
    rows = df.select(hive_hash_col(df, "s").alias("h")).collect()
    assert [r.h for r in rows] == [96354, 3202928]


def test_xpath_pinned_values(spark, sf_dir):
    from apache_hive_2_1_1_src_spark.queries.functions_sql import q65_xpath

    rows = {r.n_nationkey: (r.xp_name, r.xp_rk) for r in q65_xpath(spark, sf_dir).collect()}
    assert len(rows) == 25
    assert all(isinstance(v[0], str) and v[0] for v in rows.values())
    assert all(0 <= v[1] <= 4 for v in rows.values())


def test_string_extra_pinned_values(spark, sf_dir):
    from apache_hive_2_1_1_src_spark.queries.functions_sql import q107_string_extra_pinned

    rows = {r.n_nationkey: r for r in q107_string_extra_pinned(spark, sf_dir).collect()}
    r0 = rows[0]  # NATION_0
    # only one 'A' in the name -> substring_index returns the whole string
    assert r0.upto_2nd_a == "NATION_0"
    assert r0.title == "Nation_0"
    assert r0.fmt == "0.00"
    assert rows[1].fmt == "1,234.57"
    assert rows[15].hex_via_conv == "F"

    # soundex has no DuckDB equivalent -> pinned here (moved out of the
    # oracle-checked q107 projection in round 4)
    from pyspark.sql import functions as F

    from apache_hive_2_1_1_src_spark.io import load_table

    sndx = {
        r.n_nationkey: r.sndx
        for r in load_table(spark, sf_dir, "nation")
        .select("n_nationkey", F.soundex("n_name").alias("sndx"))
        .collect()
    }
    assert sndx[0] == "N350"


def test_date_extra_pinned_values(spark, sf_dir):
    from apache_hive_2_1_1_src_spark.queries.functions_sql import q108_date_extra

    rows = q108_date_extra(spark, sf_dir).collect()
    import datetime as dt

    for r in rows[:50]:
        nd = dt.date.fromisoformat(r.next_monday)
        assert nd.weekday() == 0  # always a Monday
        assert r.from_epoch.endswith("00:00:00")

    # months_between keeps the Oracle 31-day convention in Hive and Spark
    # but not DuckDB -> pinned here (moved out of q108's oracle projection)
    from pyspark.sql import functions as F

    mb = (
        spark.range(1)
        .select(
            F.round(
                F.months_between(
                    F.lit("2000-01-31").cast("date"), F.lit("1999-12-31").cast("date")
                ),
                4,
            ).alias("m")
        )
        .collect()[0]
        .m
    )
    assert mb == 1.0  # both month-ends -> exactly 1 month apart


def test_hive_text_roundtrip_preserves_nulls(spark, tmp_path):
    from apache_hive_2_1_1_src_spark.io import read_hive_text, write_hive_text

    df = spark.createDataFrame([(1, None), (2, "x")], "k int, v string")
    out = str(tmp_path / "t")
    write_hive_text(df, out)
    back = read_hive_text(spark, out, "k int, v string").orderBy("k").collect()
    assert [(r.k, r.v) for r in back] == [(1, None), (2, "x")]


def test_in_file_matches_hive_contract(spark, sf_dir, tmp_path):
    """in_file(str, filename): exact line membership
    (GenericUDFInFile.java contract — no trimming, no pattern match)."""
    from pyspark.sql import functions as F

    from apache_hive_2_1_1_src_spark.functions.compat import in_file
    from apache_hive_2_1_1_src_spark.io import load_table

    f = tmp_path / "priorities.txt"
    f.write_text("1-URGENT\n3-MEDIUM\n")
    orders = load_table(spark, sf_dir, "orders")
    got = (
        orders.filter(in_file(F.col("o_orderpriority"), str(f)))
        .select("o_orderpriority")
        .distinct()
        .collect()
    )
    assert sorted(r[0] for r in got) == ["1-URGENT", "3-MEDIUM"]
    empty = tmp_path / "empty.txt"
    empty.write_text("")
    assert orders.filter(in_file(F.col("o_orderpriority"), str(empty))).count() == 0


def test_macro_expansion_no_parameter_capture(spark, sf_dir):
    """GenericUDFMacro compat (session.py _expand_macros): an argument
    that textually contains a LATER parameter name must not be rewritten
    again — f(a,b)=a+b called as f(b, 2) is (b)+(2), not ((2))+(2)."""
    from apache_hive_2_1_1_src_spark.session import HiveEngine

    eng = HiveEngine(spark, sf_dir)
    eng.sql("CREATE TEMPORARY MACRO addm(a INT, b INT) a + b")
    got = eng.sql("SELECT addm(b, 2) AS r FROM (SELECT 10 AS b)").first()
    assert got.r == 12
    # swapped order: argument containing the EARLIER parameter name
    got2 = eng.sql("SELECT addm(2, a) AS r FROM (SELECT 7 AS a)").first()
    assert got2.r == 9
    eng.sql("DROP TEMPORARY MACRO addm")


def test_macro_expansion_skips_string_literals(spark, sf_dir):
    """Macro NAMES inside quoted query text and parameter names inside
    the body's quoted literals must be left alone."""
    from apache_hive_2_1_1_src_spark.session import HiveEngine

    eng = HiveEngine(spark, sf_dir)
    eng.sql("CREATE TEMPORARY MACRO tagit(x STRING) concat('x=', x)")
    got = eng.sql("SELECT tagit('v') AS a, 'call tagit(here)' AS b").first()
    assert got.a == "x=v"          # body literal 'x=' untouched by param x
    assert got.b == "call tagit(here)"  # quoted call site not expanded
    eng.sql("DROP TEMPORARY MACRO tagit")


def test_hive_multijoin_single_on_form(spark, sf_dir):
    """join_cond_pushdown_1.q's statement shape — `a JOIN b JOIN c ON
    <all conditions>` with every condition in ONE trailing ON — must
    parse and produce exactly the rows of the ANSI per-join spelling
    (the golden files g229-g232 use the ANSI form because DuckDB cannot
    parse the Hive form; this pins Spark-side equivalence)."""
    from apache_hive_2_1_1_src_spark.session import HiveEngine

    eng = HiveEngine(spark, sf_dir)
    eng.register_tables()
    hive_form = eng.sql(
        "SELECT p1.p_partkey AS k1, p2.p_partkey AS k2, p3.p_partkey AS k3 "
        "FROM part p1 JOIN part p2 JOIN part p3 "
        "ON p1.p_name = p2.p_name AND p2.p_name = p3.p_name"
    )
    ansi_form = eng.sql(
        "SELECT p1.p_partkey AS k1, p2.p_partkey AS k2, p3.p_partkey AS k3 "
        "FROM part p1 JOIN part p2 ON p1.p_name = p2.p_name "
        "JOIN part p3 ON p2.p_name = p3.p_name"
    )
    a = sorted(tuple(r) for r in hive_form.collect())
    b = sorted(tuple(r) for r in ansi_form.collect())
    assert a == b and len(a) > 0


def test_hive_greatest_least_null_propagation(spark):
    """udf_greatest.q / udf_least.q (GenericUDFBaseNwayCompare): any NULL
    argument makes the result NULL — unlike Spark's null-skipping
    builtins, whose divergent value is asserted alongside."""
    from apache_hive_2_1_1_src_spark.functions.compat import (
        hive_greatest,
        hive_least,
    )

    df = spark.sql(
        "SELECT * FROM VALUES "
        "('a', 'b', 'c'), (NULL, 'b', 'c'), ('a', NULL, NULL) AS t(x, y, z)"
    )
    rows = df.select(
        hive_greatest(F.col("x"), F.col("y"), F.col("z")).alias("hg"),
        hive_least(F.col("x"), F.col("y"), F.col("z")).alias("hl"),
        F.greatest(F.col("x"), F.col("y"), F.col("z")).alias("sg"),
    ).collect()
    assert [(r.hg, r.hl) for r in rows] == [("c", "a"), (None, None), (None, None)]
    # Spark's builtin diverges: it skips nulls
    assert [r.sg for r in rows] == ["c", "c", "a"]
    # numeric form, udf_greatest.q second block
    nrow = spark.range(1).select(
        hive_greatest(F.lit(1), F.lit(13), F.lit(2)).alias("a"),
        hive_greatest(F.lit(None).cast("int"), F.lit(1), F.lit(2)).alias("b"),
        hive_least(F.lit(-11), F.lit(-13), F.lit(-12)).alias("c"),
    ).first()
    assert (nrow.a, nrow.b, nrow.c) == (13, None, -13)
