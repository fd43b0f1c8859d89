"""HiveEngine.sql's rule table: its shape, the post-write hooks' target
parse, and statement pins for single rules."""

from __future__ import annotations

import inspect
import re

import pytest

from apache_hive_2_1_1_src_spark import rules
from apache_hive_2_1_1_src_spark.session import HiveEngine


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    e = HiveEngine(spark, sf_dir)
    e.register_tables()
    yield e
    e._vars = {}


# ------------------------------------------------------------ the table
def test_rule_retry_and_hook_names_are_unique():
    names = [n for n, _kind, _fn in HiveEngine._RULES] + [
        rules.name(f)
        for f in HiveEngine._RETRIES + HiveEngine._HOOKS
    ]
    assert len(names) == len(set(names))


def test_run_statement_dispatches_only_through_the_table():
    src = inspect.getsource(HiveEngine._run_statement)
    assert not re.search(r"\bre\.(match|search|sub)\(", src)


def test_hits_count_answers_and_changed_text(eng):
    before = rules.HITS.copy()
    eng.sql("SET r_hits.k=1")
    eng.sql("SELECT stddev(r_regionkey) FROM region").collect()
    eng.sql("SELECT 1").collect()
    assert rules.HITS["set_var"] == before["set_var"] + 1
    assert rules.HITS["stddev"] == before["stddev"] + 1


# ------------------------------- post-write hooks: backticked targets
def test_backticked_insert_records_default_partition(eng, spark):
    spark.sql("DROP TABLE IF EXISTS dp2")
    eng.sql("CREATE TABLE dp2 (a INT) PARTITIONED BY (p STRING)")
    eng.sql(
        "INSERT INTO TABLE `dp2` PARTITION (p) SELECT 1, CAST(NULL AS STRING)"
    )
    assert [r.p for r in eng.sql("SELECT p FROM dp2").collect()] == [
        "__HIVE_DEFAULT_PARTITION__"
    ]
    eng.sql("DROP TABLE dp2")


def test_backticked_insert_gathers_stats(eng, spark):
    spark.sql("DROP TABLE IF EXISTS sa2")
    eng.sql("CREATE TABLE sa2 (a INT)")
    eng.sql("SET hive.stats.autogather=true")
    try:
        eng.sql("INSERT INTO TABLE `sa2` SELECT 1")
    finally:
        eng._vars.pop("hive.stats.autogather", None)
    rows = spark.sql("DESCRIBE TABLE EXTENDED sa2").collect()
    assert any(r.col_name == "Statistics" for r in rows)
    eng.sql("DROP TABLE sa2")


def test_backticked_self_overwrite(eng, spark):
    spark.sql("DROP TABLE IF EXISTS so2")
    eng.sql("CREATE TABLE so2 (a INT)")
    eng.sql("INSERT INTO TABLE so2 SELECT 1")
    eng.sql("INSERT OVERWRITE TABLE `so2` SELECT a + 1 FROM `so2`")
    assert [r.a for r in eng.sql("SELECT a FROM so2").collect()] == [2]
    eng.sql("DROP TABLE so2")


def test_self_overwrite_without_table_keyword(eng, spark):
    # Spark's grammar accepts INSERT OVERWRITE t; the fallback parses the
    # same target as for INSERT OVERWRITE TABLE t
    spark.sql("DROP TABLE IF EXISTS so3")
    eng.sql("CREATE TABLE so3 (a INT)")
    eng.sql("INSERT INTO so3 SELECT 1")
    eng.sql("INSERT OVERWRITE so3 SELECT a + 1 FROM so3")
    assert [r.a for r in eng.sql("SELECT a FROM so3").collect()] == [2]
    eng.sql("DROP TABLE so3")


# ------------------------------------------- truncate vs NULL partitions
def test_truncate_partition_keeps_null_partition_rows(eng, spark):
    spark.sql("DROP TABLE IF EXISTS r12_trunc_t")
    eng.sql(
        "create table r12_trunc_t (v int) partitioned by (ds string)"
        " stored as textfile"
    )
    eng.sql("insert into r12_trunc_t partition (ds='1') values (1), (2)")
    # NULL partition value → __HIVE_DEFAULT_PARTITION__
    eng.sql(
        "insert into r12_trunc_t partition (ds) select 9, cast(null as string)"
    )
    eng.sql("truncate table r12_trunc_t partition (ds='1', )")
    rows = eng.sql("select v from r12_trunc_t").collect()
    assert [r[0] for r in rows] == [9]  # the NULL-partition row survives
    eng.sql("drop table r12_trunc_t")


# -------------------------------------- db-qualified temp-table intercept
def test_insert_qualified_name_hits_catalog_not_temp(eng, spark):
    import shutil

    spark.sql("CREATE DATABASE IF NOT EXISTS r12db")
    spark.sql("DROP TABLE IF EXISTS r12db.tshadow")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    shutil.rmtree(
        wh.replace("file:", "") + "/r12db.db/tshadow", ignore_errors=True
    )
    spark.sql("DROP TABLE IF EXISTS tshadow")
    shutil.rmtree(
        wh.replace("file:", "") + "/tshadow", ignore_errors=True
    )
    spark.sql("CREATE TABLE r12db.tshadow (a int) USING parquet")
    # session temp table with the same bare name, created in default db
    eng.sql("create temporary table tshadow (a int)")
    eng.sql("insert into tshadow values (1)")
    # db-qualified insert targets the REAL catalog table
    eng.sql("insert into r12db.tshadow select 42")
    cat = spark.table("r12db.tshadow").collect()
    assert [r[0] for r in cat] == [42]
    # the temp view kept only its own row
    tmp = spark.table("tshadow").collect()
    assert [r[0] for r in tmp] == [1]
    spark.catalog.dropTempView("tshadow")
    getattr(eng, "_temp_tables", set()).discard("tshadow")
    getattr(eng, "_session_temp_tables", set()).discard("tshadow")
    spark.sql("DROP TABLE r12db.tshadow")
    spark.sql("DROP DATABASE r12db")


# ------------------------------------- percentile_approx over multi-table
def test_percentile_approx_over_join_no_ambiguous_metadata(eng):
    if not hasattr(eng, "_vars"):
        eng._vars = {}
    eng._vars["hive.percentile.exact"] = "true"
    try:
        v = eng.sql(
            "select percentile_approx(a.n_nationkey, 0.5) as p "
            "from nation a join nation b on a.n_nationkey = b.n_nationkey"
        ).collect()[0][0]
        # the point: no AMBIGUOUS_REFERENCE from an injected _metadata;
        # Hive's histogram interpolation over 0..24 answers 11.5
        assert v is not None and 11.0 <= v <= 13.0
    finally:
        eng._vars.pop("hive.percentile.exact", None)


# ----------------------------------------------- NOT IN (...) = literal
def test_not_in_comparison_parenthesization(eng):
    rows = eng.sql(
        "select (1 not in (1, 2)) = false as x, 2 NOT IN (3) = true as y"
    ).collect()
    assert rows[0][0] is True and rows[0][1] is True


# ------------------------------------------- SHOW FUNCTIONS name-only line
def test_show_functions_returns_bare_name(eng, spark):
    eng.sql(
        "create temporary function r13fn as "
        "'org.apache.hadoop.hive.ql.udf.generic.GenericUDFUpper'"
    )
    shown = eng.sql("show functions r13fn").collect()
    assert len(shown) == 1
    assert "session function" not in shown[0][0]
    assert shown[0][0].endswith("r13fn")
    desc = eng.sql("describe function r13fn").collect()
    assert any("session function" in r[0] for r in desc)
    eng.sql("drop temporary function r13fn")
