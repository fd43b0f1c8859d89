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
    # the temp table kept only its own row
    tmp = spark.table("tshadow").collect()
    assert [r[0] for r in tmp] == [1]
    eng.sql("DROP TABLE tshadow")
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


# ------------------------------------------------- TEMPORARY tables
def _rows(eng, query):
    return [tuple(r) for r in eng.sql(query).collect()]


@pytest.mark.parametrize(
    "create, first",
    [
        ("CREATE TEMPORARY TABLE tt (a int, b string)", []),
        ("CREATE TEMPORARY TABLE tt AS SELECT 0 AS a, 'w' AS b", [(0, "w")]),
        ("CREATE TEMPORARY TABLE tt (a int, b string) USING parquet", []),
    ],
    ids=["columns", "as_select", "using"],
)
def test_temp_table_insert_and_read(eng, spark, create, first):
    spark.sql("DROP TABLE IF EXISTS tt")
    eng.sql(create)
    try:
        eng.sql("INSERT INTO tt VALUES (1, 'x')")
        eng.sql("INSERT INTO TABLE tt SELECT 2, 'y'")
        for name in ("tt", "default.tt"):
            assert _rows(eng, f"SELECT a, b FROM {name} ORDER BY a") == first + [
                (1, "x"),
                (2, "y"),
            ]
    finally:
        eng.sql("DROP TABLE tt")


def test_temp_table_shadows_catalog_table(eng, spark):
    for t in ("tsh", "tsh2"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        eng.sql(f"CREATE TABLE {t} (a int)")
    eng.sql("INSERT INTO tsh VALUES (7)")
    eng.sql("INSERT INTO tsh2 VALUES (8)")
    try:
        eng.sql("CREATE TEMPORARY TABLE tsh (a int)")
        eng.sql("INSERT INTO tsh VALUES (1)")
        eng.sql("INSERT INTO tsh SELECT 2")
        for name in ("tsh", "default.tsh"):
            assert _rows(eng, f"SELECT a FROM {name} ORDER BY a") == [(1,), (2,)]
        # dropping the temp table brings back the permanent rows
        eng.sql("DROP TABLE tsh")
        assert _rows(eng, "SELECT a FROM tsh") == [(7,)]
        eng.sql("CREATE TEMPORARY TABLE tsh (a int)")
        eng.sql("DROP TABLE `tsh` PURGE")
        assert _rows(eng, "SELECT a FROM tsh") == [(7,)]
        # a renamed shadow shadows the catalog table of its new name
        eng.sql("CREATE TEMPORARY TABLE tsh (a int)")
        eng.sql("INSERT INTO tsh VALUES (3)")
        eng.sql("ALTER TABLE tsh RENAME TO tsh2")
        assert _rows(eng, "SELECT a FROM tsh2") == [(3,)]
        assert _rows(eng, "SELECT a FROM tsh") == [(7,)]
        eng.sql("DROP TABLE tsh2")
        assert _rows(eng, "SELECT a FROM tsh2") == [(8,)]
    finally:
        eng.sql("DROP TABLE tsh")
        eng.sql("DROP TABLE tsh2")


def test_temp_table_renamed_onto_catalog_table_shadows_it(eng, spark):
    spark.sql("DROP DATABASE IF EXISTS trdb CASCADE")
    eng.sql("CREATE DATABASE trdb")
    try:
        eng.sql("CREATE TABLE trdb.u (a int)")
        eng.sql("INSERT INTO trdb.u VALUES (5)")
        eng.sql("CREATE TEMPORARY TABLE trdb.t (a int)")
        eng.sql("INSERT INTO trdb.t VALUES (1)")
        eng.sql("ALTER TABLE trdb.t RENAME TO u")
        assert _rows(eng, "SELECT a FROM trdb.u") == [(1,)]
        # the temp table goes with the database; the permanent one stays
        with pytest.raises(Exception, match="SCHEMA_NOT_EMPTY"):
            eng.sql("DROP DATABASE trdb")
        assert _rows(eng, "SELECT a FROM trdb.u") == [(5,)]
    finally:
        spark.sql("DROP DATABASE IF EXISTS trdb CASCADE")


def test_failed_temp_ddl_leaves_no_record(eng, spark):
    spark.sql("DROP DATABASE IF EXISTS tfdb CASCADE")
    eng.sql("CREATE DATABASE tfdb")
    try:
        # a failed temp CTAS over a permanent table leaves it readable
        eng.sql("CREATE TABLE tfdb.p (a int)")
        eng.sql("INSERT INTO tfdb.p VALUES (7)")
        with pytest.raises(Exception):
            eng.sql("CREATE TEMPORARY TABLE tfdb.p AS SELECT * FROM tf_missing")
        assert _rows(eng, "SELECT a FROM tfdb.p") == [(7,)]
        # a failed temp CTAS, then a permanent table of its name
        with pytest.raises(Exception):
            eng.sql("CREATE TEMPORARY TABLE tfdb.c AS SELECT * FROM tf_missing")
        eng.sql("CREATE TABLE tfdb.c (a int)")
        # a failed rename, then a permanent table of the target name
        eng.sql("CREATE TEMPORARY TABLE tfdb.t (a int)")
        with pytest.raises(Exception):
            eng.sql("ALTER TABLE tfdb.t RENAME TO tf_nodb.u")
        eng.sql("CREATE TABLE tfdb.u (a int)")
        with pytest.raises(Exception, match="SCHEMA_NOT_EMPTY"):
            eng.sql("DROP DATABASE tfdb")
        tables = {r.tableName for r in spark.sql("SHOW TABLES IN tfdb").collect()}
        assert {"p", "c", "u"} <= tables
    finally:
        spark.sql("DROP DATABASE IF EXISTS tfdb CASCADE")


def test_temp_table_shadows_session_view(eng, spark):
    n = len(_rows(eng, "SELECT * FROM region"))
    try:
        eng.sql("CREATE TEMPORARY TABLE region AS SELECT 99 AS r_regionkey")
        assert _rows(eng, "SELECT r_regionkey FROM region") == [(99,)]
        eng.sql("DROP TABLE region")
        assert len(_rows(eng, "SELECT * FROM region")) == n
    finally:
        eng.register_tables()


def test_shadow_rewrite_leaves_literals(eng, spark):
    spark.sql("DROP TABLE IF EXISTS tsl")
    eng.sql("CREATE TABLE tsl (a int)")
    eng.sql("INSERT INTO tsl VALUES (7)")
    eng.sql("CREATE TEMPORARY TABLE tsl (a int)")
    try:
        assert _rows(eng, "SELECT 'tsl', 'default.tsl', count(*) FROM tsl") == [
            ("tsl", "default.tsl", 0)
        ]
    finally:
        eng.sql("DROP TABLE tsl")
        eng.sql("DROP TABLE tsl")


def test_temp_table_like_temp_table(eng, spark):
    for t in ("tlk_src", "tlk"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    eng.sql("CREATE TEMPORARY TABLE tlk_src AS SELECT 1 AS a, 'x' AS b")
    try:
        eng.sql("CREATE TEMPORARY TABLE tlk LIKE tlk_src")
        assert _rows(eng, "SELECT * FROM tlk") == []
        assert eng.sql("SELECT * FROM tlk").schema.simpleString() == (
            "struct<a:int,b:string>"
        )
        eng.sql("INSERT INTO tlk VALUES (2, 'y')")
        assert _rows(eng, "SELECT * FROM tlk") == [(2, "y")]
    finally:
        eng.sql("DROP TABLE IF EXISTS tlk")
        eng.sql("DROP TABLE tlk_src")


def test_drop_database_with_unqualified_temp_table(eng, spark):
    spark.sql("DROP DATABASE IF EXISTS tqdb CASCADE")
    eng.sql("CREATE DATABASE tqdb")
    try:
        eng.sql("USE tqdb")
        eng.sql("CREATE TEMPORARY TABLE tq (a int)")
        eng.sql("USE default")
        # temp tables belong to the session, not the database
        eng.sql("DROP DATABASE tqdb")
        assert "tqdb" not in [r[0] for r in spark.sql("SHOW DATABASES").collect()]
    finally:
        spark.sql("USE default")
        spark.sql("DROP DATABASE IF EXISTS tqdb CASCADE")


def test_analyze_as_select_temp_table(eng, spark):
    spark.sql("DROP TABLE IF EXISTS tan")
    eng.sql("CREATE TEMPORARY TABLE tan AS SELECT 1 AS a")
    try:
        eng.sql("ANALYZE TABLE tan COMPUTE STATISTICS")
        stats = [
            r.data_type
            for r in spark.sql("DESCRIBE TABLE EXTENDED tan").collect()
            if r.col_name == "Statistics"
        ]
        assert stats and stats[0].endswith("1 rows")
    finally:
        eng.sql("DROP TABLE tan")
