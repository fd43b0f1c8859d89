"""The call rewrites that run inline in ``HiveEngine.sql``: each case pins
the final text the engine hands to ``spark.sql`` (the verbatim ``.q``
corpus that exercises them cannot run offline)."""

from __future__ import annotations

import pytest
from pyspark.sql import SparkSession

from apache_hive_2_1_1_src_spark.session import HiveEngine


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    e = HiveEngine(spark, sf_dir)
    e.register_tables()
    return e


@pytest.fixture
def sent(monkeypatch):
    """Every statement text passed to spark.sql during the test."""
    texts: list[str] = []
    orig = SparkSession.sql

    def record(self, query, *args, **kwargs):
        texts.append(query)
        return orig(self, query, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "sql", record)
    return texts


CASES = [
    ("SELECT printf('%.1f|%s', 1.5, '2.5')",
     "SELECT printf('%.1f|%s', 1.5D, '2.5')"),
    ("SELECT LOG(2, 8), LOG(0.5, 2), LOG(8)",
     "SELECT IF((2) <= 1.0, NULL, LOG(2, 8)), IF((0.5) <= 1.0, NULL, LOG(0.5, 2)), LOG(8)"),
    ("SELECT greatest(1, 2, NULL), least(CAST(1.1 AS FLOAT), CAST(2 AS DOUBLE))",
     "SELECT IF((1) IS NULL OR (2) IS NULL OR (NULL) IS NULL, NULL, greatest(1, 2, NULL)), IF((CAST(CAST((CAST(1.1 AS FLOAT)) AS STRING) AS DOUBLE)) IS NULL OR (CAST(2 AS DOUBLE)) IS NULL, NULL, least(CAST(CAST((CAST(1.1 AS FLOAT)) AS STRING) AS DOUBLE), CAST(2 AS DOUBLE)))"),
    ("SELECT create_union(0, 'a', 1)",
     "SELECT named_struct('tag', CAST((0) AS INT), 'field0', ('a'), 'field1', (1))"),
    ("SELECT struct(1, 'a'), named_struct('x', 1)",
     "SELECT named_struct('col1', 1, 'col2', 'a'), named_struct('x', 1)"),
    ("SELECT size(array(1, 2)), map_keys(map(1, 2)), map_values(map(1, 2))",
     "SELECT coalesce(size(array(1, 2)), -1), coalesce(map_keys(map(1, 2)), array()), coalesce(map_values(map(1, 2)), array())"),
    ("SELECT histogram_numeric(CAST(r_regionkey AS DECIMAL(3,1)), 2) FROM region",
     "SELECT histogram_numeric(CAST((CAST(r_regionkey AS DECIMAL(3,1))) AS DOUBLE), 2) FROM region"),
    ("SELECT compute_stats(r_name, 16) FROM region",
     "SELECT compute_stats(r_name, 16, 'string') FROM region"),
    ("SELECT greatest(10L, 'a', date('2001-01-28'))",
     "SELECT IF((10L) IS NULL OR ('a') IS NULL OR (date('2001-01-28')) IS NULL, NULL, greatest(CAST((10L) AS STRING), CAST(('a') AS STRING), CAST((date('2001-01-28')) AS STRING)))"),
    # expression rewrites, applied outside literals
    ("SELECT std(r_regionkey), variance(r_regionkey) FROM region",
     "SELECT stddev_pop(r_regionkey), var_pop(r_regionkey) FROM region"),
    ("SELECT version()",
     "SELECT '2.1.1 re0bb2e6a47d0ebda424ffd63d4bb1d815e7e40d0'"),
    ("SELECT 1E99BD", "SELECT CAST(NULL AS DECIMAL(38,0))"),
    ("SELECT CAST(TRUE AS STRING)", "SELECT CAST('TRUE' AS STRING)"),
    ("SELECT r_regionkey, ROW__ID FROM region",
     "SELECT r_regionkey, CAST(NULL AS struct<writeid:bigint,bucketid:int,rowid:bigint>) FROM region"),
    ("SELECT ROW__OFFSET__INSIDE__BLOCK FROM region",
     "SELECT CAST(0 AS BIGINT) FROM region"),
]


@pytest.mark.parametrize("sql, expected", CASES)
def test_text_sent_to_spark(eng, sent, sql, expected):
    eng.sql(sql).collect()
    assert expected in sent


def test_partialscan_runs_as_plain_analyze(eng, sent, spark):
    spark.sql("DROP TABLE IF EXISTS ps1")
    eng.sql("CREATE TABLE ps1 (a INT)")
    eng.sql("ANALYZE TABLE ps1 COMPUTE STATISTICS PARTIALSCAN")
    assert "ANALYZE TABLE ps1 COMPUTE STATISTICS" in sent
    eng.sql("DROP TABLE ps1")


#: literals holding text that an expression rewrite changes outside them
LITERALS = [
    "stddev(x)",
    "variance(1) and std(2)",
    "LIMIT 1, 2",
    "ROW__OFFSET__INSIDE__BLOCK",
    "INPUT__FILE__NAME",
    "current_user()",
    "version()",
    "ROW__ID",
    "1E99BD",
    "CAST(TRUE AS STRING)",
]


def test_call_shaped_text_inside_literals_stays_literal(eng):
    row = eng.sql(
        "SELECT 'size(x)' AS a, 'log(2, 3)' AS b, 'printf(1.5)' AS c, "
        "CAST('a)bcdef' AS CHAR(3)) AS d"
    ).collect()[0]
    assert (row.a, row.b, row.c, row.d) == (
        "size(x)", "log(2, 3)", "printf(1.5)", "a)b",
    )
    got = {}
    for lit in LITERALS:
        try:
            got[lit] = eng.sql(f"SELECT '{lit}'").collect()[0][0]
        except Exception as e:  # noqa: BLE001 - the failure is the finding
            got[lit] = type(e).__name__
    assert got == {lit: lit for lit in LITERALS}


def test_registered_udaf_template_expands_at_each_call(eng, sent):
    eng.sql(
        "CREATE TEMPORARY FUNCTION sum_list AS "
        "'org.apache.hadoop.hive.ql.udf.generic.GenericUDAFSumList'"
    )
    assert eng.sql("SELECT sum_list(array(1, 2, 3)) AS s").collect()[0].s == 6
    assert (
        "SELECT sum(aggregate((array(1, 2, 3)), CAST(0 AS BIGINT), "
        "(acc, e) -> acc + CAST(e AS BIGINT))) AS s"
    ) in sent


def test_printf_decimal_inside_string_literal_untouched(eng):
    assert (
        eng.sql("select printf('%s', '1.5') as s").collect()[0][0] == "1.5"
    )
    assert (
        eng.sql("select printf('v 1.5 w') as s").collect()[0][0]
        == "v 1.5 w"
    )
    # the numeric-literal rewrite itself still applies
    assert (
        eng.sql("select printf('%f', 1.5) as s").collect()[0][0]
        == "1.500000"
    )


def test_map_using_inside_literal_not_rewritten(eng):
    rows = eng.sql("select 'map x using cat' as s").collect()
    assert rows[0][0] == "map x using cat"


def test_reduce_using_inside_literal_not_rewritten(eng):
    rows = eng.sql(
        "select 'reduce a, b using script' as s, 1 as n"
    ).collect()
    assert rows[0][0] == "reduce a, b using script"


def test_substr_call_inside_literal_not_rewritten(eng):
    # the gate sees "substr(" and engages the rewriter; the literal
    # occurrence must come through verbatim while the real call-site
    # still gets Hive semantics (substr pos 0 → pos 1)
    rows = eng.sql(
        "select 'use substr(x, 1, 2) here' as s, substr('hello', 0, 2) as h"
    ).collect()
    assert rows[0][0] == "use substr(x, 1, 2) here"
    assert rows[0][1] == "he"


def test_field_call_inside_literal_not_rewritten(eng):
    rows = eng.sql(
        "select 'field(a, b)' as s, field('b', 'a', 'b') as f"
    ).collect()
    assert rows[0][0] == "field(a, b)"
    assert rows[0][1] == 2
