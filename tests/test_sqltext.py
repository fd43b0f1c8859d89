"""SQL-text scanner (sqltext.py) and the HiveEngine rewrites built on it.

Runs without Spark: the rewrites are called on an engine that skips
``__init__``, with catalog lookups stubbed.  The verbatim ``.q`` corpus
cannot run offline, so ``REWRITES`` pins each rewrite's output text.
"""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from apache_hive_2_1_1_src_spark import session
from apache_hive_2_1_1_src_spark.session import HiveEngine
from apache_hive_2_1_1_src_spark.sqltext import (
    close_paren,
    concat_adjacent_literals,
    escape_path_name,
    paren_depths,
    parse_partition_path,
    parse_partition_spec,
    partition_path,
    partition_value,
    rewrite_calls,
    search_top_level,
    split_conjuncts,
    split_literals,
    split_statements,
    spec_sql,
    split_top_level,
    sub_outside_quotes,
    sub_relation,
    unescape,
    unescape_path_name,
    write_target,
)
from apache_hive_2_1_1_src_spark.table_desc import CatalogEntry

# ------------------------------------------------------------ primitives


@pytest.mark.parametrize(
    "s, i, expected",
    [
        ("f(a, g(b), (c))", 1, 14),
        ("f('it\\'s )', 1)", 1, 14),
        ('f("a)", \'b)\')', 1, 12),
        ("f(`c)`, 1)", 1, 9),
        ("x (a) (b)", 2, 4),
        ("f(a -- it's )\n, b)", 1, 17),
        ("f(a /* ) */)", 1, 11),
    ],
)
def test_close_paren(s, i, expected):
    assert close_paren(s, i) == expected


def test_close_paren_angle_brackets():
    s = "struct<a:map<string,int>,b:string> x"
    assert close_paren(s, 6, "<", ">") == 33


def test_close_paren_unbalanced_raises():
    with pytest.raises(ValueError, match="unbalanced"):
        close_paren("f(a, 'b)'", 1)


@pytest.mark.parametrize(
    "s, angle, expected",
    [
        ("a, f(b, c), 'x,y', \"p,q\"", False, ["a", "f(b, c)", "'x,y'", '"p,q"']),
        ("'it\\'s, ok', b", False, ["'it\\'s, ok'", "b"]),
        ("`a,b` INT, c", False, ["`a,b` INT", "c"]),
        ("s STRUCT<a:INT, b:INT>, d DECIMAL(5,2)", True,
         ["s STRUCT<a:INT, b:INT>", "d DECIMAL(5,2)"]),
        ("a < b, c > d", False, ["a < b", "c > d"]),
        (" a , , b ,", False, ["a", "b"]),
    ],
)
def test_split_top_level(s, angle, expected):
    assert split_top_level(s, angle=angle) == expected


def test_search_top_level_skips_nesting_and_literals():
    s = "a (b FROM x) 'FROM' FROM t"
    m = search_top_level(r"\bFROM\b", s)
    assert m.start() == s.rindex("FROM")


def test_search_top_level_stops_where_the_level_ends():
    s = "(SELECT * FROM a WHERE x = 1) y WHERE z"
    m = search_top_level(r"\bWHERE\b|$", s, s.index("x"))
    assert m.start() == s.index(")")


def test_split_literals_and_sub_outside_quotes():
    s = "a 'b' c \"d\\\"e\" f"
    assert split_literals(s) == ["a ", "'b'", " c ", '"d\\"e"', " f"]
    assert sub_outside_quotes(r"\w", "X", s) == "X 'b' X \"d\\\"e\" X"


def test_rewrite_calls_keeps_literals_and_uses_fn_result():
    text = "SELECT f(a, g(b)), 'f(x)', F (c) OVER (ORDER BY d), f(z)"

    def fn(call):
        if call.inner == "z":
            return None
        over = call.over()
        if over:
            return f"h({call.inner})", over[1] + 1
        return "g[" + "|".join(call.args) + "]"

    assert rewrite_calls(text, r"\bf\s*\(", fn) == (
        "SELECT g[a|g(b)], 'f(x)', h(c), f(z)"
    )


def test_comments_are_opaque_to_call_rewrites():
    text = "-- collect_set's window: sum(DISTINCT x)\nSELECT sum(a) /* sum(b) */"
    assert rewrite_calls(text, r"\bsum\s*\(", lambda c: "S") == (
        "-- collect_set's window: sum(DISTINCT x)\nSELECT S /* sum(b) */"
    )


def test_split_statements_quotes_escapes_comments_backticks():
    script = (
        "SELECT ';'; SELECT `a;b` FROM t -- ;x'\n; SELECT 1 /* ; */; "
        "\n-- only a comment\n"
    )
    assert split_statements(script) == [
        "SELECT ';'",
        " SELECT `a;b` FROM t -- ;x'\n",
        " SELECT 1 /* ; */",
    ]


@pytest.mark.parametrize(
    "raw, expected",
    [
        ("\\t", "\t"),
        ("\\001", "\x01"),
        ("\\u0041\\n", "A\n"),
        ("\\N", "\\N"),
        ("a\\'b\\\\", "a'b\\"),
        ("\\t\\N", "\t\\N"),
        ("é\\t", "é\t"),
    ],
)
def test_unescape(raw, expected):
    assert unescape(raw) == expected


def test_split_conjuncts():
    assert split_conjuncts("a.x = 1 AND (b.y = 2 OR b.y = 3) and c = 'p AND q'") == [
        "a.x = 1", "(b.y = 2 OR b.y = 3)", "c = 'p AND q'",
    ]


def test_paren_depths():
    assert paren_depths("f(a, ')', g(b))") == [
        0, 0, 1, 1, 1, None, None, None, 1, 1, 1, 1, 2, 2, 1, 0,
    ]
    assert paren_depths(")x") == [0, 0, 0]


@pytest.mark.parametrize(
    "sql, expected",
    [
        ("SELECT 'face''book'", "SELECT 'facebook'"),
        ("SELECT 'a' \"b\"\n 'c', 'd'", "SELECT 'abc', 'd'"),
        ("SELECT \"it's\" 'x'", "SELECT 'it\\'sx'"),
        ("SELECT 'a\\'b' 'c'", "SELECT 'a\\'bc'"),
        ("SELECT 'a' /* c */ 'b'", "SELECT 'a' /* c */ 'b'"),
        ("SELECT 'a' 'b", "SELECT 'a' 'b"),
        ("-- don't\nSELECT 'a' 'b'", "-- don't\nSELECT 'ab'"),
    ],
)
def test_concat_adjacent_literals(sql, expected):
    assert concat_adjacent_literals(sql) == expected


@pytest.mark.parametrize(
    "sql, expected",
    [
        ("INSERT INTO TABLE `dp2` PARTITION (p) SELECT 1",
         ("INSERT", "INTO", "`dp2`", "PARTITION (p)", "p", "SELECT 1")),
        ("insert overwrite table db.t partition (ds=')') with q as (select 1) "
         "select * from q",
         ("INSERT", "OVERWRITE", "db.t", "partition (ds=')')", "ds=')'",
          "with q as (select 1) select * from q")),
        ("INSERT INTO t VALUES (1)",
         ("INSERT", "INTO", "t", None, None, None)),
        ("LOAD DATA LOCAL INPATH '/x' INTO TABLE `a b`",
         ("LOAD", None, "`a b`", None, None, None)),
        ("ALTER TABLE t ADD COLUMNS (c INT)",
         ("ALTER", None, "t", None, None, None)),
        ("CREATE TABLE IF NOT EXISTS c AS SELECT 1",
         ("CREATE", None, "c", None, None, None)),
    ],
)
def test_write_target(sql, expected):
    t = write_target(sql)
    assert (t.verb, t.mode, t.table, t.partition, t.spec, t.query) == expected


# ------------------------------------------------------------ partitions


@pytest.mark.parametrize(
    "raw, expected",
    [
        ("'a,b'", "a,b"),
        ("\"x\"", "x"),
        ("'it\\'s'", "it's"),
        ("'a\\\\b'", "a\\b"),
        ("110Y", "110"),
        ("22000S", "22000"),
        ("330L", "330"),
        (" 7 ", "7"),
        ("'110Y'", "110Y"),
        ("__HIVE_DEFAULT_PARTITION__", "__HIVE_DEFAULT_PARTITION__"),
    ],
)
def test_partition_value(raw, expected):
    assert partition_value(raw) == expected


@pytest.mark.parametrize(
    "spec, expected",
    [
        ("p='a,b'", [("p", "a,b")]),
        ("`DS`='1', hr=11L", [("ds", "1"), ("hr", "11")]),
        ("ds, hr='12'", [("ds", None), ("hr", "12")]),
        ("q='it\\'s', ", [("q", "it's")]),
        ("p='a=b'", [("p", "a=b")]),
        ("", []),
    ],
)
def test_parse_partition_spec(spec, expected):
    assert parse_partition_spec(spec) == expected


def test_spec_sql_round_trips():
    pairs = [("p", "it's"), ("q", "a\\b"), ("r", None)]
    assert spec_sql(pairs) == "`p`='it\\'s', `q`='a\\\\b', `r`"
    assert parse_partition_spec(spec_sql(pairs)) == pairs


@pytest.mark.parametrize(
    "pairs, path",
    [
        ([("p", "a=b")], "p=a%3Db"),
        ([("ds", "01:10:10"), ("hr", "x/y")], "ds=01%3A10%3A10/hr=x%2Fy"),
        ([("p", "x\x00 %")], "p=x%00 %25"),
        ([("p", "é")], "p=é"),
    ],
)
def test_partition_path_round_trips(pairs, path):
    assert partition_path(pairs) == path
    assert parse_partition_path(path) == pairs


def test_path_names_escape_like_file_utils():
    assert escape_path_name("[k]#^{}\"'*?\\\x7f") == (
        "%5Bk%5D%23%5E%7B}%22%27%2A%3F%5C%7F"
    )
    # a % without two hex digits stays
    assert unescape_path_name("a%3db%zz%4") == "a=b%zz%4"


@pytest.mark.parametrize(
    "sql, expected",
    [
        ("SELECT tsq.a FROM tsq", "SELECT tsq.a FROM S tsq"),
        ("SELECT tsq FROM other", "SELECT tsq FROM other"),
        ("SELECT a AS tsq FROM tsq", "SELECT a AS tsq FROM S"),
        ("SELECT 'tsq' FROM tsq -- tsq", "SELECT 'tsq' FROM S -- tsq"),
        ("INSERT INTO TABLE tsq SELECT tsq.a FROM tsq t",
         "INSERT INTO TABLE S SELECT tsq.a FROM S t"),
        ("SELECT * FROM x, tsq WHERE tsq.a = x.a",
         "SELECT * FROM x, S tsq WHERE tsq.a = x.a"),
        ("SELECT a, tsq FROM x LATERAL VIEW explode(y) e AS c, tsq",
         "SELECT a, tsq FROM x LATERAL VIEW explode(y) e AS c, tsq"),
        ("SELECT * FROM (SELECT a, tsq FROM x) y JOIN tsq ON tsq.a = y.a",
         "SELECT * FROM (SELECT a, tsq FROM x) y JOIN S tsq ON tsq.a = y.a"),
        ("DESCRIBE FORMATTED tsq", "DESCRIBE FORMATTED S"),
        ("SELECT * FROM db.tsq, `tsq`", "SELECT * FROM db.tsq, `tsq`"),
    ],
)
def test_sub_relation(sql, expected):
    assert sub_relation(sql, "tsq", "S") == expected


def test_write_target_none():
    assert write_target("SELECT 1") is None
    assert write_target("INSERT INTO t PARTITION (p='x' SELECT 1") is None
    assert write_target("INSERT OVERWRITE DIRECTORY '/x' SELECT 1") is None
    assert (
        write_target("insert overwrite local directory '/x' SELECT 1") is None
    )
    assert write_target("INSERT INTO TABLE directory SELECT 1").table == (
        "directory"
    )


# ------------------------------------------------------ HiveEngine rewrites


def _fake_catalog_entry(spark, name):
    """Catalog stub for _rewrite_typed_hash: every table is (k INT,
    c CHAR(5))."""
    return CatalogEntry(
        schema=T.StructType([
            T.StructField("k", T.IntegerType()),
            T.StructField(
                "c", T.StringType(),
                metadata={"__CHAR_VARCHAR_TYPE_STRING": "char(5)"},
            ),
        ]),
        types={"k": "int", "c": "char(5)"},
        partition_cols=[],
        location=None,
        table_type="MANAGED",
        bucket_spec=None,
        row_count=None,
        properties={},
    )


@pytest.fixture
def eng(monkeypatch):
    monkeypatch.setattr(session, "catalog_entry", _fake_catalog_entry)
    e = HiveEngine.__new__(HiveEngine)
    e.spark = None
    e._init_state()
    e._infer_column_type = lambda text, expr: None
    e._vars = {
        "hive.outerjoin.supports.filters": "false",
        "hive.optimize.cte.materialize.threshold": "5",
    }
    e._macros = {
        "sigmoid": (["x"], "1 / (1 + exp(-x))"),
        "twoarg": (["a", "b"], "concat(a, 'a', b)"),
    }
    e._hive_date_udfs_ready = True
    e._misc_udfs_ready = True
    e.hive_exact_percentile = True
    return e


REWRITES = [
    ("_rewrite_uniontype_ddl",
     "CREATE TABLE u (a uniontype<int, struct<x:int,y:string>>, b uniontype<string, uniontype<int,double>>)",
     "CREATE TABLE u (a struct<tag:int,field0:int,field1:struct<x:int,y:string>>, b struct<tag:int,field0:string,field1:struct<tag:int,field0:int,field1:double>>)"),
    ("translate_hive_ddl",
     "CREATE TABLE t (a STRING, s STRUCT<Foo:INT, Bar:STRUCT<Baz:STRING>>) STORED AS TEXTFILE",
     "CREATE TABLE t (a STRING, s STRUCT<foo:INT, bar:STRUCT<baz:STRING>>) USING parquet   "),
    ("translate_hive_ddl",
     "CREATE TABLE t (a STRING, b INT) PARTITIONED BY (dt STRING, p DECIMAL(5,2)) STORED AS ORC",
     "CREATE TABLE t (a STRING, b INT, dt STRING, p DECIMAL(5,2)) USING orc  PARTITIONED BY (dt, p)  "),
    ("_column_list_end",
     "CREATE TABLE t (a INT, b DECIMAL(5,2)) STORED AS ORC",
     38),
    ("_column_list_end",
     "CREATE TABLE t AS SELECT 1",
     None),
    ("_expand_macros",
     "SELECT sigmoid(a + 1), sigmoid(sigmoid(b)) FROM t",
     "SELECT (1 / (1 + exp(-(a + 1)))), (1 / (1 + exp(-((1 / (1 + exp(-(b)))))))) FROM t"),
    ("_expand_macros",
     "SELECT twoarg(f(a, b), 'x,y') FROM t",
     "SELECT (concat((f(a, b)), 'a', ('x,y'))) FROM t"),
    ("_rewrite_distinct_windows",
     "SELECT COUNT(DISTINCT a) OVER (PARTITION BY b), count(DISTINCT c) FROM t",
     "SELECT CAST(size(collect_set(a) OVER (PARTITION BY b)) AS BIGINT), count(DISTINCT c) FROM t"),
    ("_rewrite_distinct_windows",
     "SELECT sum(DISTINCT f(a, 1)) OVER (PARTITION BY b) FROM t",
     "SELECT IF(size(collect_set(f(a, 1)) OVER (PARTITION BY b)) = 0, CAST(NULL AS DOUBLE), CAST(aggregate(collect_set(f(a, 1)) OVER (PARTITION BY b), CAST(0 AS DOUBLE), (acc, x) -> acc + CAST(x AS DOUBLE)) AS DOUBLE)) FROM t"),
    ("_strip_ptf_noops",
     "SELECT * FROM noop(on src partition by a order by b) x",
     "SELECT * FROM src x"),
    ("_strip_ptf_noops",
     "SELECT * FROM noop(on noopwithmap(on (SELECT f(a) FROM s) partition by a sort by b desc) partition by c) x",
     "SELECT * FROM (SELECT f(a) FROM s) x"),
    ("_rewrite_legacy_outer_filters",
     "SELECT * FROM a x LEFT OUTER JOIN b y ON (x.k = y.k AND x.v > 10) WHERE x.k > 0",
     "SELECT * FROM (SELECT * FROM a x WHERE x.v > 10) x LEFT OUTER JOIN b y ON (x.k = y.k) WHERE x.k > 0"),
    ("_rewrite_legacy_outer_filters",
     "SELECT * FROM (SELECT * FROM a x LEFT OUTER JOIN b y ON x.k = y.k AND y.v = 5) s",
     "SELECT * FROM (SELECT * FROM a x LEFT OUTER JOIN (SELECT * FROM b y WHERE y.v = 5) y ON x.k = y.k ) s"),
    ("_rewrite_grouping_id_scope",
     "SELECT a, GROUPING__ID FROM (SELECT a, b, GROUPING__ID FROM t GROUP BY a, b WITH ROLLUP) s",
     "SELECT a, GROUPING__ID FROM (SELECT a, b, CAST((1 - pmod(CAST(floor(grouping_id() / 2) AS INT), 2)) * 1 + (1 - pmod(CAST(floor(grouping_id() / 1) AS INT), 2)) * 2 AS BIGINT) AS GROUPING__ID FROM t GROUP BY a, b WITH ROLLUP) s"),
    ("_rewrite_grouping_id_scope",
     "SELECT a, b, GROUPING__ID, count(*) FROM t GROUP BY ROLLUP(a, b)",
     "SELECT a, b, CAST((1 - pmod(CAST(floor(grouping_id() / 2) AS INT), 2)) * 1 + (1 - pmod(CAST(floor(grouping_id() / 1) AS INT), 2)) * 2 AS BIGINT) AS GROUPING__ID, count(*) FROM t GROUP BY ROLLUP(a, b)"),
    ("_values_tuples",
     "(1, 'a,b'), (2, f(3, 4))",
     [["1", "'a,b'"], ["2", "f(3, 4)"]]),
    ("_values_tuples",
     "(1, 'it\\'s )'), (2, \"q\")",
     [["1", "'it\\'s )'"], ["2", '"q"']]),
    ("_rewrite_char_casts",
     "SELECT CAST(a AS CHAR(3)), CAST(b AS VARCHAR(2)), CAST(c AS INT) FROM t",
     "SELECT CAST(rpad(substr(a, 1, 3), 3, ' ') AS STRING), CAST(substr(b, 1, 2) AS STRING), CAST(c AS INT) FROM t"),
    ("_rewrite_char_casts",
     "SELECT CAST(CAST(a AS CHAR(5)) AS VARCHAR(3)) FROM t",
     "SELECT CAST(substr(rtrim(CAST(rpad(substr(a, 1, 5), 5, ' ') AS STRING)), 1, 3) AS STRING) FROM t"),
    ("_materialize_ctes",
     "WITH q1 AS (SELECT ')' AS c FROM t), q2 AS (SELECT * FROM q1) SELECT * FROM q2 JOIN q1",
     "WITH q1  AS (SELECT ')' AS c FROM t), q2  AS (SELECT * FROM q1)  SELECT * FROM q2 JOIN q1"),
    ("_inject_transform_row_format",
     "SELECT TRANSFORM(a, b) USING 'cat' AS (x, y) FROM t",
     "SELECT TRANSFORM(a, b) ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t'  USING 'cat' AS (x, y) ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t'  FROM t"),
    ("_inject_transform_row_format",
     "SELECT TRANSFORM(a) USING 'cat' AS k FROM (SELECT f(a) AS a FROM t) s",
     "SELECT TRANSFORM(a) ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t'  USING 'cat' AS k  ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t' FROM (SELECT f(a) AS a FROM t) s"),
    ("split_statements",
     "SELECT ';' FROM t; -- it's; a comment\nSELECT \"a\\\";b\"; ;  ",
     ["SELECT ';' FROM t", " -- it's; a comment\nSELECT \"a\\\";b\""]),
    ("_rewrite_window_compat",
     "SELECT lag(a) OVER (PARTITION BY b), rank() OVER (ORDER BY c ROWS BETWEEN 1 PRECEDING AND CURRENT ROW), collect_set(d) OVER (distribute by b sort by c) FROM t",
     "SELECT lag(a) OVER (PARTITION BY b ORDER BY b ), rank() OVER (ORDER BY c), array_distinct(collect_list(d) OVER (PARTITION BY b ORDER BY c)) FROM t"),
    ("_rewrite_window_compat",
     "SELECT row_number() OVER (), lead(a, 1) OVER (PARTITION BY f(b, c)) FROM t",
     "SELECT row_number() OVER (ORDER BY 1 ), lead(a, 1) OVER (PARTITION BY f(b, c) ORDER BY f(b, c) ) FROM t"),
    ("_rewrite_typed_hash",
     "SELECT sum(hash(k, c, 5, 'x')) FROM t",
     "SELECT sum(hive_hash_typed('int,char,int,string', k, c, 5, 'x')) FROM t"),
    ("_rewrite_typed_hash",
     "SELECT hash(*), hash(k + 1) FROM t",
     "SELECT hive_hash_typed('int,char', k, c), hash(k + 1) FROM t"),
    ("_rewrite_samp_variance",
     "SELECT var_samp(a), covar_samp(a, b), stddev_samp(a) OVER (PARTITION BY c) FROM t",
     "SELECT (CASE WHEN count(a) > 1 THEN var_samp(a) WHEN count(a) = 1 THEN 0.0D END), (CASE WHEN count(CASE WHEN (a) IS NOT NULL AND (b) IS NOT NULL THEN 1 END) > 1 THEN covar_samp(a, b) WHEN count(CASE WHEN (a) IS NOT NULL AND (b) IS NOT NULL THEN 1 END) = 1 THEN 0.0D END), stddev_samp(a) OVER (PARTITION BY c) FROM t"),
    ("_rewrite_sum_of_strings",
     "SELECT sum('a'), sum(concat(a, b)) OVER (PARTITION BY c), sum(x), sum(DISTINCT 'b') FROM t",
     "SELECT IF(count('a') = 0, CAST(NULL AS DOUBLE), sum(coalesce(CAST('a' AS DOUBLE), 0.0D))), IF(count(concat(a, b)) OVER (PARTITION BY c) = 0, CAST(NULL AS DOUBLE), sum(coalesce(CAST(concat(a, b) AS DOUBLE), 0.0D)) OVER (PARTITION BY c)), sum(x), sum(DISTINCT 'b') FROM t"),
    ("_rewrite_agg_of_leadlag",
     "SELECT sum(a - lag(a, 1)) OVER (PARTITION BY b ORDER BY c ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) FROM t",
     "SELECT (CASE WHEN count(*) OVER (PARTITION BY b ORDER BY c ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) > 1 THEN last_value(a) OVER (PARTITION BY b ORDER BY c ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) - first_value(a) OVER (PARTITION BY b ORDER BY c ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) END) FROM t"),
    ("_rewrite_agg_of_leadlag",
     "SELECT avg(lead(a) + lag(a, 2)) OVER (PARTITION BY b ORDER BY c), max(a) FROM t",
     "SELECT avg(__ll1 + __ll2) OVER (PARTITION BY b ORDER BY c), max(a) FROM (SELECT *, lead(a) OVER (PARTITION BY b ORDER BY c) AS __ll1, lag(a, 2) OVER (PARTITION BY b ORDER BY c) AS __ll2 FROM t) t"),
    ("_rewrite_hive_date_udfs",
     "SELECT last_day('2009-01-12'), add_months(cast('2009-01-31' as date), 1), trunc(d, 'MM') FROM t",
     "SELECT hive_last_day('2009-01-12'), hive_add_months('2009-01-31', 1), trunc(d, 'MM') FROM t"),
    ("_rewrite_percentile_approx",
     "SELECT percentile_approx(a, 0.5), percentile_approx(a, array(0.1, 0.9), 100), percentile_approx(a, 0.5) OVER () FROM t",
     "SELECT hive_percentile_approx_ord(CAST((a) AS DOUBLE), 0.5, CAST((10000) AS DOUBLE), _metadata.file_modification_time, _metadata.file_path, _metadata.row_index), hive_percentile_approx_arr_ord(CAST((a) AS DOUBLE), array(0.1, 0.9), CAST((100) AS DOUBLE), _metadata.file_modification_time, _metadata.file_path, _metadata.row_index), percentile_approx(a, 0.5) OVER () FROM t"),
    ("_rewrite_misc_hive_udfs",
     "SELECT substr('ABC', -4), field(a, 1, 2), index(arr, 0), reflect2(a, 'length'), 'substr(x, -1)' FROM t",
     "SELECT (CASE WHEN length('ABC') + (-4) < 0 THEN '' ELSE CAST(substr('ABC', -4) AS STRING) END), (CASE WHEN typeof(a) = typeof(1) AND (a) = (1) THEN 1 WHEN typeof(a) = typeof(2) AND (a) = (2) THEN 2 ELSE 0 END), ((arr)[0]), hive_reflect2(a, 'length', NULL, NULL), 'substr(x, -1)' FROM t"),
    ("_rewrite_misc_hive_udfs",
     "SELECT substring(a, 2), aes_encrypt(a, k), mask_hash(b) FROM t",
     "SELECT substring(a, 2), (CASE WHEN length(CAST((k) AS BINARY)) IN (16, 24, 32) THEN aes_encrypt((a), (k), 'ECB', 'PKCS') END), mask_hash(b) FROM t"),
    ("_rewrite_interval_ctors",
     "SELECT interval_year_month('10-11'), interval_day_time(CAST('2 1:2:3' AS STRING)) FROM t",
     "SELECT CAST(('10-11') AS INTERVAL YEAR TO MONTH), CAST((CAST('2 1:2:3' AS STRING)) AS INTERVAL DAY TO SECOND) FROM t"),
    ("_rtrim_char_cast_comparands",
     "SELECT CAST(rpad(a, 3, ' ') AS STRING), upper(CAST(rpad(b, 2, ' ') AS STRING)) FROM t WHERE CAST(rpad(c, 4, ' ') AS STRING) = 'x'",
     "SELECT CAST(rpad(a, 3, ' ') AS STRING), upper(rtrim(CAST(rpad(b, 2, ' ') AS STRING))) FROM t WHERE rtrim(CAST(rpad(c, 4, ' ') AS STRING)) = 'x'"),
    ("_dedup_grouping_sets",
     "SELECT a, b FROM t GROUP BY a, b GROUPING SETS ((a), (a), (a, b))",
     "SELECT a, b FROM t GROUP BY a, b GROUPING SETS ((a), (a, b))"),
    ("_parse_row_format_delims",
     "ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t' COLLECTION ITEMS TERMINATED BY '124' MAP KEYS TERMINATED BY '\\003' NULL DEFINED AS 'nil'",
     {"sep": "\t", "coll_sep": "|", "key_sep": "\x03", "null_str": "nil"}),
]


@pytest.mark.parametrize(
    "method, sql, expected", REWRITES, ids=[r[0] for r in REWRITES]
)
def test_rewrite_output_is_pinned(eng, method, sql, expected):
    assert getattr(eng, method)(sql) == expected


# Inputs with a literal inside a scanned span: the span must not end at a
# ')' inside the literal, and text inside the literal is never rewritten.
FIXED = [
    ("_rewrite_char_casts",
     "SELECT CAST('a)bcdef' AS CHAR(3))",
     "SELECT CAST(rpad(substr('a)bcdef', 1, 3), 3, ' ') AS STRING)"),
    ("_column_list_end",
     "CREATE TABLE t (a STRING COMMENT 'x)y', b INT) STORED AS ORC",
     46),
    ("translate_hive_ddl",
     "CREATE TABLE t (a STRING COMMENT 'x)y', b INT) STORED AS PARQUET",
     "CREATE TABLE t (a STRING COMMENT 'x)y', b INT) USING parquet   "),
    ("_rewrite_samp_variance",
     "SELECT var_samp(length('it\\'s )')) FROM t",
     "SELECT (CASE WHEN count(length('it\\'s )')) > 1 THEN var_samp(length('it\\'s )')) WHEN count(length('it\\'s )')) = 1 THEN 0.0D END) FROM t"),
    ("_rewrite_uniontype_ddl",
     "CREATE TABLE u (a uniontype<int,string>) COMMENT 'uniontype<x>'",
     "CREATE TABLE u (a struct<tag:int,field0:int,field1:string>) COMMENT 'uniontype<x>'"),
    ("_parse_row_format_delims",
     "ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' NULL DEFINED AS '\\N'",
     {"sep": ",", "null_str": "\\N"}),
]


@pytest.mark.parametrize(
    "method, sql, expected", FIXED, ids=[r[0] for r in FIXED]
)
def test_literal_inside_scanned_span(eng, method, sql, expected):
    assert getattr(eng, method)(sql) == expected


def test_ddl_remembers_hive_null_token(eng):
    eng.translate_hive_ddl(
        "CREATE TABLE nt (a STRING) ROW FORMAT DELIMITED "
        "FIELDS TERMINATED BY '\\001' NULL DEFINED AS '\\N' STORED AS TEXTFILE"
    )
    # translation stages the record; HiveEngine.sql stores it once the
    # CREATE has run
    name, desc = eng._tables.pending
    assert name == "nt"
    assert desc.field_delim == "\x01"
    assert desc.null_format == "\\N"
