"""One storage descriptor per table (metastore Table → StorageDescriptor →
SerDeInfo, metastore/if/hive_metastore.thrift:294/278/258).

The engine keeps each table's declared serde facts in a ``TableDesc``
keyed by the resolved ``(db, table)``.  DDL owns the record: a CREATE
that ran replaces it, ``IF NOT EXISTS`` over an existing table and a
failed CREATE leave it alone, DROP deletes it, RENAME moves it.  Each
case below loads ``1,a`` / ``2,b`` and checks what the table reads.
"""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JNetworkError
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_hive_2_1_1_src_spark.session import HiveEngine
from apache_hive_2_1_1_src_spark.table_desc import catalog_entry

ROWS = [(1, "a"), (2, "b")]


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    e = HiveEngine(spark, sf_dir)
    e.register_tables()
    yield e
    e.sql("USE default")


@pytest.fixture
def comma_file(tmp_path):
    p = tmp_path / "rows.txt"
    p.write_text("1,a\n2,b\n")
    return str(p)


def _drop(eng, *names):
    for n in names:
        eng.sql(f"DROP TABLE IF EXISTS {n}")


def _rows(eng, table):
    rows = eng.sql(f"SELECT a, b FROM {table} ORDER BY a").collect()
    return [tuple(r) for r in rows]


def _comma_table(eng, name):
    eng.sql(
        f"CREATE TABLE {name} (a INT, b STRING) "
        "ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' STORED AS TEXTFILE"
    )


# ------------------------------------------------- key: resolved (db, table)
def test_qualified_create_then_bare_load_in_that_db(eng, comma_file):
    eng.sql("CREATE DATABASE IF NOT EXISTS td1")
    try:
        _drop(eng, "td1.t1", "td1.t1b")
        _comma_table(eng, "td1.t1")
        eng.sql("USE td1")
        eng.sql(f"LOAD DATA LOCAL INPATH '{comma_file}' INTO TABLE t1")
        assert _rows(eng, "t1") == ROWS
        # and the other way round: bare CREATE, qualified LOAD
        _comma_table(eng, "t1b")
        eng.sql("USE default")
        eng.sql(f"LOAD DATA LOCAL INPATH '{comma_file}' INTO TABLE td1.t1b")
        assert _rows(eng, "td1.t1b") == ROWS
    finally:
        eng.sql("USE default")
        eng.sql("DROP DATABASE IF EXISTS td1 CASCADE")


def test_rename_moves_only_its_own_db_record(eng, comma_file):
    eng.sql("CREATE DATABASE IF NOT EXISTS td2")
    try:
        _drop(eng, "td2.r1", "r1", "r2")
        _comma_table(eng, "td2.r1")
        eng.sql("CREATE TABLE r1 (a INT, b STRING) STORED AS TEXTFILE")
        eng.sql("ALTER TABLE r1 RENAME TO r2")
        eng.sql(f"LOAD DATA LOCAL INPATH '{comma_file}' INTO TABLE td2.r1")
        assert _rows(eng, "td2.r1") == ROWS
    finally:
        _drop(eng, "r2")
        eng.sql("DROP DATABASE IF EXISTS td2 CASCADE")


# ------------------------------------------------------------- lifecycle
def test_drop_deletes_the_parquet_snapshot(eng):
    _drop(eng, "pq_snap_t")
    eng.sql("CREATE TABLE pq_snap_t (a INT, b STRING) STORED AS PARQUET")
    eng.sql("INSERT INTO pq_snap_t VALUES (1, 'x')")
    eng.sql("ALTER TABLE pq_snap_t REPLACE COLUMNS (a INT, b STRING)")
    eng.sql("DROP TABLE pq_snap_t")
    eng.sql("CREATE TABLE pq_snap_t (a INT, b STRING) STORED AS PARQUET")
    assert _rows(eng, "pq_snap_t") == []
    # the dropped table's snapshot must not be rebuilt into the new one
    eng.sql("ALTER TABLE pq_snap_t REPLACE COLUMNS (a BIGINT, b STRING)")
    assert _rows(eng, "pq_snap_t") == []
    _drop(eng, "pq_snap_t")


def test_create_if_not_exists_keeps_the_record(eng, comma_file):
    _drop(eng, "ine")
    _comma_table(eng, "ine")
    eng.sql(
        "CREATE TABLE IF NOT EXISTS ine (a INT, b STRING) STORED AS TEXTFILE"
    )
    eng.sql(f"LOAD DATA LOCAL INPATH '{comma_file}' INTO TABLE ine")
    assert _rows(eng, "ine") == ROWS
    _drop(eng, "ine")


def test_failed_create_keeps_the_record(eng, comma_file):
    _drop(eng, "cfail")
    _comma_table(eng, "cfail")
    with pytest.raises(Exception, match="ALREADY_EXISTS"):
        eng.sql(
            "CREATE TABLE cfail (a INT, b STRING) "
            "ROW FORMAT DELIMITED FIELDS TERMINATED BY '|' STORED AS TEXTFILE"
        )
    eng.sql(f"LOAD DATA LOCAL INPATH '{comma_file}' INTO TABLE cfail")
    assert _rows(eng, "cfail") == ROWS
    _drop(eng, "cfail")


def test_rename_carries_delimiter_and_nano_display(eng, tmp_path):
    _drop(eng, "rn1", "rn2")
    eng.sql(
        "CREATE TABLE rn1 (a INT, b STRING, ts TIMESTAMP) "
        "ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' STORED AS TEXTFILE"
    )
    eng.sql("INSERT INTO rn1 VALUES (0, 'z', '2024-01-02 03:04:05.123456789')")
    eng.sql("ALTER TABLE rn1 RENAME TO rn2")
    p = tmp_path / "rows.txt"
    p.write_text("1,a,\n2,b,\n")
    eng.sql(f"LOAD DATA LOCAL INPATH '{p}' INTO TABLE rn2")
    assert _rows(eng, "rn2") == [(0, "z")] + ROWS
    shown = eng.sql("SELECT ts FROM rn2 WHERE a = 0").collect()[0][0]
    assert shown == "2024-01-02 03:04:05.123456789"
    _drop(eng, "rn2")


def test_recreate_without_row_format_resets_delimiter(eng, tmp_path):
    _drop(eng, "rdef")
    _comma_table(eng, "rdef")
    eng.sql("DROP TABLE rdef")
    eng.sql("CREATE TABLE rdef (a INT, b STRING) STORED AS TEXTFILE")
    p = tmp_path / "ctrl_a.txt"
    p.write_text("1\x01a\n2\x01b\n")
    eng.sql(f"LOAD DATA LOCAL INPATH '{p}' INTO TABLE rdef")
    assert _rows(eng, "rdef") == ROWS
    _drop(eng, "rdef")


def test_null_format_change_reinterprets_old_tokens(eng, tmp_path):
    # nullformat.q: bytes written with the OLD token read back as that
    # literal string once serialization.null.format changes
    _drop(eng, "nfmt")
    eng.sql(
        "CREATE TABLE nfmt (a INT, b STRING) ROW FORMAT DELIMITED "
        "FIELDS TERMINATED BY ',' NULL DEFINED AS 'fooNull' STORED AS TEXTFILE"
    )
    p = tmp_path / "nulls.txt"
    p.write_text("1,fooNull\n2,b\n")
    eng.sql(f"LOAD DATA LOCAL INPATH '{p}' INTO TABLE nfmt")
    assert _rows(eng, "nfmt") == [(1, None), (2, "b")]
    eng.sql(
        "ALTER TABLE nfmt SET SERDEPROPERTIES "
        "('serialization.null.format'='bar')"
    )
    assert _rows(eng, "nfmt") == [(1, "fooNull"), (2, "b")]
    _drop(eng, "nfmt")


# ------------------------------------------ _hive_cast: NULL only on Spark's verdict
def test_impossible_rebind_cast_reads_null(eng, spark):
    df = spark.createDataFrame([(True,)], "a boolean")
    col = eng._hive_cast(F.col("a"), "date", T.BooleanType())
    assert df.select(col.alias("d")).collect()[0].d is None


def test_non_analysis_error_in_cast_probe_propagates(eng, spark, monkeypatch):
    def broken(*_a, **_k):
        raise Py4JNetworkError("answer from Java side is empty")

    monkeypatch.setattr(spark, "range", broken)
    with pytest.raises(Py4JNetworkError):
        eng._hive_cast(F.col("a"), "int", T.StringType())


# ------------------------------------------------ moved from round-N files
def test_change_column_rename_migrates_nano_map(eng, spark):
    spark.sql("DROP TABLE IF EXISTS r13_nano_t")
    eng.sql("create table r13_nano_t (ts timestamp) stored as textfile")
    eng.sql(
        "insert into r13_nano_t values ('2024-01-02 03:04:05.123456789')"
    )
    # nano text beyond micros is display-mapped under the column name
    assert "ts" in eng.table_desc("r13_nano_t").ts_nano
    eng.sql("alter table r13_nano_t change column ts ts2 timestamp")
    nano = eng.table_desc("r13_nano_t").ts_nano
    assert "ts2" in nano and "ts" not in nano
    shown = eng.sql("select ts2 from r13_nano_t").collect()[0][0]
    assert str(shown).endswith("123456789") or str(shown).endswith("123456")
    eng.sql("drop table r13_nano_t")


def test_default_partition_reads_as_literal_string(eng, spark):
    spark.sql("DROP TABLE IF EXISTS r11_defp_t")
    eng.sql("create table r11_defp_t (a int) partitioned by (p string)")
    eng.sql(
        "insert into table r11_defp_t partition (p) "
        "select 1, cast(null as string)"
    )
    eng.sql("insert into table r11_defp_t partition (p='q') select 2")
    rows = {
        (r.a, r.p) for r in eng.sql("select a, p from r11_defp_t").collect()
    }
    assert rows == {(1, "__HIVE_DEFAULT_PARTITION__"), (2, "q")}
    # Hive matches the literal name in WHERE
    got = eng.sql(
        "select a from r11_defp_t where p='__HIVE_DEFAULT_PARTITION__'"
    ).collect()
    assert [r.a for r in got] == [1]
    spark.sql("DROP TABLE IF EXISTS r11_defp_t")


# ------------------------------------------ catalog_entry: Spark's catalog
def test_catalog_entry_declared_types_and_partition_keys(eng, spark):
    _drop(eng, "tce")
    eng.sql(
        "CREATE TABLE tce (a int, c char(5), v varchar(10)) "
        "PARTITIONED BY (P string) CLUSTERED BY (a) INTO 2 BUCKETS"
    )
    try:
        e = catalog_entry(spark, "default.`tce`")
        assert e.partition_cols == ["P"] and e.pcols == {"p"}
        assert e.types == {
            "a": "int", "c": "char(5)", "v": "varchar(10)", "p": "string"
        }
        assert e.data_cols == [("a", "int"), ("c", "char(5)"), ("v", "varchar(10)")]
        assert [f.name for f in e.schema.fields] == ["a", "c", "v", "P"]
        assert e.table_type == "MANAGED" and e.bucket_spec == (2, ["a"], [])
        assert e.row_count is None
        assert e.partition_dir([("p", "a b")]) == f"{e.location}/P=a b"
        eng.sql("ANALYZE TABLE tce COMPUTE STATISTICS")
        assert catalog_entry(spark, "tce").row_count == 0
    finally:
        _drop(eng, "tce")


def test_catalog_entry_external_location(eng, spark, tmp_path):
    d = tmp_path / "ext dir"
    _drop(eng, "tcx")
    eng.sql(f"CREATE EXTERNAL TABLE tcx (a int) LOCATION '{d}'")
    try:
        e = catalog_entry(spark, "tcx")
        assert (e.location, e.table_type) == (str(d), "EXTERNAL")
    finally:
        _drop(eng, "tcx")


def test_catalog_entry_views_have_no_location(eng, spark):
    eng.sql("CREATE OR REPLACE VIEW tcv AS SELECT 1 AS a")
    spark.range(1).createOrReplaceTempView("tct")
    try:
        for name, col in (("tcv", "a"), ("tct", "id")):
            e = catalog_entry(spark, name)
            assert (e.location, e.table_type, e.partition_cols) == (
                None, "VIEW", []
            )
            assert [f.name for f in e.schema.fields] == [col]
    finally:
        eng.sql("DROP VIEW tcv")
        spark.catalog.dropTempView("tct")


def test_catalog_entry_missing_table_raises(spark):
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        catalog_entry(spark, "no_such_table_tce")
