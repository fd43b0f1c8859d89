"""HiveEngine.sql's rule table: its shape, the post-write hooks' target
parse, and statement pins for single rules."""

from __future__ import annotations

import inspect
import re

import pytest

from apache_hive_2_1_1_src_spark import rules
from apache_hive_2_1_1_src_spark.session import HiveEngine
from apache_hive_2_1_1_src_spark.table_desc import catalog_entry


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
    eng.hive_exact_percentile = True
    try:
        v = eng.sql(
            "select percentile_approx(a.n_nationkey, 0.5) as p "
            "from nation a join nation b on a.n_nationkey = b.n_nationkey"
        ).collect()[0][0]
        # the point: no AMBIGUOUS_REFERENCE from an injected _metadata;
        # Hive's histogram interpolation over 0..24 answers 11.5
        assert v is not None and 11.0 <= v <= 13.0
    finally:
        eng.hive_exact_percentile = False


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


def test_shadow_rewrite_only_relation_references(eng, spark):
    for t in ("tsq", "tsq_other"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    eng.sql("CREATE TABLE tsq (a int)")
    eng.sql("INSERT INTO tsq VALUES (7)")
    eng.sql("CREATE TABLE tsq_other (tsq int)")
    eng.sql("INSERT INTO tsq_other VALUES (5)")
    eng.sql("CREATE TEMPORARY TABLE tsq (a int)")
    try:
        eng.sql("INSERT INTO tsq VALUES (1)")
        # the shadowed name stays a qualifier, a column and an alias
        assert _rows(eng, "SELECT tsq.a FROM tsq") == [(1,)]
        assert _rows(eng, "SELECT tsq FROM tsq_other") == [(5,)]
        assert _rows(eng, "SELECT a AS tsq FROM tsq") == [(1,)]
    finally:
        eng.sql("DROP TABLE tsq")
        eng.sql("DROP TABLE tsq")
        eng.sql("DROP TABLE tsq_other")


# ------------------------------------------- partition specs and paths
def _partitions(eng, table):
    return [r[0] for r in eng.sql(f"SHOW PARTITIONS {table}").collect()]


def _part_table(eng, spark, name, pcols="p string"):
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    eng.sql(f"CREATE TABLE {name} (a int) PARTITIONED BY ({pcols})")


def test_msck_registers_partition_directories(eng, spark):
    import shutil

    _part_table(eng, spark, "pmk")
    try:
        eng.sql("INSERT INTO pmk PARTITION (p='x') VALUES (1)")
        loc = catalog_entry(eng.spark, "pmk").location
        shutil.copytree(f"{loc}/p=x", f"{loc}/p=y")
        assert _rows(eng, "MSCK TABLE pmk") == [
            ("Partitions not in metastore:\tpmk:p=y",)
        ]
        assert _rows(eng, "MSCK REPAIR TABLE pmk")[-1] == (
            "Repair: Added partition to metastore pmk:p=y",
        )
        assert _partitions(eng, "pmk") == ["p=x", "p=y"]
        assert _rows(eng, "SELECT a, p FROM pmk ORDER BY p") == [
            (1, "x"), (1, "y")
        ]
        assert _rows(eng, "MSCK TABLE pmk") == []
    finally:
        eng.sql("DROP TABLE pmk")


def test_msck_unescapes_partition_directories(eng, spark):
    import shutil

    _part_table(eng, spark, "pmu")
    try:
        # Spark's own write of p='a=b' goes to the directory p=a%3Db
        eng.sql("INSERT INTO pmu PARTITION (p='x') VALUES (1)")
        loc = catalog_entry(eng.spark, "pmu").location
        shutil.copytree(f"{loc}/p=x", f"{loc}/p=a%3Db")
        eng.sql("MSCK REPAIR TABLE pmu")
        assert _partitions(eng, "pmu") == ["p=a%3Db", "p=x"]
        assert _rows(eng, "SELECT a FROM pmu WHERE p = 'a=b'") == [(1,)]
    finally:
        eng.sql("DROP TABLE pmu")


def test_exchange_partition_moves_rows(eng, spark):
    _part_table(eng, spark, "pex_dst")
    _part_table(eng, spark, "pex_src")
    try:
        eng.sql("INSERT INTO pex_src PARTITION (p='1') VALUES (1), (2)")
        eng.sql("INSERT INTO pex_src PARTITION (p='2') VALUES (3)")
        eng.sql("ALTER TABLE pex_dst EXCHANGE PARTITION (p='1') WITH TABLE pex_src")
        assert _rows(eng, "SELECT a, p FROM pex_dst ORDER BY a") == [
            (1, "1"), (2, "1")
        ]
        assert _rows(eng, "SELECT a, p FROM pex_src") == [(3, "2")]
        assert _partitions(eng, "pex_src") == ["p=2"]
    finally:
        eng.sql("DROP TABLE pex_dst")
        eng.sql("DROP TABLE pex_src")


def test_view_partitions_add_drop_show(eng, spark):
    _part_table(eng, spark, "pvb")
    spark.sql("DROP VIEW IF EXISTS pvv")
    try:
        eng.sql("CREATE VIEW pvv PARTITIONED ON (p) AS SELECT a, p FROM pvb")
        eng.sql("ALTER VIEW pvv ADD PARTITION (p='x')")
        eng.sql("ALTER VIEW pvv ADD IF NOT EXISTS PARTITION (p='y')")
        eng.sql("ALTER VIEW pvv ADD PARTITION (p='z')")
        eng.sql("ALTER VIEW pvv DROP PARTITION (p='x')")
        assert _partitions(eng, "pvv") == ["p=y", "p=z"]
        assert _rows(eng, "SHOW PARTITIONS pvv PARTITION (p='z')") == [("p=z",)]
    finally:
        eng.sql("DROP VIEW pvv")
        eng.sql("DROP TABLE pvb")


def test_drop_partitions_comparator_and_partial_spec(eng, spark):
    _part_table(eng, spark, "pdc", "p int")
    _part_table(eng, spark, "pdp", "p string, q string")
    try:
        for p in (1, 2, 3):
            eng.sql(f"INSERT INTO pdc PARTITION (p={p}) VALUES ({p})")
        eng.sql("ALTER TABLE pdc DROP PARTITION (p < 2)")
        assert _partitions(eng, "pdc") == ["p=2", "p=3"]
        for p, q in (("a", "1"), ("a", "2"), ("b", "1")):
            eng.sql(f"INSERT INTO pdp PARTITION (p='{p}', q='{q}') VALUES (0)")
        eng.sql("ALTER TABLE pdp DROP PARTITION (p='a')")
        assert _partitions(eng, "pdp") == ["p=b/q=1"]
    finally:
        eng.sql("DROP TABLE pdc")
        eng.sql("DROP TABLE pdp")


def test_orc_split_fixup_repacks_the_partition_directory(eng, spark, monkeypatch):
    for t in ("pos_src", "pos_dst"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    eng.sql("CREATE TABLE pos_src (a int) STORED AS ORC")
    eng.sql("CREATE TABLE pos_dst (a int) PARTITIONED BY (P string) STORED AS ORC")
    repacked = []
    monkeypatch.setattr(eng, "_mr_limit_key_order", True)
    monkeypatch.setattr(eng, "_repack_dir", lambda *a: repacked.append(a))
    try:
        eng.sql("INSERT INTO pos_src VALUES (1), (2)")
        eng.sql(
            "INSERT OVERWRITE TABLE pos_dst PARTITION (P='x y') "
            "SELECT a FROM pos_src"
        )
        loc = catalog_entry(eng.spark, "pos_dst").location
        # the directory Spark wrote: the key keeps its declared case
        assert repacked == [("pos_dst", f"{loc}/P=x y", 1)]
    finally:
        eng.sql("DROP TABLE pos_src")
        eng.sql("DROP TABLE pos_dst")


def test_load_data_partition_value_with_comma(eng, spark, tmp_path):
    f = tmp_path / "ld.txt"
    f.write_text("1\n2\n")
    _part_table(eng, spark, "pld")
    try:
        eng.sql(f"LOAD DATA LOCAL INPATH '{f}' INTO TABLE pld PARTITION (p='a,b')")
        assert _rows(eng, "SELECT a, p FROM pld ORDER BY a") == [
            (1, "a,b"), (2, "a,b")
        ]
    finally:
        eng.sql("DROP TABLE pld")


@pytest.mark.parametrize(
    "pcol, insert_spec, truncate_spec",
    [
        ("p int", "p=110", "p=110Y"),
        ("p string", "p='it\\'s'", "p='it\\'s'"),
    ],
    ids=["numeric_suffix", "escaped_quote"],
)
def test_truncate_decodes_partition_literals(
    eng, spark, pcol, insert_spec, truncate_spec
):
    _part_table(eng, spark, "ptd", pcol)
    try:
        eng.sql(f"INSERT INTO ptd PARTITION ({insert_spec}) VALUES (1)")
        eng.sql("INSERT INTO ptd PARTITION (p=7) VALUES (2)")
        eng.sql(f"TRUNCATE TABLE ptd PARTITION ({truncate_spec})")
        assert _rows(eng, "SELECT a FROM ptd") == [(2,)]
    finally:
        eng.sql("DROP TABLE ptd")


# ------------------------- rules that read the table's catalog entry
def test_add_columns_leaves_existing_partitions_null(eng, spark):
    """Non-CASCADE ADD COLUMNS on a partitioned table (HIVE-8839): the
    partitions that existed keep their old column list, so every row
    in them, also one inserted after the ALTER, reads the new column
    as NULL; a new partition reads it."""
    _part_table(eng, spark, "pac")
    try:
        eng.sql("INSERT INTO pac PARTITION (p='x') VALUES (1)")
        eng.sql("ALTER TABLE pac ADD COLUMNS (b int)")
        eng.sql("INSERT INTO pac PARTITION (p='x') VALUES (2, 20)")
        eng.sql("INSERT INTO pac PARTITION (p='y') VALUES (3, 30)")
        assert _rows(eng, "SELECT a, b, p FROM pac ORDER BY a") == [
            (1, None, "x"), (2, None, "x"), (3, 30, "y")
        ]
    finally:
        eng.sql("DROP TABLE pac")


def test_partition_column_type_recasts_the_key(eng, spark):
    _part_table(eng, spark, "pct")
    try:
        eng.sql("INSERT INTO pct PARTITION (p='1') VALUES (10)")
        eng.sql("INSERT INTO pct PARTITION (p='2') VALUES (20)")
        eng.sql("ALTER TABLE pct PARTITION COLUMN (p int)")
        assert dict(spark.table("pct").dtypes)["p"] == "int"
        assert _rows(eng, "SELECT a, p FROM pct WHERE p > 1") == [(20, 2)]
        assert _rows(eng, "SHOW PARTITIONS pct") == [("p=1",), ("p=2",)]
    finally:
        eng.sql("DROP TABLE pct")


def test_typed_compare_literals_over_char_varchar_table(eng, spark):
    """An invalid date literal rolls over as Hive's lenient
    SimpleDateFormat does ('1970-02-29' is 1970-03-01); the table's
    char/varchar columns resolve through the same schema read."""
    spark.sql("DROP TABLE IF EXISTS tcl")
    eng.sql("CREATE TABLE tcl (c char(5), v varchar(10), d date)")
    try:
        eng.sql(
            "INSERT INTO tcl VALUES ('ab', 'x', '1970-02-28'), "
            "('cd', 'y', '1970-03-01')"
        )
        assert _rows(
            eng, "SELECT rtrim(c), v FROM tcl WHERE d < '1970-02-29'"
        ) == [("ab", "x")]
    finally:
        eng.sql("DROP TABLE tcl")


def test_merge_files_after_insert_overwrite(eng, spark):
    spark.sql("DROP TABLE IF EXISTS tmf")
    eng.sql("CREATE TABLE tmf (k int)")
    eng.sql("SET hive.merge.mapfiles=true")
    try:
        eng.sql(
            "INSERT OVERWRITE TABLE tmf "
            "SELECT /*+ REPARTITION(4) */ n_nationkey FROM nation"
        )
        assert len(spark.table("tmf").inputFiles()) == 1
        assert _rows(eng, "SELECT count(*), sum(k) FROM tmf") == [(25, 300)]
    finally:
        eng.sql("SET hive.merge.mapfiles=false")
        eng.sql("DROP TABLE tmf")


def test_avro_schema_literal_adds_field_ahead_of_existing(eng, spark):
    """A new avro.schema.literal with a field the table lacks adds it
    in the reader schema's order, and existing rows read its default,
    whether it arrives as a serde or a table property."""
    schema = (
        '{"type": "record", "name": "r", "fields": ['
        '{"name": "z", "type": "int", "default": 7}, '
        '{"name": "a", "type": "int"}, {"name": "b", "type": "string"}]}'
    )
    for props in ("SERDEPROPERTIES", "TBLPROPERTIES"):
        spark.sql("DROP TABLE IF EXISTS tav")
        eng.sql("CREATE TABLE tav (a int, b string) PARTITIONED BY (p string)")
        try:
            eng.sql("INSERT INTO tav PARTITION (p='x') VALUES (1, 'u')")
            eng.sql(
                f"ALTER TABLE tav SET {props} "
                f"('avro.schema.literal'='{schema}')"
            )
            assert spark.table("tav").columns == ["z", "a", "b", "p"]
            assert _rows(eng, "SELECT * FROM tav") == [(7, 1, "u", "x")]
            assert _rows(eng, "SHOW PARTITIONS tav") == [("p=x",)]
            if props == "TBLPROPERTIES":
                assert _rows(
                    eng, "SHOW TBLPROPERTIES tav ('avro.schema.literal')"
                ) == [("avro.schema.literal", schema)]
        finally:
            eng.sql("DROP TABLE tav")


@pytest.mark.parametrize(
    "clause",
    [
        "SERDE 'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe'",
        "SERDEPROPERTIES ('field.delim'=',')",
        "FILEFORMAT ORC",
    ],
)
def test_alter_set_serde_of_missing_table_fails(eng, spark, clause):
    from pyspark.errors import AnalysisException

    spark.sql("DROP TABLE IF EXISTS no_such_serde_t")
    with pytest.raises(AnalysisException, match="TABLE_OR_VIEW_NOT_FOUND"):
        eng.sql(f"ALTER TABLE no_such_serde_t SET {clause}")
    assert eng._tables.key("no_such_serde_t") not in eng._tables._descs


def test_directory_export_refreshes_external_table_on_it(eng, spark, tmp_path):
    """An export into the directory an external table reads shows its
    new rows on the table's next read (insert_overwrite_directory2.q)."""
    d = str(tmp_path / "exp")
    spark.sql("DROP TABLE IF EXISTS ext_exp")
    eng.sql(f"INSERT OVERWRITE DIRECTORY '{d}' SELECT 1, 'a'")
    eng.sql(
        "CREATE EXTERNAL TABLE ext_exp (a int, b string) "
        f"STORED AS TEXTFILE LOCATION '{d}'"
    )
    try:
        assert _rows(eng, "SELECT * FROM ext_exp") == [(1, "a")]
        eng.sql(
            f"INSERT OVERWRITE DIRECTORY '{d}' "
            "SELECT 2, 'b' UNION ALL SELECT 3, 'c'"
        )
        assert _rows(eng, "SELECT * FROM ext_exp ORDER BY a") == [
            (2, "b"), (3, "c")
        ]
    finally:
        eng.sql("DROP TABLE ext_exp")


def test_partition_replace_columns_nulls_dropped_columns(eng, spark):
    spark.sql("DROP TABLE IF EXISTS tprc")
    eng.sql("CREATE TABLE tprc (a int, b string) PARTITIONED BY (p string)")
    try:
        eng.sql("INSERT INTO tprc PARTITION (p='x') VALUES (1, 'u')")
        eng.sql("INSERT INTO tprc PARTITION (p='y') VALUES (2, 'v')")
        eng.sql("ALTER TABLE tprc PARTITION (p='x') REPLACE COLUMNS (a int)")
        assert _rows(eng, "SELECT a, b, p FROM tprc ORDER BY a") == [
            (1, None, "x"), (2, "v", "y")
        ]
    finally:
        eng.sql("DROP TABLE tprc")


def test_block_offset_serializes_only_data_columns(eng, spark, tmp_path):
    """BLOCK__OFFSET__INSIDE__FILE is the byte offset of the row in its
    text file, which holds the data columns only."""
    f = tmp_path / "rows.txt"
    f.write_text("1\x01ab\n22\x01c\n")
    spark.sql("DROP TABLE IF EXISTS tbo")
    eng.sql("CREATE TABLE tbo (a int, b string) PARTITIONED BY (p string)")
    try:
        eng.sql(f"LOAD DATA LOCAL INPATH '{f}' INTO TABLE tbo PARTITION (p='x')")
        assert _rows(
            eng, "SELECT a, BLOCK__OFFSET__INSIDE__FILE FROM tbo ORDER BY a"
        ) == [(1, 0), (22, 5)]
    finally:
        eng.sql("DROP TABLE tbo")


@pytest.mark.parametrize(
    "rebuild",
    [
        "ALTER TABLE trp CHANGE COLUMN b b2 string",
        "ALTER TABLE trp REPLACE COLUMNS (a int, c string)",
        "ALTER TABLE trp SET SERDEPROPERTIES ('avro.schema.literal'="
        "'{\"type\": \"record\", \"name\": \"r\", \"fields\": ["
        "{\"name\": \"z\", \"type\": \"int\", \"default\": 7}, "
        "{\"name\": \"a\", \"type\": \"int\"}, {\"name\": \"b\", \"type\": \"string\"}]}')",
    ],
)
def test_table_rebuild_keeps_tblproperties(eng, spark, rebuild):
    """A statement that drops and recreates the table keeps the
    properties set on it earlier, as Hive's ALTER TABLE keeps its
    table parameters."""
    spark.sql("DROP TABLE IF EXISTS trp")
    eng.sql("CREATE TABLE trp (a int, b string) PARTITIONED BY (p string)")
    try:
        eng.sql("INSERT INTO trp PARTITION (p='x') VALUES (1, 'u')")
        eng.sql("ALTER TABLE trp SET TBLPROPERTIES ('owner.note'='keep', 'q.note'='it\\'s')")
        eng.sql(rebuild)
        assert _rows(eng, "SHOW TBLPROPERTIES trp ('owner.note')") == [("owner.note", "keep")]
        assert _rows(eng, "SHOW TBLPROPERTIES trp ('q.note')") == [("q.note", "it's")]
    finally:
        eng.sql("DROP TABLE trp")


@pytest.mark.parametrize("value", ["Infinity", "-Infinity", "NaN"])
def test_compute_stats_prints_non_finite_double_min_max(eng, value):
    """Java's Double.toString spelling for a non-finite min and max."""
    [(stats,)] = _rows(
        eng, f"SELECT compute_stats(x, 16) FROM (SELECT CAST('{value}' AS DOUBLE) AS x) t"
    )
    assert f'"min":{value},"max":{value},' in stats
