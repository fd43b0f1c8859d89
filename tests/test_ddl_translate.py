"""Hive-form CREATE TABLE DDL through HiveEngine.sql.

A migrating user's scripts contain Hive's physical DDL surface —
``ROW FORMAT DELIMITED``, ``STORED AS ORC``, typed ``PARTITIONED BY
(dt STRING)``, ``CREATE EXTERNAL TABLE`` — which Spark's non-Hive
catalog parser rejects. ``HiveEngine.translate_hive_ddl`` rewrites
that surface into Spark's ``USING`` form (reference grammar:
ql/src/java/org/apache/hadoop/hive/ql/parse/HiveParser.g
createTableStatement; analysis in parse/SemanticAnalyzer.java
analyzeCreateTable)."""

from __future__ import annotations

import pytest

from apache_hive_2_1_1_src_spark.session import HiveEngine


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    e = HiveEngine(spark, sf_dir)
    e.register_tables()
    return e


def _cleanup(eng, *tables):
    for t in tables:
        eng.sql(f"DROP TABLE IF EXISTS {t}")


def test_row_format_stored_as(eng):
    _cleanup(eng, "ddlt_rf")
    eng.sql(
        "CREATE TABLE ddlt_rf (id INT, name STRING) "
        "ROW FORMAT DELIMITED FIELDS TERMINATED BY '\\t' "
        "STORED AS ORC"
    )
    eng.sql("INSERT INTO ddlt_rf VALUES (1, 'a'), (2, 'b')")
    assert eng.sql("SELECT count(*) AS c FROM ddlt_rf").collect()[0].c == 2
    # declared Hive format is remembered for tooling
    assert eng.table_desc("ddlt_rf").fmt == "orc"
    _cleanup(eng, "ddlt_rf")


def test_typed_partitioned_by_external(eng):
    _cleanup(eng, "ddlt_part")
    eng.sql(
        "CREATE EXTERNAL TABLE ddlt_part (id INT) "
        "PARTITIONED BY (dt STRING) STORED AS PARQUET"
    )
    eng.sql("INSERT INTO ddlt_part PARTITION (dt='2024-01-01') VALUES (1)")
    eng.sql("INSERT INTO ddlt_part PARTITION (dt='2024-01-02') VALUES (2)")
    rows = eng.sql(
        "SELECT id, dt FROM ddlt_part ORDER BY id"
    ).collect()
    assert [(r.id, r.dt) for r in rows] == [
        (1, "2024-01-01"),
        (2, "2024-01-02"),
    ]
    parts = eng.sql("SHOW PARTITIONS ddlt_part").collect()
    assert len(parts) == 2
    _cleanup(eng, "ddlt_part")


def test_serde_with_serdeproperties(eng):
    _cleanup(eng, "ddlt_serde")
    eng.sql(
        "CREATE TABLE ddlt_serde (id INT, v DOUBLE) ROW FORMAT SERDE "
        "'org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe' "
        "WITH SERDEPROPERTIES ('field.delim'=',') STORED AS TEXTFILE"
    )
    eng.sql("INSERT INTO ddlt_serde VALUES (1, 1.5)")
    assert eng.sql("SELECT v FROM ddlt_serde").collect()[0].v == 1.5
    assert eng.table_desc("ddlt_serde").fmt == "textfile"
    _cleanup(eng, "ddlt_serde")


def test_ctas_stored_as(eng):
    _cleanup(eng, "ddlt_ctas")
    eng.sql(
        "CREATE TABLE ddlt_ctas STORED AS ORC AS "
        "SELECT r_regionkey, r_name FROM region"
    )
    assert eng.sql("SELECT count(*) AS c FROM ddlt_ctas").collect()[0].c == 5
    _cleanup(eng, "ddlt_ctas")


def test_spark_form_untouched(eng):
    stmt = "CREATE TABLE x (a INT) USING parquet PARTITIONED BY (a)"
    assert eng.translate_hive_ddl(stmt) == stmt
    stmt2 = "SELECT * FROM region"
    assert eng.translate_hive_ddl(stmt2) == stmt2


def test_show_create_table_long_form(eng):
    """The verbatim output of Hive's SHOW CREATE TABLE (DDLTask
    showCreateTable): ROW FORMAT SERDE + STORED AS INPUTFORMAT /
    OUTPUTFORMAT class names.  Users paste this form when migrating."""
    _cleanup(eng, "ddlt_sct")
    eng.sql(
        """CREATE EXTERNAL TABLE ddlt_sct (k BIGINT, v STRING)
        ROW FORMAT SERDE 'org.apache.hadoop.hive.ql.io.orc.OrcSerde'
        STORED AS INPUTFORMAT
          'org.apache.hadoop.hive.ql.io.orc.OrcInputFormat'
        OUTPUTFORMAT
          'org.apache.hadoop.hive.ql.io.orc.OrcOutputFormat'"""
    )
    eng.sql("INSERT INTO ddlt_sct VALUES (1, 'x')")
    assert eng.sql("SELECT k FROM ddlt_sct").collect()[0].k == 1
    assert eng.table_desc("ddlt_sct").fmt == "orc"
    _cleanup(eng, "ddlt_sct")


def test_skewed_by_dropped(eng):
    """SKEWED BY list-bucketing hint (HiveParser.g tableSkewed;
    clientpositive/list_bucket_dml*.q) is a physical-layout advisory —
    dropped, table still works."""
    _cleanup(eng, "ddlt_skew")
    eng.sql(
        """CREATE TABLE ddlt_skew (k INT, v STRING)
        SKEWED BY (k) ON ((1), (2)) STORED AS DIRECTORIES
        STORED AS ORC"""
    )
    eng.sql("INSERT INTO ddlt_skew VALUES (1, 'a'), (9, 'b')")
    assert eng.sql("SELECT count(*) AS c FROM ddlt_skew").collect()[0].c == 2
    _cleanup(eng, "ddlt_skew")


def test_multiline_real_world_shape(eng):
    """A verbatim Hive 2.1 DDL shape (data/scripts-style table defn)."""
    _cleanup(eng, "ddlt_web")
    eng.sql(
        """CREATE EXTERNAL TABLE ddlt_web (
            ip STRING,
            hits BIGINT,
            tags ARRAY<STRING>
        )
        PARTITIONED BY (dt STRING, hr INT)
        ROW FORMAT DELIMITED
          FIELDS TERMINATED BY '\\001'
          COLLECTION ITEMS TERMINATED BY '\\002'
        STORED AS SEQUENCEFILE"""
    )
    eng.sql(
        "INSERT INTO ddlt_web PARTITION (dt='d1', hr=3) "
        "VALUES ('1.2.3.4', 7, array('a','b'))"
    )
    r = eng.sql("SELECT ip, hits, tags, dt, hr FROM ddlt_web").collect()[0]
    assert (r.ip, r.hits, list(r.tags), r.dt, r.hr) == (
        "1.2.3.4",
        7,
        ["a", "b"],
        "d1",
        3,
    )
    assert eng.table_desc("ddlt_web").fmt == "sequencefile"
    _cleanup(eng, "ddlt_web")


def test_clustered_by_buckets_retained(eng):
    """Hive bucketed-table DDL (HiveParser.g tableBuckets; exercised by
    clientpositive/bucket*.q): CLUSTERED BY / SORTED BY / INTO N BUCKETS
    survives translation and lands in the catalog as real Spark
    bucketing metadata — not dropped like the advisory clauses."""
    _cleanup(eng, "ddlt_buck")
    eng.sql(
        "CREATE TABLE ddlt_buck (id INT, v STRING) "
        "CLUSTERED BY (id) SORTED BY (id ASC) INTO 4 BUCKETS "
        "STORED AS ORC"
    )
    desc = {
        str(r.col_name): str(r.data_type)
        for r in eng.spark.sql("DESCRIBE EXTENDED ddlt_buck").collect()
    }
    assert desc.get("Num Buckets") == "4"
    assert desc.get("Bucket Columns") == "[`id`]"
    assert desc.get("Sort Columns") == "[`id`]"
    eng.sql("INSERT INTO ddlt_buck VALUES (1, 'a'), (2, 'b')")
    assert eng.sql("SELECT count(*) AS c FROM ddlt_buck").collect()[0].c == 2
    _cleanup(eng, "ddlt_buck")


def test_kitchen_sink_ddl(eng):
    """Every major physical clause in one statement: column/table
    COMMENTs, multi-column typed PARTITIONED BY, CLUSTERED BY,
    ROW FORMAT DELIMITED with NULL DEFINED AS, STORED AS, TBLPROPERTIES
    (the composite shape SemanticAnalyzer.analyzeCreateTable accepts)."""
    _cleanup(eng, "ddlt_ks")
    eng.sql(
        """CREATE TABLE IF NOT EXISTS ddlt_ks (
            id INT COMMENT 'the key', v STRING)
        COMMENT 'kitchen sink'
        PARTITIONED BY (dt STRING, region INT)
        CLUSTERED BY (id) INTO 2 BUCKETS
        ROW FORMAT DELIMITED FIELDS TERMINATED BY ',' NULL DEFINED AS '\\N'
        STORED AS TEXTFILE
        TBLPROPERTIES ('k'='v')"""
    )
    eng.sql(
        "INSERT INTO ddlt_ks PARTITION (dt='d1', region=1) VALUES (1,'a')"
    )
    r = eng.sql("SELECT id, v, dt, region FROM ddlt_ks").collect()[0]
    assert (r.id, r.v, r.dt, r.region) == (1, "a", "d1", 1)
    assert eng.table_desc("ddlt_ks").fmt == "textfile"
    parts = eng.sql("SHOW PARTITIONS ddlt_ks").collect()
    assert len(parts) == 1
    _cleanup(eng, "ddlt_ks")


def test_show_create_table_hive_form(eng):
    """SHOW CREATE TABLE emits Hive's dialect (DDLTask.showCreateTable):
    backticked columns, typed PARTITIONED BY outside the list, ROW
    FORMAT SERDE + STORED AS INPUTFORMAT/OUTPUTFORMAT class names — and
    the emitted text is consumable by the engine's own translator."""
    _cleanup(eng, "ddlt_sce")
    eng.sql(
        "CREATE TABLE ddlt_sce (id INT, v STRING) "
        "PARTITIONED BY (dt STRING) STORED AS ORC"
    )
    ddl = eng.sql("SHOW CREATE TABLE ddlt_sce").collect()[0].createtab_stmt
    assert "`id` int" in ddl
    assert "PARTITIONED BY (`dt` string)" in ddl
    assert "ROW FORMAT SERDE" in ddl
    assert "'org.apache.hadoop.hive.ql.io.orc.OrcSerde'" in ddl
    assert "STORED AS INPUTFORMAT" in ddl
    assert "'org.apache.hadoop.hive.ql.io.orc.OrcInputFormat'" in ddl
    assert "'org.apache.hadoop.hive.ql.io.orc.OrcOutputFormat'" in ddl
    # closure: the emitted text parses back through the translator
    _cleanup(eng, "ddlt_sce")
    eng.sql(ddl)
    eng.sql("INSERT INTO ddlt_sce PARTITION (dt='x') VALUES (5, 'z')")
    assert eng.sql("SELECT id FROM ddlt_sce").collect()[0].id == 5
    assert eng.table_desc("ddlt_sce").fmt == "orc"
    _cleanup(eng, "ddlt_sce")


def test_autogen_ctas_aliases_default_prefix(spark, sf_dir):
    """autogen_colalias.q: unaliased CTAS expressions become _c<position>
    (0-based); aliased and plain columns keep their names."""
    from apache_hive_2_1_1_src_spark.queries.storage import drop_table
    from apache_hive_2_1_1_src_spark.session import HiveEngine

    eng = HiveEngine(spark, sf_dir)
    eng.register_tables()
    drop_table(spark, "ag_default")
    eng.sql(
        "CREATE TABLE ag_default AS SELECT 1+1, o_orderkey AS k, "
        "o_orderstatus, COUNT(*) FROM orders "
        "GROUP BY o_orderkey, o_orderstatus"
    )
    assert spark.table("ag_default").columns == ["_c0", "k", "o_orderstatus", "_c3"]
    # the Hive-named columns are directly queryable
    row = eng.sql("SELECT MAX(_c0) AS m, SUM(_c3) AS s FROM ag_default").first()
    assert row.m == 2 and row.s > 0
    drop_table(spark, "ag_default")


def test_autogen_ctas_custom_prefix_and_funcname(spark, sf_dir):
    from apache_hive_2_1_1_src_spark.queries.storage import drop_table
    from apache_hive_2_1_1_src_spark.session import HiveEngine

    eng = HiveEngine(spark, sf_dir)
    eng.register_tables()
    eng.set_var("hive.autogen.columnalias.prefix.label", "column_")
    eng.set_var("hive.autogen.columnalias.prefix.includefuncname", "true")
    drop_table(spark, "ag_custom")
    eng.sql(
        "CREATE TABLE ag_custom AS SELECT COUNT(*), 5+5, o_orderstatus "
        "FROM orders GROUP BY o_orderstatus"
    )
    cols = spark.table("ag_custom").columns
    # count(1) -> column_count_0; (5 + 5) has no top-level fn -> column_1
    assert cols == ["column_count_0", "column_1", "o_orderstatus"], cols
    drop_table(spark, "ag_custom")


def test_autogen_ctas_noop_when_all_aliased(spark, sf_dir):
    from apache_hive_2_1_1_src_spark.queries.storage import drop_table
    from apache_hive_2_1_1_src_spark.session import HiveEngine

    eng = HiveEngine(spark, sf_dir)
    eng.register_tables()
    drop_table(spark, "ag_aliased")
    eng.sql(
        "CREATE TABLE ag_aliased AS SELECT COUNT(*) AS n, o_orderstatus "
        "FROM orders GROUP BY o_orderstatus"
    )
    assert spark.table("ag_aliased").columns == ["n", "o_orderstatus"]
    drop_table(spark, "ag_aliased")


def test_column_and_table_comments_roundtrip(spark, sf_dir):
    """CREATE TABLE with column + table COMMENTs (HiveParser columnNameType
    COMMENT; describe_comment_indent.q): DESCRIBE returns them verbatim."""
    from apache_hive_2_1_1_src_spark.queries.storage import drop_table
    from apache_hive_2_1_1_src_spark.session import HiveEngine

    eng = HiveEngine(spark, sf_dir)
    drop_table(spark, "comment_demo")
    eng.sql(
        "CREATE TABLE comment_demo (k INT COMMENT 'the key', "
        "v STRING COMMENT 'the value') USING parquet "
        "COMMENT 'table level comment'"
    )
    desc = {r.col_name: r.comment for r in spark.sql("DESCRIBE comment_demo").collect()}
    assert desc["k"] == "the key" and desc["v"] == "the value"
    ext = {
        r.col_name: r.data_type
        for r in spark.sql("DESCRIBE TABLE EXTENDED comment_demo").collect()
    }
    assert ext.get("Comment") == "table level comment"
    drop_table(spark, "comment_demo")


def test_reset_clears_session_overrides(spark, sf_dir):
    """SetProcessor.executeReset (CliDriver RESET command): all SET
    overrides drop back to defaults."""
    from apache_hive_2_1_1_src_spark.session import HiveEngine

    eng = HiveEngine(spark, sf_dir)
    eng.register_tables()
    eng.sql("SET hive.optimize.cte.materialize.threshold=2")
    eng.sql("SET hive.stats.autogather=true")
    assert eng._vars["hive.stats.autogather"] == "true"
    eng.sql("RESET")
    assert eng._vars == {}
    # materialization conf is gone: CTE query plans with the scan again
    df = eng.sql(
        "WITH q1 AS (SELECT o_orderkey FROM orders WHERE o_orderkey <= 50) "
        "SELECT a.o_orderkey AS k FROM q1 a JOIN q1 b ON a.o_orderkey = b.o_orderkey"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "parquet" in plan.lower()


def test_show_conf_known_and_unknown(spark, sf_dir):
    """DDLTask.showConf: (default, type, description) for a known conf,
    current value reflecting SET; unknown key errors as Hive does."""
    import pytest as _pytest

    from apache_hive_2_1_1_src_spark.session import HiveEngine

    eng = HiveEngine(spark, sf_dir)
    row = eng.sql("SHOW CONF 'hive.stats.autogather'").first()
    assert row.default == "false" and row.type == "BOOLEAN"
    assert row.current == "false"
    eng.sql("SET hive.stats.autogather=true")
    assert eng.sql("SHOW CONF 'hive.stats.autogather'").first().current == "true"
    eng.sql("RESET")
    with _pytest.raises(ValueError, match="invalid configuration"):
        eng.sql("SHOW CONF 'hive.not.a.real.conf'")
