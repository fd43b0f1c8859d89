"""Metadata-only query answering — Hive's StatsOptimizer
(ql/src/java/org/apache/hadoop/hive/ql/optimizer/StatsOptimizer.java:97,
gated by hive.compute.query.using.stats): ``SELECT count(*) FROM t``,
``min(c)``/``max(c)``/``count(c)`` over a bare table are answered from
the catalog's ANALYZE stats without scanning a single row — the "instant
count(*)" behavior Hive users notice.

Spark-first re-expression: the stats live in Spark's own catalog
(ANALYZE TABLE ... COMPUTE STATISTICS [FOR COLUMNS ...] persists
numRows / per-column min/max/numNulls exactly as Hive's StatsTask +
ColumnStatsTask do), and the rewritten "plan" is a literal one-row
projection with NO relation under it — Catalyst never sees the table.

Safety contract (mirrors StatsOptimizer's StatsSetupConst.ACCURATE
check): a lookup is served ONLY when every needed statistic is present
in the catalog; any gap → ``None`` and the caller falls through to the
scan path.  Like Hive, correctness relies on stats being current —
ANALYZE after writes; the engine flag defaults off
(hive.compute.query.using.stats=false, the reference's default).
"""

from __future__ import annotations

import re

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from apache_hive_2_1_1_src_spark.sqltext import (
    parse_partition_path,
    spec_sql,
    split_top_level,
)
from apache_hive_2_1_1_src_spark.table_desc import catalog_entry

#: SELECT <aggs> FROM <bare table> [WHERE <partition-equality conjuncts>]
#: — no GROUP/JOIN/subquery/LIMIT.
_SHAPE = re.compile(
    r"^\s*SELECT\s+(?P<aggs>.+?)\s+FROM\s+(?P<table>[\w.]+)"
    r"(?:\s+WHERE\s+(?P<where>.+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_AGG = re.compile(
    r"^(?P<fn>COUNT|MIN|MAX)\s*\(\s*(?P<arg>\*|1|[\w]+)\s*\)"
    r"(?:\s+AS\s+(?P<alias>\w+))?$",
    re.IGNORECASE,
)


def _column_stats(spark: SparkSession, table: str, col: str) -> dict | None:
    """min/max/num_nulls from DESCRIBE EXTENDED table col (ColumnStatsTask
    read-back).  Returns None when FOR COLUMNS was never run for ``col``."""
    rows = {r[0]: r[1] for r in spark.sql(f"DESCRIBE EXTENDED {table} {col}").collect()}
    if rows.get("min") in (None, "NULL") and rows.get("num_nulls") in (None, "NULL"):
        return None
    return rows


def _partition_filtered_count(
    spark: SparkSession, table: str, where: str
) -> int | None:
    """Partition-pruned row count from per-partition catalog stats
    (metadata_only_queries_with_filters.q; StatsOptimizer consults
    Partition-level StatsSetupConst.ROW_COUNT when every predicate is an
    equality on a partition column).  Returns None unless ALL conjuncts
    are partition-column equalities and EVERY matching partition carries
    ANALYZE'd numRows — the same all-or-nothing ACCURATE contract as the
    table path."""
    eqs: dict[str, str] = {}
    for conj in re.split(r"\bAND\b", where, flags=re.IGNORECASE):
        m = re.match(
            r"^\s*(\w+)\s*=\s*(?:'([^']*)'|\"([^\"]*)\"|([\w.-]+))\s*$", conj
        )
        if not m:
            return None
        val = m.group(2) if m.group(2) is not None else (
            m.group(3) if m.group(3) is not None else m.group(4)
        )
        eqs[m.group(1).lower()] = val
    try:
        pcols = catalog_entry(spark, table).pcols
    except AnalysisException:
        return None  # no such table: the scan path reports it
    if not eqs or not set(eqs) <= pcols:
        return None
    try:
        parts = [r[0] for r in spark.sql(f"SHOW PARTITIONS {table}").collect()]
    except Exception:
        return None
    total = 0
    for p in parts:
        kv = dict(parse_partition_path(p))
        if not all(kv.get(k) == v for k, v in eqs.items()):
            continue
        spec = spec_sql(kv.items())
        try:
            desc = spark.sql(
                f"DESCRIBE TABLE EXTENDED {table} PARTITION ({spec})"
            ).collect()
        except Exception:
            return None
        st = next(
            (
                r[1]
                for r in desc
                if (r[0] or "").strip() == "Partition Statistics"
            ),
            None,
        )
        m = re.search(r"(\d+)\s+rows", st or "")
        if not m:
            return None
        total += int(m.group(1))
    return total


def try_stats_only_answer(spark: SparkSession, text: str) -> DataFrame | None:
    """If ``text`` is a pure-aggregate query over one bare table and the
    catalog holds every statistic it needs, return the answer as a
    literal projection (no table relation in the plan); else None."""
    m = _SHAPE.match(text)
    if not m:
        return None
    table = m.group("table")
    body = m.group("aggs")
    where = m.group("where")
    if re.search(
        r"\b(WHERE|GROUP|JOIN|HAVING|LIMIT|UNION|DISTINCT|OVER)\b", body, re.IGNORECASE
    ) or re.search(r"(^|,)\s*(,|$)", body):
        # (an empty select item is a syntax error for Spark to report)
        return None
    if where is not None:
        # partition-equality filters: only the COUNT(*) family can be
        # answered (column min/max stats are table-level here)
        if re.search(
            r"\b(GROUP|JOIN|HAVING|LIMIT|UNION|OR)\b", where, re.IGNORECASE
        ):
            return None
        parts_b = split_top_level(body)
        exprs_f: list[str] = []
        n_part: int | None = None
        for i, part in enumerate(parts_b):
            am = _AGG.match(part)
            if not am or am.group("fn").upper() != "COUNT" or am.group(
                "arg"
            ) not in ("*", "1"):
                return None
            if n_part is None:
                n_part = _partition_filtered_count(spark, table, where)
            if n_part is None:
                return None
            alias = am.group("alias") or f"c{i}"
            exprs_f.append(f"CAST({n_part} AS BIGINT) AS {alias}")
        return spark.sql("SELECT " + ", ".join(exprs_f))
    try:
        entry = catalog_entry(spark, table)
    except AnalysisException:
        return None  # no such table: the scan path reports it
    schema = {f.name.lower(): f.dataType.simpleString() for f in entry.schema.fields}
    # numRows as ANALYZE persisted it (StatsTask)
    n_rows = entry.row_count
    parts = split_top_level(body)
    exprs: list[str] = []
    for i, part in enumerate(parts):
        am = _AGG.match(part)
        if not am:
            return None
        fn = am.group("fn").upper()
        arg = am.group("arg")
        alias = am.group("alias") or f"c{i}"
        if fn == "COUNT" and arg in ("*", "1"):
            if n_rows is None:
                return None
            exprs.append(f"CAST({n_rows} AS BIGINT) AS {alias}")
            continue
        col = arg.lower()
        if col not in schema:
            return None
        st = _column_stats(spark, table, arg)
        if st is None:
            return None
        if fn == "COUNT":
            if n_rows is None or st.get("num_nulls") in (None, "NULL"):
                return None
            exprs.append(
                f"CAST({n_rows - int(st['num_nulls'])} AS BIGINT) AS {alias}"
            )
        else:
            v = st.get("min" if fn == "MIN" else "max")
            if v in (None, "NULL"):
                return None
            ctype = schema[col]
            lit = f"'{v}'" if ctype in ("string", "date", "timestamp") else v
            exprs.append(f"CAST({lit} AS {ctype}) AS {alias}")
    # literal one-row projection: the table never enters the plan
    return spark.sql("SELECT " + ", ".join(exprs))


# ---------------------------------------------------------------------------
# MetadataOnlyOptimizer (ql/.../optimizer/physical/MetadataOnlyOptimizer.java,
# on by default via hive.optimize.metadataonly): a query whose referenced
# columns are ALL partition keys answers from the partition LIST — one row
# per partition — even when the partitions hold zero data rows
# (metadataonly1.q: ``select max(ds) from TEST1`` over an empty ds='1'
# partition returns '1').  Non-distinct count(pcol) still counts real rows,
# so only distinct-insensitive shapes are eligible: min/max(pcol),
# count(DISTINCT pcols), SELECT [DISTINCT] pcols, GROUP BY pcols.
_META_SHAPE = re.compile(
    r"^\s*SELECT\s+(?P<body>.+?)\s+FROM\s+(?P<table>[\w.]+)"
    r"(?:\s+GROUP\s+BY\s+(?P<group>[\w.,\s]+?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _partition_rows(spark: SparkSession, table: str):
    """[(pcol values...)] per partition from SHOW PARTITIONS, plus the
    partition column names — None when the table is unpartitioned."""
    try:
        rows = spark.sql(f"SHOW PARTITIONS {table}").collect()
    except Exception:
        return None, None
    tuples, names = [], None
    for r in rows:
        # the row is the escaped partition path ('01:10:10' prints
        # 01%3A10%3A10)
        kv = parse_partition_path(str(r[0]))
        if names is None:
            names = [k for k, _ in kv]
        tuples.append(tuple(v for _, v in kv))
    return names, tuples


def try_partition_metadata_answer(
    spark: SparkSession, text: str
) -> DataFrame | None:
    if re.search(r"\b(WHERE|JOIN|UNION|HAVING|OVER|LIMIT)\b|\(\s*SELECT",
                 text, re.IGNORECASE):
        return None
    m = _META_SHAPE.match(text)
    if not m:
        return None
    table, body, group = m.group("table"), m.group("body"), m.group("group")
    # MetadataOnlyOptimizer only applies to aggregation-like shapes: a bare
    # ``SELECT pcol FROM t`` returns one row per DATA row, not per partition
    # (MetadataOnlyOptimizer.java requires group-by/distinct-like context) —
    # rewriting it would silently collapse N rows to the partition count.
    if not (
        group
        or re.search(r"\bDISTINCT\b", body, re.IGNORECASE)
        or re.search(r"\b(MIN|MAX)\s*\(", body, re.IGNORECASE)
    ):
        return None
    try:
        entry = catalog_entry(spark, table)
    except AnalysisException:
        return None  # no such table: the scan path reports it
    pcols = entry.pcols
    dcols = {f.name.lower() for f in entry.data_fields}
    if not pcols:
        return None
    # every referenced identifier must be a partition key (aliases after
    # AS are output names, not references)
    scan_text = re.sub(
        r"\bAS\s+\w+", " ", body + " " + (group or ""), flags=re.IGNORECASE
    )
    idents = {
        w.lower()
        for w in re.findall(r"[A-Za-z_]\w*", scan_text)
        if w.lower()
        not in ("select", "distinct", "min", "max", "count", "as", "by")
    }
    if not idents or not idents <= pcols or idents & dcols:
        return None
    # eligibility: any bare count(pcol)/sum/avg counts DATA rows — bail
    if re.search(r"\bCOUNT\s*\(\s*(?!DISTINCT\b)[A-Za-z_]", body, re.IGNORECASE):
        return None
    if re.search(r"\b(SUM|AVG|STDDEV\w*|VAR\w*|COLLECT_\w+)\s*\(", body, re.IGNORECASE):
        return None
    names, tuples = _partition_rows(spark, table)
    if not names:
        return None
    types = {f.name.lower(): f.dataType.simpleString() for f in entry.schema.fields}
    pdf = spark.createDataFrame(
        tuples or [tuple([None] * len(names))],
        ", ".join(f"`{n}` string" for n in names),
    )
    if not tuples:
        pdf = pdf.limit(0)
    view = f"__partmeta_{abs(hash(table)) % 10**8}"
    sel = pdf.selectExpr(
        *[f"CAST(`{n}` AS {types.get(n.lower(), 'string')}) AS `{n}`" for n in names]
    )
    sel.createOrReplaceTempView(view)
    rewritten = re.sub(
        rf"\bFROM\s+{re.escape(table)}\b", f"FROM {view}", text,
        flags=re.IGNORECASE,
    )
    try:
        return spark.sql(rewritten.rstrip().rstrip(";"))
    except Exception:
        return None
