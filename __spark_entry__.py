"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``apache_hive_2_1_1_src_spark`` — a thin
PySpark-native layer with Hive 2.1.1's query surface (SURVEY.md §2);
this module only aggregates the registry.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from apache_hive_2_1_1_src_spark.queries import all_oracles, all_queries  # noqa: E402
from apache_hive_2_1_1_src_spark.session import apply_compat_conf  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (SURVEY.md §7 M0): TPC-H-Q1-shaped pricing summary —
    scan → filter → hash-agg (partial/final) → sort, the
    TableScan→Filter→GroupBy→ReduceSink chain of the reference
    (ql/.../exec/GroupByOperator.java:1159)."""
    apply_compat_conf(spark)
    from apache_hive_2_1_1_src_spark.queries.relational import q01_pricing_summary

    return q01_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    qs = all_queries()

    def wrap(fn):
        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            apply_compat_conf(spark)
            return fn(spark, sf_dir)

        run.__name__ = fn.__name__
        run.__doc__ = fn.__doc__
        return run

    return {name: wrap(fn) for name, fn in qs.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (keys lacking an oracle get
    the driver's rows-only check — used only for non-SQL-expressible ops)."""
    return dict(all_oracles())
