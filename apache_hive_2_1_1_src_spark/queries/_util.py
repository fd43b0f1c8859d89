"""Shared helpers for the query registry."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from apache_hive_2_1_1_src_spark.io import load_table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan a driver table (TableScanOperator equivalent)."""
    return load_table(spark, sf_dir, name)
