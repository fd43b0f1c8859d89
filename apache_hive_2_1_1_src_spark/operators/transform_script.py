"""TRANSFORM / MAP / REDUCE clause — pipe rows through a user script.

Reference: ScriptOperator.java:875 feeds tab-separated rows to a subprocess
and reads tab-separated rows back (Hive's default serde for TRANSFORM).
Spark-first: ``mapPartitions`` launches one subprocess per partition and
streams rows through it — the per-partition process amortizes spawn cost
exactly like Hive's one-script-per-task model, and the operator remains
fully distributed (no driver involvement, scales with partition count).
"""

from __future__ import annotations

import subprocess
from collections.abc import Iterator

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType

from apache_hive_2_1_1_src_spark.table_desc import catalog_entry


def transform_script(
    df: DataFrame,
    command: list[str],
    output_schema: StructType | str,
) -> DataFrame:
    """Pipe each partition's rows through ``command`` (tab-separated in/out,
    Hive ScriptOperator framing: '\\t' fields, '\\n' records, '\\N' nulls)."""
    spark = df.sparkSession
    out_schema = (
        output_schema
        if isinstance(output_schema, StructType)
        else StructType.fromDDL(output_schema)
    )
    n_out = len(out_schema.fields)

    def run_partition(rows: Iterator[Row]) -> Iterator[tuple]:
        proc = subprocess.Popen(
            command,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        input_lines = []
        for row in rows:
            fields = ["\\N" if v is None else str(v) for v in row]
            input_lines.append("\t".join(fields))
        stdout, _ = proc.communicate("\n".join(input_lines) + ("\n" if input_lines else ""))
        if proc.returncode != 0:
            raise RuntimeError(f"TRANSFORM script failed: {command}")
        for line in stdout.splitlines():
            parts = line.split("\t")
            parts = parts[:n_out] + [None] * (n_out - len(parts))
            yield tuple(None if p == "\\N" else p for p in parts)

    # strings out of the script; cast to the declared schema afterwards,
    # matching Hive's string-then-cast TRANSFORM typing
    string_schema = StructType.fromDDL(
        ", ".join(f"{f.name} string" for f in out_schema.fields)
    )
    raw = spark.createDataFrame(df.rdd.mapPartitions(run_partition), string_schema)
    casted = raw.select(
        *[raw[f.name].cast(f.dataType).alias(f.name) for f in out_schema.fields]
    )
    return casted


def analyze_table_rowcount(spark: SparkSession, table: str) -> int:
    """ANALYZE TABLE ... COMPUTE STATISTICS, then read numRows back from
    the catalog (StatsTask.java persistence → Spark's table stats)."""
    spark.sql(f"ANALYZE TABLE {table} COMPUTE STATISTICS")
    rows = catalog_entry(spark, table).row_count
    if rows is None:
        raise ValueError(f"no statistics recorded for {table}")
    return rows
