"""Shared fixtures: one Hive-compat SparkSession + a DuckDB oracle
connection over the same parquet tables (QTestUtil-style golden harness,
itests/util/.../QTestUtil.java:941-971)."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_hive_2_1_1_src_spark.session import build_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    # a fresh warehouse per run: managed tables a failed run leaves
    # behind cannot collide with the next run's CREATEs
    spark = build_session(
        app_name="pytest-hive-spark",
        shuffle_partitions=8,
        warehouse_dir=str(tmp_path_factory.mktemp("warehouse")),
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for tb in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {tb} AS SELECT * FROM '{SF_DIR}/{tb}.parquet'"
        )
    yield con
    con.close()
