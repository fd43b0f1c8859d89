"""io.load_table: a parquet file's schema is inferred once per file
version and inference confs, then passed to every later read."""

from __future__ import annotations

import shutil

from apache_hive_2_1_1_src_spark.io import load_table
from tests.test_acid import _jobs_launched


def _read(spark, d, name):
    """(Spark jobs the call launched, the DataFrame)."""
    got = []
    jobs = _jobs_launched(spark, lambda: got.append(load_table(spark, d, name)))
    return jobs, got[0]


def test_second_read_reuses_the_inferred_schema(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/orders.parquet", tmp_path / "orders.parquet")
    jobs, first = _read(spark, str(tmp_path), "orders")
    assert jobs == 1
    jobs, second = _read(spark, str(tmp_path), "orders")
    assert jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_rewritten_file_is_inferred_again(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/region.parquet", tmp_path / "t.parquet")
    _read(spark, str(tmp_path), "t")
    shutil.copy(f"{sf_dir}/nation.parquet", tmp_path / "t.parquet")
    jobs, df = _read(spark, str(tmp_path), "t")
    assert jobs == 1
    assert df.columns == spark.read.parquet(f"{sf_dir}/nation.parquet").columns
    assert df.count() == 25


def test_inference_conf_change_infers_again(spark, sf_dir, tmp_path):
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    shutil.copy(f"{sf_dir}/events.parquet", tmp_path / "events.parquet")
    _read(spark, str(tmp_path), "events")
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false" if before == "true" else "true")
    try:
        jobs, df = _read(spark, str(tmp_path), "events")
        assert jobs == 1
        assert dict(df.dtypes)["ts"] == "timestamp"
    finally:
        spark.conf.set(conf, before)
    assert _read(spark, str(tmp_path), "events")[0] == 0
