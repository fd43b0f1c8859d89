"""The session preset: the Hive-compat runtime conf and the generated-code
cache that ``build_session`` sizes."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

from apache_hive_2_1_1_src_spark import session
from apache_hive_2_1_1_src_spark.session import HIVE_COMPAT_RUNTIME_CONF, apply_compat_conf


def test_compat_preset_applies_cleanly_to_live_session(spark):
    apply_compat_conf(spark)
    for k, v in HIVE_COMPAT_RUNTIME_CONF.items():
        assert spark.conf.get(k) == v, k


def test_compat_conf_errors_propagate(spark, monkeypatch):
    # a static key cannot be set on a live session; the error must reach
    # the caller rather than leave the preset silently half-applied
    monkeypatch.setitem(
        session.HIVE_COMPAT_RUNTIME_CONF, "spark.sql.codegen.cache.maxEntries", "7"
    )
    with pytest.raises(AnalysisException):
        apply_compat_conf(spark)


def test_built_session_reports_codegen_cache_cap(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"


def test_codegen_cache_holds_a_round_of_distinct_plans(spark):
    """Spark's default 100-entry cache of compiled plan classes evicts a
    round of 150 distinct plans before the round repeats, so the second
    round compiles every class again.  Sized to the working set, the
    second round compiles nothing."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compilations = metrics.METRIC_COMPILATION_TIME()

    def one_round():
        for i in range(150):
            spark.range(1).selectExpr(f"id + {i} AS x").collect()

    one_round()
    before = compilations.getCount()
    one_round()
    assert compilations.getCount() - before == 0
