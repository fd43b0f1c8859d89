#!/usr/bin/env python
"""Measure skew-join handling: AQE skew splitting and salted_join vs a
naive shuffle join on a deliberately hot key — the evidence behind the
session preset's skew settings and operators/skew.py.

Setup: a fact table where ~50% of all rows share ONE key (the classic
power-law hot key), shuffle-joined (broadcast disabled) against a
non-broadcastable key table.  Three runs:

  * naive:  AQE skew splitting OFF — the hot key's partition is one task
  * aqe:    session default — AQE splits oversized partitions at runtime
  * salted: operators/skew.salted_join fans the hot key over 16 sub-keys

AQE splitting helps the SORT side of the join but a single hot KEY still
lands in one task's hash/merge group; salting is the fix that actually
divides the hot key's work.  Usage: python scripts/skew_scale.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from apache_hive_2_1_1_src_spark.operators.skew import salted_join  # noqa: E402
from apache_hive_2_1_1_src_spark.session import build_session  # noqa: E402

MULT = 64  # events multiplier for heft


def timeit(fn, n=3):
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        best = min(best, time.perf_counter() - t0) if best else time.perf_counter() - t0
    return best


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_session(app_name="skew-scale", shuffle_partitions=32)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet")).select(
        "event_id", "user_id", "value"
    )
    ev = ev.crossJoin(spark.range(MULT).withColumnRenamed("id", "_m")).drop("_m")
    # hot key: half of all rows collapse onto user_id = 1
    fact = ev.withColumn(
        "user_id", F.when(F.col("event_id") % 2 == 0, F.lit(1)).otherwise(F.col("user_id"))
    )
    dim = (
        ev.select("user_id").distinct()
        .withColumn("w", F.col("user_id") * 2)
    )
    fact.cache().count()
    dim.cache().count()

    def run_join(df):
        return df.agg(F.count(F.lit(1)), F.sum("w")).collect()

    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    t_naive = timeit(lambda: run_join(fact.join(dim, "user_id")))
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    t_aqe = timeit(lambda: run_join(fact.join(dim, "user_id")))
    t_salt = timeit(lambda: run_join(salted_join(fact, dim, "user_id", salt=16)))

    n = fact.count()
    print(
        f"{sf_dir} x{MULT} rows={n}: naive={t_naive:.2f}s aqe_skew={t_aqe:.2f}s "
        f"salted16={t_salt:.2f}s (hot key = 50% of rows, broadcast disabled)"
    )
    fact.unpersist()
    dim.unpersist()


if __name__ == "__main__":
    main()
