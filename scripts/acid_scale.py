#!/usr/bin/env python
"""Measure ACID (operators/acid.py) read/commit overhead as deltas
accumulate, at two data scales — the evidence behind the 100 TB design
claims in docs/SCALE_DESIGN.md.

For each sf dir: build an AcidTable from orders, commit K update txns
(disjoint key slices), then time
  * plain parquet aggregate over the base (the floor),
  * snapshot read with K live deltas (tombstone aggregate + join),
  * the same after minor and after major compaction,
  * one commit including its write-set conflict check.

Expectation at scale: the delta tax is proportional to the TOMBSTONE
set (small), not the table; compaction restores the plain-scan shape.

Usage: python scripts/acid_scale.py [sf_dir ...]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from apache_hive_2_1_1_src_spark.operators.acid import AcidTable  # noqa: E402
from apache_hive_2_1_1_src_spark.session import build_session  # noqa: E402

K_TXNS = 10


def timeit(fn, n=3):
    best = None
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return best


def agg(df):
    return (
        df.groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
        .collect()
    )


def run(spark, sf_dir: str) -> None:
    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    n_rows = orders.count()
    root = os.path.join(tempfile.gettempdir(), f"acid_scale_{os.getpid()}")
    tbl = AcidTable.create(spark, root, orders, key_col="o_orderkey")

    t_plain = timeit(lambda: agg(spark.read.parquet(os.path.join(root, "base_0"))))

    for i in range(K_TXNS):
        tx = tbl.begin()
        tx.update(
            F.col("o_orderkey") % (K_TXNS * 7) == i,
            {"o_totalprice": F.col("o_totalprice") + 1},
        )
        tx.commit()

    # a real write-set check: B opens before A commits, so B's commit
    # must semi-join its tombstones against A's (disjoint → success)
    tx_a, tx_b = tbl.begin(), tbl.begin()
    tx_a.update(F.col("o_orderkey") % 97 == 0, {"o_totalprice": F.col("o_totalprice") + 1})
    tx_b.update(F.col("o_orderkey") % 97 == 1, {"o_totalprice": F.col("o_totalprice") + 1})
    tx_a.commit()
    t0 = time.perf_counter()
    tx_b.commit()
    commit_t = time.perf_counter() - t0

    # transactional MERGE: update 1/40 of keys, insert a shifted slice
    tx = tbl.begin()
    src_upd = (
        spark.read.parquet(os.path.join(root, "base_0"))
        .filter(F.col("o_orderkey") % 40 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") + 5)
    )
    t0 = time.perf_counter()
    tx.merge(src_upd, when_matched_update={"o_totalprice": F.col("src_o_totalprice")})
    tx.commit()
    merge_t = time.perf_counter() - t0

    t_deltas = timeit(lambda: agg(tbl.read()))
    tbl.compact_minor()
    t_minor = timeit(lambda: agg(tbl.read()))
    tbl.compact_major()
    tbl.clean()
    t_major = timeit(lambda: agg(tbl.read()))

    print(
        f"{sf_dir}: rows={n_rows} plain={t_plain:.3f}s "
        f"read+{K_TXNS + 3}deltas={t_deltas:.3f}s after_minor={t_minor:.3f}s "
        f"after_major={t_major:.3f}s commit_with_conflict_check={commit_t:.3f}s "
        f"txn_merge={merge_t:.3f}s"
    )
    import shutil

    shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
    spark = build_session(app_name="acid-scale", shuffle_partitions=16)
    for d in dirs:
        run(spark, d)


if __name__ == "__main__":
    main()
