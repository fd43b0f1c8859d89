#!/usr/bin/env python
"""Headline benchmark — run by the driver per round (BENCH_r{N}.json).

Times the representative query set at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Query choice: one per operator family that dominates 100 TB plans —
hash agg (q01), shuffle join + top-N (q03), broadcast star join (q10),
six-table TPC-H Q5 join (q116), single-pass window Q21 (q129),
count-distinct expand (q24), grouping sets (q29), window (q40), CTE+window
rank (q79), partitioned write (q85), exact dedup (p01), MinHash-LSH fuzzy
dedup (p02), brute-force ANN (p06), text quality (p08), single-shuffle
as-of join (q142), multi-resolution time rollup (q144), and the composed
curation funnel quality→dedup→scrub→chunk (p31).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from apache_hive_2_1_1_src_spark.queries import all_queries  # noqa: E402
from apache_hive_2_1_1_src_spark.session import build_session  # noqa: E402

HEADLINE = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q10_broadcast_region_revenue",
    "q116_local_supplier_volume",
    "q129_waiting_orders",
    "q24_count_distinct",
    "q29_grouping_sets",
    "q40_row_number_topk",
    "q79_cte",
    "q85_write_partitioned",
    "p01_dedup_exact",
    "p02_dedup_minhash_lsh",
    "p06_ann_bruteforce",
    "p08_text_quality",
    "p14_tfidf",
    "q96_streaming_window_counts",
    "q103_sessionization",
    "q142_asof_join",
    "q144_time_rollup",
    "p31_corpus_pipeline",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # shuffle partitioning sized to the benchmark scale: 8 initial partitions
    # at sf0.1 (AQE re-splits if any grow too large; parallelismFirst off so
    # coalescing targets partition SIZE, not core count).  A cluster run at
    # real scale raises SPARK_GRAFT_CPUS / lets AQE expand instead.
    spark = build_session(
        app_name="bench",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.coalescePartitions.parallelismFirst": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # warm the JVM + file listing once so timings measure query execution
    queries["q01_pricing_summary"](spark, sf_dir).collect()

    timings: dict[str, float] = {}
    for name in HEADLINE:
        # steady-state: best of three runs (the first run of a query pays
        # its plan's Janino compile, which build_session's codegen cache
        # keeps for the later runs; a third sample damps shared-VM
        # scheduling noise, which BASELINE.md measures at +/-30% run-to-run)
        best = float("inf")
        for _ in range(3):
            start = time.perf_counter()
            df = queries[name](spark, sf_dir)
            n = df.count() if name != "q85_write_partitioned" else len(df.collect())
            best = min(best, time.perf_counter() - start)
            assert n >= 0
        timings[name] = round(best, 3)
    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": float(sf),
            }
        )
    )


if __name__ == "__main__":
    main()
