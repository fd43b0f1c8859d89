#!/usr/bin/env python
"""Full-registry timing census.

Runs EVERY registry entry once (same count() action the bench uses) at the
given SF and writes one JSON line per entry — the measurement base for an
operator checklist.  A second run of the slowest entries should be done
separately (first runs pay codegen compile).

Usage: python scripts/census.py [sf_dir] [out_path]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_hive_2_1_1_src_spark.queries import all_queries  # noqa: E402
from apache_hive_2_1_1_src_spark.session import build_session  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    out_path = sys.argv[2] if len(sys.argv) > 2 else "/tmp/census.jsonl"
    spark = build_session(
        app_name="census",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.coalescePartitions.parallelismFirst": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()
    queries["q01_pricing_summary"](spark, sf_dir).collect()  # warm
    out = open(out_path, "w")
    for name, fn in queries.items():
        spark.sparkContext.setJobDescription(f"census:{name}")
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            n = df.count()
            rec = {"query": name, "sec": round(time.perf_counter() - t0, 3), "rows": n}
        except Exception as exc:  # keep the census complete on one bad entry
            rec = {
                "query": name,
                "sec": round(time.perf_counter() - t0, 3),
                "err": f"{type(exc).__name__}: {exc}"[:200],
            }
        out.write(json.dumps(rec) + "\n")
        out.flush()
    out.close()
    print(f"census written to {out_path}")


if __name__ == "__main__":
    main()
