#!/usr/bin/env python
"""Optimization measurement harness for bench.py's headline queries.

Two modes:
  plans  — capture .explain("formatted") for every headline query into
           <outdir>/<query>_<tag>.txt (plan evidence).
  time   — per-query isolation timing: best-of-N wall time for the SAME
           action bench.py uses (df.count(), q85 collect) AND the noop
           sink (df.write.format('noop')) which computes every column
           (guide §1.4), plus the Janino compilations and compile ms those
           runs cost (Spark's CodegenMetrics; in local mode the executors
           share the driver JVM, so their compiles count too).  Prints one
           JSON line per query.

Usage:
  python scripts/bench_profile.py plans  <outdir> [tag] [query ...]
  python scripts/bench_profile.py time   [reps] [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from apache_hive_2_1_1_src_spark.queries import all_queries  # noqa: E402
from apache_hive_2_1_1_src_spark.session import build_session  # noqa: E402
from bench import HEADLINE  # noqa: E402


def codegen_totals(spark) -> tuple[int, float]:
    """(Janino compilations, compile ms) so far in this JVM."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e6


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    if mode == "plans" and len(sys.argv) < 3:
        sys.exit(__doc__)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(
        app_name=f"bench-profile-{mode}",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.coalescePartitions.parallelismFirst": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    if mode == "plans":
        outdir = sys.argv[2]
        tag = sys.argv[3] if len(sys.argv) > 3 else "before"
        names = sys.argv[4:] or HEADLINE
        os.makedirs(outdir, exist_ok=True)
        for name in names:
            df = queries[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[union-attr]
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(outdir, f"{name}_{tag}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")
        return

    # time mode
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    names = sys.argv[3:] or HEADLINE
    # warm JVM + listing cache, same as bench.py
    queries["q01_pricing_summary"](spark, sf_dir).collect()
    for name in names:
        spark.sparkContext.setJobDescription(f"profile:{name}")
        n0, ms0 = codegen_totals(spark)
        best_cnt = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            if name == "q85_write_partitioned":
                df.collect()
            else:
                df.count()
            best_cnt = min(best_cnt, time.perf_counter() - t0)
        best_noop = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            best_noop = min(best_noop, time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        n1, ms1 = codegen_totals(spark)
        print(
            json.dumps(
                {
                    "query": name,
                    "count_sec": round(best_cnt, 3),
                    "noop_sec": round(best_noop, 3),
                    "compilations": n1 - n0,
                    "compile_ms": round(ms1 - ms0, 1),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
