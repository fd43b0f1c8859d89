#!/usr/bin/env python
"""Connected-components (p35) scaling measurement over the bucketed
embedding near-dup graph at 1x and 10x vectors: per call, the rounds
``connected_components`` takes, the Spark jobs the call launches, and its
wall time.

Claim under test (SCALE_DESIGN.md): each round is linear in |edges| and
the round count grows with the graph's diameter, not its size, so time
should grow ~linearly with the pair set while the ROUND COUNT stays
flat — the opposite signature of a quadratic all-pairs resolution.

The rounds are the smallest ``max_iterations`` with which the call
converges (smaller ones raise), so the script needs nothing from the
function but its signature; only that last, converging call is timed
and its jobs counted (job group plus ``statusTracker``).

The 10x corpus is the 1x embeddings unioned under shifted ids.  Note
the vectors themselves are IDENTICAL across replicas, so every vector
gains 9 perfect twins and every original pair multiplies across
replicas — the measured graph is ~770x denser than 1x, a deliberate
near-dup-saturated stress case (the worst shape a dedup graph takes).
Usage: python scripts/cc_scale.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from apache_hive_2_1_1_src_spark.pipeline.dedup import (  # noqa: E402
    connected_components,
    embedding_near_dups,
)
from apache_hive_2_1_1_src_spark.session import build_session  # noqa: E402

COPIES = 10


def _jobs_in_group(sc, group: str) -> int:
    """Jobs of ``group`` once a later fence job has reached the status
    tracker (jobs arrive there through the listener bus, in order)."""
    sc.setJobGroup("cc-fence", "cc-fence")
    before = len(sc.statusTracker().getJobIdsForGroup("cc-fence"))
    sc.parallelize([0], 1).count()
    while len(sc.statusTracker().getJobIdsForGroup("cc-fence")) == before:
        time.sleep(0.05)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = build_session(app_name="cc-scale", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    emb1 = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    shift = emb1.agg(F.max("vec_id")).first()[0] + 1
    emb10 = emb1
    for i in range(1, COPIES):
        emb10 = emb10.unionByName(
            emb1.withColumn("vec_id", F.col("vec_id") + F.lit(i * shift))
        )
    emb10 = emb10.cache()
    emb10.count()

    sc = spark.sparkContext
    for label, emb in (("1x", emb1), (f"{COPIES}x", emb10)):
        pairs = embedding_near_dups(emb, threshold=0.40, sign_bits=4).cache()
        n_pairs = pairs.count()  # materialize pair generation separately
        for rounds in range(1, 13):
            group = f"cc-{label}-{rounds}"
            sc.setJobGroup(group, group)
            t0 = time.perf_counter()
            try:
                cc = connected_components(pairs, max_iterations=rounds)
            except RuntimeError:
                continue
            dt = time.perf_counter() - t0
            jobs = _jobs_in_group(sc, group)
            break
        else:
            raise RuntimeError(f"{label}: no convergence within 12 rounds")
        n_comp = cc.agg(F.countDistinct("component")).first()[0]
        print(
            f"{label}: edges={n_pairs} components={n_comp} rounds={rounds} "
            f"jobs={jobs} cc_time={dt:.2f}s"
        )
        pairs.unpersist()
    emb10.unpersist()


if __name__ == "__main__":
    main()
