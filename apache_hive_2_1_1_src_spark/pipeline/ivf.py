"""IVF (inverted-file) approximate nearest-neighbor index over an
embedding column — the coarse-quantizer scale path the brief asks for
alongside the LSH variant (`similarity.lsh_bucketed_ann`).

Structure (classic IVF-Flat):

1. **Train** a small codebook of ``num_centroids`` centroids — seeded
   deterministically from the first-k vectors, refined with a fixed
   number of Lloyd iterations.  Centroids are tiny (k × dims) and always
   broadcast; the per-iteration cost is one broadcast join over the
   corpus plus one k×dims-row aggregate.
2. **Assign** every corpus vector to its nearest centroid (broadcast
   join, no shuffle of the corpus).  At 100 TB this assignment is
   written out partitioned/bucketed by ``cid`` so the index is built
   once and probed many times.
3. **Probe**: each query ranks the centroids (broadcast, driver-free),
   keeps its ``nprobe`` closest lists, and scores exact cosine only
   against vectors in those lists.  Join volume drops from |Q|×|corpus|
   to |Q|×(nprobe/k)×|corpus| on average, and the join key (cid) gives
   Spark a hash join instead of a cartesian.

With ``nprobe == num_centroids`` the probe covers every list and the
result equals exact brute-force top-k — pytest pins that equality, and
pins recall/candidate-boundedness for partial probes.

Everything is codegen expressions (zip_with/aggregate dot products,
per-row array_max argmin over the broadcast codebook) — no UDF, no
driver-side numpy, no RNG state.

Reference parity note: Hive 2.1 has no ANN surface; this extends the
engine per the brief (similarity search as a first-class deliverable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from apache_hive_2_1_1_src_spark.pipeline.dedup import _dot, _norm


def train_centroids(
    emb: DataFrame,
    num_centroids: int = 8,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Lloyd-refined codebook: (cid, centroid array<double>).

    Seed = the ``num_centroids`` lowest-id vectors (deterministic, no
    RNG), taken with ``orderBy(id).limit(k)`` so Catalyst plans a fully
    distributed TakeOrderedAndProject (per-partition top-k, merged on
    the driver) rather than forcing the corpus through a single-task
    global-sort window.  The k survivors are ranked into cids by one
    tiny single-row aggregate (k × dims values — same size as the
    broadcast codebook itself).  Each iteration: nearest-centroid
    assignment via a broadcast join, then an element-wise mean per
    cluster (explode to (cid, dim) rows — k×dims output, one shuffle of
    |corpus|×dims rows; at real scale sample the corpus for training,
    the assignment step below still covers every vector).
    """
    vecs = emb.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    seeds = vecs.orderBy("id").limit(num_centroids)
    centroids = (
        seeds.agg(F.array_sort(F.collect_list(F.struct("id", "v"))).alias("s"))
        .select(F.posexplode("s").alias("cid", "sv"))
        .select("cid", F.col("sv.v").alias("centroid"))
    )
    for _ in range(iterations):
        assigned = assign_lists(vecs, centroids, vec_col="v", id_col="id")
        centroids = (
            assigned.select("cid", F.posexplode("v").alias("dim", "val"))
            .groupBy("cid", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("cid")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("centroid")
            )
            # round 13: materialize the k-row codebook each iteration —
            # without this every consumer branch (next iteration, the
            # assignment join, every probe) re-executes the ENTIRE
            # training lineage (iterations × corpus scans per consumer);
            # the checkpointed table is k rows × dims, trivially resident
            .localCheckpoint(eager=False)
        )
    return centroids


def assign_lists(
    emb: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Nearest-centroid assignment: (id, v, cid), map-only.

    Round 14 (guide §2.4 — remove shuffles outright): the k-row codebook
    is collapsed into ONE array row (sorted by cid), replicated by a
    single-row broadcast, and each vector picks its centroid with a
    per-row ``array_max`` over the scored array — the previous shape
    (broadcast join to k rows per vector → groupBy(id) max-struct
    argmax) paid a full corpus exchange CARRYING THE VECTOR COLUMN for
    every assignment call: once per Lloyd iteration and once for the
    index build.  Per-row arithmetic is unchanged — cos_c =
    dot(v, centroid) / (nv · cn) with the centroid norm still computed
    once per centroid (round 13) — and ``array_max`` over
    struct(cos_c, -cid) is the same total ordering as the old
    max(struct(...)) aggregate, so assignments are bit-identical
    (verified over all sf0.1 vectors; ties still break to lowest cid).

    Preconditions: ``id_col`` is unique (each input row yields one output
    row, so a repeated id yields repeated (id, cid) rows), and the codebook
    is not empty (ValueError; an empty one would leave every cid NULL)."""
    if centroids.isEmpty():
        raise ValueError("assign_lists: the centroid codebook is empty")
    cents = (
        centroids.withColumn("cn", _norm(F.col("centroid")))
        .agg(F.array_sort(F.collect_list(F.struct("cid", "centroid", "cn"))).alias("cents"))
    )
    return (
        emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            _norm(F.col(vec_col)).alias("nv"),
        )
        .join(F.broadcast(cents))
        .withColumn(
            "best",
            F.array_max(
                F.transform(
                    F.col("cents"),
                    lambda c: F.struct(
                        (_dot(F.col("v"), c["centroid"]) / (F.col("nv") * c["cn"])).alias(
                            "cos_c"
                        ),
                        (-c["cid"]).alias("neg_cid"),
                    ),
                )
            ),
        )
        .select("id", "v", (-F.col("best.neg_cid")).alias("cid"))
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    nprobe: int = 4,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF-Flat top-k: returns (query_id, neighbor_id, cos), ≤k rows per
    query, scored only within each query's ``nprobe`` nearest lists."""
    centroids = train_centroids(
        emb, num_centroids=num_centroids, iterations=iterations,
        vec_col=vec_col, id_col=id_col,
    )
    # per-side norms below the joins (round 13, guide §1.2) — same
    # arithmetic as cosine(), scores bit-identical
    index = assign_lists(emb, centroids, vec_col=vec_col, id_col=id_col).select(
        F.col("id").alias("neighbor_id"),
        F.col("v").alias("cv"),
        "cid",
        _norm(F.col("v")).alias("cv_norm"),
    )

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("qv_norm"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_c"), F.asc("cid")
    )
    cent = centroids.withColumn("cn", _norm(F.col("centroid")))
    probes = (
        q.join(F.broadcast(cent))
        .withColumn(
            "cos_c",
            _dot(F.col("qv"), F.col("centroid")) / (F.col("qv_norm") * F.col("cn")),
        )
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "qv", "qv_norm", "cid")
    )

    scored = (
        index.join(
            F.broadcast(probes),
            (index["cid"] == probes["cid"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("qv_norm") * F.col("cv_norm"))).alias(
                "cos_exact"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_exact"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("cos_exact", 4).alias("cos"))
    )
