"""Product-quantization (PQ) approximate nearest-neighbor search — the
memory-compression scale path that complements IVF list pruning
(pipeline/ivf.py) and hyperplane LSH (pipeline/similarity.py).

Why PQ at 100 TB: a 64-dim float embedding is 256 bytes; its PQ code at
m=4 subspaces × 256 codes each is 4 bytes — a 64× smaller index that
fits hot in executor memory, scanned with table lookups instead of
float dot products (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011).

Spark-first shape — every step is a broadcast join or a keyed
aggregation, no UDF, no driver-side numpy:

1. **Train** — each of the ``m`` subspaces gets its own small Lloyd
   codebook over the corresponding vector slice (deterministic lowest-id
   seeds, fixed iterations — same discipline as ivf.train_centroids).
   Codebooks are m × codes_per_sub rows, always broadcast.
2. **Encode** — explode each corpus vector into its m subvectors
   (posexplode of sliced arrays — m small rows per vector, linear),
   broadcast-join the codebooks, argmax the min-L2-equivalent score
   ``dot(v_sub, c) − ½‖c‖²``; result is the (id, sub, code) table — the
   4-byte-per-vector index a real deployment writes out bucketed.
3. **ADC probe** — per query, a lookup table (query × codebooks,
   broadcast: m × codes_per_sub rows per query) holds ``dot(q_sub, c)``
   and ``‖c‖²``; the code table joins it on (sub, code) and a per-(query,
   id) SUM reconstructs the approximate dot and norm — additivity over
   subspaces makes cosine ≈ Σdot / (‖q‖·√Σ‖c‖²) a pure keyed aggregate.
4. **Re-rank** — exact cosine only on each query's ``rerank`` best ADC
   candidates (top-N window partitioned by query_id), then top-k.  With
   ``rerank ≥ |corpus|`` the result equals brute force exactly —
   pytest pins that, plus the in-plan recall certificate (p48).

At 100 TB this composes with IVF exactly like FAISS IVFADC: restrict
step 3 to the query's nprobe lists (the code table is written bucketed
by coarse cid), so the scan is (nprobe/k)·|corpus| code rows per query
batch, each 4 bytes wide.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from apache_hive_2_1_1_src_spark.pipeline.dedup import _dot, cosine


def _norm2(a: Column) -> Column:
    return F.aggregate(
        a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )


def _subvectors(vec: Column, m: int, dim: int) -> Column:
    """Array of the m equal-width slices of ``vec`` (1-based F.slice)."""
    width = dim // m
    return F.array(*[F.slice(vec, s * width + 1, width) for s in range(m)])


def train_pq_codebooks(
    emb: DataFrame,
    m: int = 4,
    codes_per_sub: int = 8,
    dim: int = 64,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-subspace Lloyd codebooks: (sub, cid, centroid array<double>).

    Seeds are the codes_per_sub lowest-id subvectors (deterministic,
    TakeOrderedAndProject — no RNG, no global-sort window); each
    iteration reassigns by the min-L2-equivalent score and recomputes
    element-wise means.  All m subspaces train in ONE plan over a single
    corpus scan: the corpus explodes to (id, sub, subv) once and every
    step operates keyed by ``sub``.
    """
    subs = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            _subvectors(
                F.transform(F.col(vec_col), lambda x: x.cast("double")), m, dim
            )
        ).alias("sub", "subv"),
    )
    # Seeds: the codes_per_sub lowest-id VECTORS (orderBy+limit plans a
    # fully distributed TakeOrderedAndProject — never a window over only
    # m partitions, which would funnel the corpus through m tasks), each
    # contributing its slice to every subspace's codebook.
    seed_vecs = emb.select(
        F.col(id_col).alias("id"),
        _subvectors(
            F.transform(F.col(vec_col), lambda x: x.cast("double")), m, dim
        ).alias("subs"),
    ).orderBy("id").limit(codes_per_sub)
    seeds = (
        seed_vecs.agg(
            F.array_sort(F.collect_list(F.struct("id", "subs"))).alias("s")
        )
        .select(F.posexplode("s").alias("cid", "sv"))
        .select("cid", F.posexplode("sv.subs").alias("sub", "centroid"))
        .select("sub", "cid", "centroid")
    )
    books = seeds
    for _ in range(iterations):
        # keep_vec=True: the assignment row carries its subvector, so the
        # mean recompute reads it directly — the old shape re-joined the
        # corpus-sized (id, sub, code) assignment back to the corpus-sized
        # (id, sub, subv) table every iteration (two shuffles + sort per
        # iteration whose only purpose was recovering subv)
        assigned = _assign_codes(subs, books, keep_vec=True)
        books = (
            assigned
            .select("sub", "code", F.posexplode("subv").alias("dimi", "val"))
            .groupBy("sub", "code", "dimi")
            .agg(F.avg("val").alias("mval"))
            .groupBy("sub", "code")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dimi", "mval"))),
                    lambda s: s["mval"],
                ).alias("centroid")
            )
            .select("sub", F.col("code").alias("cid"), "centroid")
            # round 13: materialize the m×codes-row codebook per iteration
            # — otherwise every consumer (next iteration, encode, every
            # query LUT) re-executes the whole training lineage (see
            # ivf.train_centroids)
            .localCheckpoint(eager=False)
        )
    return books


def _assign_codes(
    subs: DataFrame, books: DataFrame, keep_vec: bool = False
) -> DataFrame:
    """(id, sub, code): argmax of dot(subv,c) − ½‖c‖² (≡ min L2) over the
    broadcast codebook of each subspace; ties break to the lowest cid.

    Round 14 (guide §2.4): map-only — each subspace's codebook collapses
    to one sorted array row, the (id, sub, subv) rows broadcast-hash-join
    it on ``sub`` (m tiny rows), and the code is a per-row ``array_max``
    over the scored array.  The previous shape (join to codes_per_sub
    rows per subvector → groupBy(id, sub) max-struct argmax) paid a full
    corpus×m exchange per call — once per Lloyd iteration plus once for
    the encode.  Per-row score arithmetic is unchanged (½‖c‖² is now
    computed once per CENTROID instead of per pair — same value
    subtracted), and array_max over struct(score, -cid) is the same
    total ordering as the old max(struct(...)) aggregate, so codes are
    bit-identical (verified over all sf0.1 (id, sub) rows).

    ``keep_vec=True`` carries ``subv`` through, which lets the training
    loop feed the mean recompute directly instead of re-joining the
    corpus-sized assignment back to the corpus-sized subvector table.

    ``subs`` may carry any columns except ``code`` and the two internal
    ones, ``__pq_cents`` and ``__pq_best``."""
    clash = {"code", "__pq_cents", "__pq_best"} & set(subs.columns)
    if clash:
        raise ValueError(f"_assign_codes: subs already has column(s) {sorted(clash)}")
    bk = books.groupBy("sub").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    "cid", "centroid", (0.5 * _norm2(F.col("centroid"))).alias("hn2")
                )
            )
        ).alias("__pq_cents")
    )
    out = (
        subs.join(F.broadcast(bk), "sub")
        .withColumn(
            "__pq_best",
            F.array_max(
                F.transform(
                    F.col("__pq_cents"),
                    lambda c: F.struct(
                        (_dot(F.col("subv"), c["centroid"]) - c["hn2"]).alias("score"),
                        (-c["cid"]).alias("neg_cid"),
                    ),
                )
            ),
        )
        .withColumn("code", -F.col("__pq_best.neg_cid"))
    )
    # pass-through columns (e.g. the coarse cid in ivfadc_build) ride along;
    # subv is dropped unless the caller asked to keep it
    cols = [c for c in subs.columns if keep_vec or c != "subv"] + ["code"]
    return out.select(*cols)


def pq_encode(
    emb: DataFrame,
    books: DataFrame,
    m: int = 4,
    dim: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """The compressed index: (id, sub, code) — m small ints per vector."""
    subs = emb.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            _subvectors(
                F.transform(F.col(vec_col), lambda x: x.cast("double")), m, dim
            )
        ).alias("sub", "subv"),
    )
    return _assign_codes(subs, books)


def pq_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    codes_per_sub: int = 8,
    dim: int = 64,
    rerank: int = 15,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """PQ-ADC top-k with exact re-rank: (query_id, neighbor_id, cos)."""
    books = train_pq_codebooks(
        emb, m=m, codes_per_sub=codes_per_sub, dim=dim, iterations=iterations,
        vec_col=vec_col, id_col=id_col,
    )
    codes = pq_encode(emb, books, m=m, dim=dim, vec_col=vec_col, id_col=id_col)

    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    lut = (
        q.select(
            "query_id",
            F.sqrt(_norm2(F.col("qv"))).alias("qnorm"),
            F.posexplode(_subvectors(F.col("qv"), m, dim)).alias("sub", "qsub"),
        )
        .join(F.broadcast(books), "sub")
        .select(
            "query_id",
            "qnorm",
            "sub",
            F.col("cid").alias("code"),
            _dot(F.col("qsub"), F.col("centroid")).alias("dqc"),
            _norm2(F.col("centroid")).alias("cnorm2"),
        )
    )

    adc = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("query_id") != F.col("id"))
        .groupBy("query_id", "id")
        .agg(
            F.sum("dqc").alias("adot"),
            F.sum("cnorm2").alias("anorm2"),
            F.first("qnorm").alias("qnorm"),
        )
        .withColumn(
            "adc_cos",
            F.col("adot") / (F.col("qnorm") * F.sqrt(F.col("anorm2"))),
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("adc_cos"), F.asc("id"))
    cands = (
        adc.withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= rerank)
        .select("query_id", F.col("id").alias("neighbor_id"))
    )

    vecs = emb.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv")
    )
    exact = (
        cands.join(vecs, "neighbor_id")
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("nv")).alias("cos_exact"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_exact"), F.asc("neighbor_id")
    )
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("cos_exact", 4).alias("cos"))
    )


def ivfadc_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 8,
    nprobe: int = 4,
    m: int = 8,
    codes_per_sub: int = 16,
    dim: int = 64,
    rerank: int = 50,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFADC shape, and the 100 TB plan
    SCALE_DESIGN.md documents): coarse centroids restrict each query to
    its ``nprobe`` nearest lists, PQ codes make every scanned candidate
    8 bytes wide, ADC reconstructs approximate cosine by table lookup,
    and exact re-rank touches only the top ``rerank`` candidates.

    Every data-sized join is keyed (cid for the list restriction;
    query_id/sub/code for the lookup); with ``nprobe == num_centroids``
    and ``rerank >= |corpus|`` the result equals exact brute force
    (pytest pins it).  Returns (query_id, neighbor_id, cos).

    The build half (``ivfadc_build``) produces the deployment artifacts
    — (centroids, books, index) — paid once and materialized in a real
    deployment; ``ivfadc_probe`` is the per-batch half.
    """
    centroids, books, index = ivfadc_build(
        emb, num_centroids=num_centroids, m=m, codes_per_sub=codes_per_sub,
        dim=dim, iterations=iterations, vec_col=vec_col, id_col=id_col,
    )
    return ivfadc_probe(
        emb, centroids, books, index, queries, k=k, nprobe=nprobe, m=m,
        dim=dim, rerank=rerank, vec_col=vec_col, id_col=id_col,
    )


def ivfadc_build(
    emb: DataFrame,
    num_centroids: int = 8,
    m: int = 8,
    codes_per_sub: int = 16,
    dim: int = 64,
    iterations: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """One-time index build: (centroids, books, index) where index is
    the (id, sub, code, cid) table — written bucketed by cid in a real
    deployment, so probes read only their nprobe list buckets."""
    from apache_hive_2_1_1_src_spark.pipeline.ivf import (
        assign_lists,
        train_centroids,
    )

    centroids = train_centroids(
        emb, num_centroids=num_centroids, iterations=iterations,
        vec_col=vec_col, id_col=id_col,
    )
    books = train_pq_codebooks(
        emb, m=m, codes_per_sub=codes_per_sub, dim=dim, iterations=iterations,
        vec_col=vec_col, id_col=id_col,
    )
    # Round 14 (guide §2.4): one corpus pass builds the whole index.  The
    # coarse cid (map-only assign_lists) rides through the subvector
    # explode into the map-only code assignment, so the previous
    # codes.join(lists, "id") — a sort-merge join of two corpus-sized
    # tables (two exchanges + sorts) whose only purpose was gluing cid to
    # the code rows — no longer exists.  Row set is identical: both forms
    # emit (id, sub, code, cid) for every (vector, subspace).
    lists = assign_lists(emb, centroids, vec_col=vec_col, id_col=id_col)
    subs = lists.select(
        "id",
        "cid",
        F.posexplode(
            _subvectors(F.transform(F.col("v"), lambda x: x.cast("double")), m, dim)
        ).alias("sub", "subv"),
    )
    index = _assign_codes(subs.select("id", "cid", "sub", "subv"), books).select(
        "id", "sub", "code", "cid"
    )
    return centroids, books, index


def ivfadc_probe(
    emb: DataFrame,
    centroids: DataFrame,
    books: DataFrame,
    index: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    m: int = 8,
    dim: int = 64,
    rerank: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Per-batch IVFADC probe against prebuilt artifacts; ``emb`` is
    consulted only for the exact re-rank of top candidates."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.desc("cos_c"), F.asc("cid"))
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn("cos_c", cosine(F.col("qv"), F.col("centroid")))
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= nprobe)
        .select("query_id", "cid")
    )
    lut = (
        q.select(
            "query_id",
            F.sqrt(_norm2(F.col("qv"))).alias("qnorm"),
            F.posexplode(_subvectors(F.col("qv"), m, dim)).alias("sub", "qsub"),
        )
        .join(F.broadcast(books), "sub")
        .select(
            "query_id",
            "qnorm",
            "sub",
            F.col("cid").alias("code"),
            _dot(F.col("qsub"), F.col("centroid")).alias("dqc"),
            _norm2(F.col("centroid")).alias("cnorm2"),
        )
    )

    adc = (
        index.join(F.broadcast(probes), "cid")
        .filter(F.col("query_id") != F.col("id"))
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "id")
        .agg(
            F.sum("dqc").alias("adot"),
            F.sum("cnorm2").alias("anorm2"),
            F.first("qnorm").alias("qnorm"),
        )
        .withColumn(
            "adc_cos", F.col("adot") / (F.col("qnorm") * F.sqrt(F.col("anorm2")))
        )
    )
    wc = Window.partitionBy("query_id").orderBy(F.desc("adc_cos"), F.asc("id"))
    cands = (
        adc.withColumn("crn", F.row_number().over(wc))
        .filter(F.col("crn") <= rerank)
        .select("query_id", F.col("id").alias("neighbor_id"))
    )
    vecs = emb.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("nv"))
    exact = (
        cands.join(vecs, "neighbor_id")
        .join(q, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("qv"), F.col("nv")).alias("cos_exact"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_exact"), F.asc("neighbor_id"))
    return (
        exact.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("cos_exact", 4).alias("cos"))
    )
