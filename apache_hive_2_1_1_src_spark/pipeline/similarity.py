"""Similarity search over the ``embeddings`` table (array<float> column).

Two tiers, as the brief requires:

* ``brute_force_topk`` — exact cosine top-k.  The *query* side is small
  and broadcast; the candidate side streams.  Per (query, candidate) the
  score is a codegen zip_with/aggregate dot product; top-k is a window
  row_number — one shuffle keyed by query id.  This is the correctness
  baseline and is fine whenever |queries| × |corpus| scores fit a scan.

* ``lsh_bucketed_ann`` — the 100 TB path: random-hyperplane LSH.  Each
  vector gets a ``num_planes``-bit signature (hyperplane weights derived
  deterministically from xxhash64(plane, dim) parity — no RNG state, no
  driver-side plane matrix, reproducible across runs).  Vectors collide
  into 2^num_planes buckets; scoring happens only within the query's
  bucket(s).  Shuffle volume: one row per (vector, table) instead of the
  full cross product.  Recall is tuned with num_tables (independent
  signatures), the standard multi-probe trade-off.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from apache_hive_2_1_1_src_spark.pipeline.dedup import _dot, _norm

# --- XXH64 (Collet's public xxHash, 64-bit variant) in pure Python ---
# Spark's xxhash64() is XXH64 with seed 42 over the value's bytes
# (UTF-8 for strings).  Re-deriving the hyperplane weight PARITIES here
# lets _lsh_signature_sql ship each plane's ±1 weight vector as ONE
# array literal instead of dim per-element hash expressions —
# driver-side construction of those 2048 Column objects cost tens of
# seconds per query build (round 13; tests pin _xxh64 == F.xxhash64
# over the exact weight-key inputs).

_XP1 = 0x9E3779B185EBCA87
_XP2 = 0xC2B2AE3D27D4EB4F
_XP3 = 0x165667B19E3779F9
_XP4 = 0x85EBCA77C2B2AE63
_XP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh64_round(acc: int, inp: int) -> int:
    return (_rotl64((acc + inp * _XP2) & _M64, 31) * _XP1) & _M64


def _xxh64(data: bytes, seed: int = 42) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _XP1 + _XP2) & _M64
        v2 = (seed + _XP2) & _M64
        v3 = seed & _M64
        v4 = (seed - _XP1) & _M64
        while i + 32 <= n:
            v1 = _xxh64_round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _xxh64_round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _xxh64_round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _xxh64_round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (
            _rotl64(v1, 1) + _rotl64(v2, 7) + _rotl64(v3, 12) + _rotl64(v4, 18)
        ) & _M64
        for v in (v1, v2, v3, v4):
            h = ((h ^ _xxh64_round(0, v)) * _XP1 + _XP4) & _M64
    else:
        h = (seed + _XP5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (
            _rotl64(h ^ _xxh64_round(0, int.from_bytes(data[i : i + 8], "little")), 27)
            * _XP1
            + _XP4
        ) & _M64
        i += 8
    if i + 4 <= n:
        h = (
            _rotl64(h ^ ((int.from_bytes(data[i : i + 4], "little") * _XP1) & _M64), 23)
            * _XP2
            + _XP3
        ) & _M64
        i += 4
    while i < n:
        h = (_rotl64(h ^ ((data[i] * _XP5) & _M64), 11) * _XP1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _XP2) & _M64
    h ^= h >> 29
    h = (h * _XP3) & _M64
    h ^= h >> 32
    return h


def brute_force_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Returns (query_id, neighbor_id, cos) — k rows per query, scored in
    double, deterministic tie-break on neighbor id.

    Round 13 (optimization guide §1.2 per-task work): each side's norm
    is projected ONCE per row BELOW the join, so the per-pair expression
    is just the dot product — cosine() inline recomputed both norms per
    (query, candidate) pair, tripling the higher-order-function work on
    the |Q|×|C| scored rows.  Same arithmetic in the same order
    (dot / (norm_q · norm_c)), so scores are bit-identical.
    """
    cand = emb.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        _norm(F.col(vec_col)).alias("c_norm"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        _norm(F.col(vec_col)).alias("q_norm"),
    )
    scored = (
        cand.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (_dot(F.col("qv"), F.col("cv")) / (F.col("q_norm") * F.col("c_norm"))).alias(
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


def _lsh_signature_sql(
    vec_sql: str, num_planes: int, table: int, dim: int
) -> str:
    """num_planes-bit bucket id for one LSH table, as ONE SQL string.

    Bit p is the sign of <w_p, vec>, where w_p[d] = ±1 from the parity
    of xxhash64("{table}_{p}_{d}"): deterministic pseudo-random
    hyperplanes.  The weights are computed driver-side with the
    pure-Python XXH64 above and shipped as array literals; the
    CAST(x AS DOUBLE)*w products fold left-to-right from 0.0, a >=0 sign
    test gives the bit, and bits pack as sig*2+bit.  One SQL string
    makes one py4j call per table; building the same 64 signature
    columns as Column objects cost ~4.5 s of pure driver time per query
    (round 13, measured).  ``dim`` must equal the vector width."""
    bits = []
    for p in range(num_planes):
        w = ", ".join(
            "1.0D" if _xxh64(f"{table}_{p}_{d}".encode()) & 1 else "-1.0D"
            for d in range(dim)
        )
        fold = (
            f"aggregate(zip_with({vec_sql}, array({w}), "
            "(x, w) -> CAST(x AS DOUBLE) * w), CAST(0.0 AS DOUBLE), "
            "(acc, v) -> acc + v)"
        )
        bits.append(f"(CASE WHEN {fold} >= 0.0D THEN 1 ELSE 0 END)")
    sig = "0"
    for b in bits:
        sig = f"(({sig}) * 2 + {b})"
    return sig


def lsh_bucketed_ann(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 8,
    num_tables: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing an LSH bucket with
    the query in at least one of ``num_tables`` tables.  ``dim`` (the
    embedding width, known from the schema) lets the hyperplane weights
    constant-fold — see _lsh_signature_sql."""
    buckets_sql = "array({})".format(
        ", ".join(
            _lsh_signature_sql(vec_col, num_planes, t, dim)
            for t in range(num_tables)
        )
    )

    def with_buckets(df: DataFrame, id_alias: str, vec_alias: str, tbl_alias: str) -> DataFrame:
        buckets = F.expr(buckets_sql)
        # per-row norm projected below the join/distinct — see
        # brute_force_topk's round-13 note (same arithmetic, bit-identical)
        return df.select(
            F.col(id_col).alias(id_alias),
            F.col(vec_col).alias(vec_alias),
            _norm(F.col(vec_col)).alias(f"{vec_alias}_norm"),
            F.posexplode(buckets).alias(tbl_alias, f"{id_alias}_bucket"),
        )

    cand = with_buckets(emb, "neighbor_id", "cv", "tbl_c")
    q = with_buckets(queries, "query_id", "qv", "tbl_q")
    paired = (
        cand.join(
            F.broadcast(q),
            (F.col("tbl_c") == F.col("tbl_q"))
            & (F.col("neighbor_id_bucket") == F.col("query_id_bucket"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select("query_id", "neighbor_id", "qv", "cv", "qv_norm", "cv_norm")
        .distinct()
    )
    scored = paired.select(
        "query_id",
        "neighbor_id",
        (_dot(F.col("qv"), F.col("cv")) / (F.col("qv_norm") * F.col("cv_norm"))).alias(
            "cos_exact"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_exact"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "neighbor_id", F.round("cos_exact", 4).alias("cos"))
    )
