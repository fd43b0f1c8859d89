"""Round-14 optimization pins — every kept round-14 change is equality-
pinned against the shape it replaced, and every new skew guard has both
(a) a proof it is inert on the sf corpora and (b) a unit test of the
capped path.

1. minhash_lsh_candidates' distinct-free pairing (pair emitted only from
   the FIRST band where the two signatures agree) must equal the old
   explode-all-bands + .distinct() set.
2. The LSH max_bucket_size guard: inert at sf (max bucket far below the
   default), and actually skips a synthetic degenerate bucket.
3. blocked_jaccard_pairs' hot-shingle broadcast blacklist: inert at sf
   (max df far below the default), and actually suppresses a synthetic
   boilerplate shingle's pair fan-out.
4. tfidf_top_terms' shared (id, term) aggregate: subset result ==
   post-hoc filter (df/N stay corpus-global) — extended from the
   round-13 invariant; the sharing itself is exercised by the p14
   oracle check.
5. AcidTable.update/merge single-materialization: an UPDATE's delta
   must contain exactly the matched keys once (tombstones) and the
   reassigned rows once — re-execution removal cannot change the delta.
6. IVF/PQ map-only assignment (continuation session): assign_lists and
   _assign_codes' per-row array_max argmax must equal the groupBy
   max-struct argmax they replaced (same ordering, same lowest-cid tie
   break), the corpus side of both plans must carry no hash exchange,
   and ivfadc_build's single-pass index must join nothing corpus-sized
   (no SortMergeJoin).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_hive_2_1_1_src_spark.pipeline.dedup import (
    blocked_jaccard_pairs,
    jaccard_pairs,
    minhash_lsh_candidates,
    minhash_signatures,
    shingle_table,
    _with_shingles_py,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------- 1. distinct-free pairing
def test_first_band_pairing_equals_distinct_of_all_bands(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sh = shingle_table(docs)
    new = sorted(
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(docs, shingles=sh).collect()
    )
    # reference: the pre-round-14 shape — every same-bucket pair from
    # every band, then a cross-band distinct
    sigs = minhash_signatures(docs, shingles=sh)
    bh = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",", *[F.col(f"h{b * 4 + r}").cast("string") for r in range(4)]
                )
            )
            for b in range(8)
        ]
    )
    banded = sigs.select(F.col("id"), F.posexplode(bh).alias("band_idx", "band_hash"))
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + F.lit(2), F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    old = sorted(
        (r.id_a, r.id_b)
        for r in buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a"), F.col("p.id_b"))
        .distinct()
        .collect()
    )
    assert new == old and len(new) > 0


def test_first_band_pairing_emits_each_pair_exactly_once(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    cands = minhash_lsh_candidates(docs)
    dup = (
        cands.groupBy("id_a", "id_b")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


# ---------------------------------------------- 2. LSH bucket-size guard
def test_lsh_bucket_cap_inert_on_sf_corpus(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sh = shingle_table(docs)
    sigs = minhash_signatures(docs, shingles=sh)
    bh = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",", *[F.col(f"h{b * 4 + r}").cast("string") for r in range(4)]
                )
            )
            for b in range(8)
        ]
    )
    banded = sigs.select(F.col("id"), F.posexplode(bh).alias("band_idx", "band_hash"))
    max_bucket = (
        banded.groupBy("band_idx", "band_hash")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # default cap is 1024; the sf corpora sit orders of magnitude below,
    # so the declared p02 results are provably unchanged by the guard
    assert max_bucket <= 16


def test_lsh_bucket_cap_skips_degenerate_bucket(spark):
    # 20 identical docs: every band bucket holds all 20 ids
    docs = spark.createDataFrame(
        [(i, "same exact words in every single document here") for i in range(20)],
        "doc_id long, text string",
    )
    uncapped = minhash_lsh_candidates(docs, max_bucket_size=1024).count()
    capped = minhash_lsh_candidates(docs, max_bucket_size=10).count()
    assert uncapped == 20 * 19 // 2
    assert capped == 0


# ------------------------------------------ 3. hot-shingle df(s) guard
def test_blocked_jaccard_equals_enumerated_pairs(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # reference: enumerate every same-block id_a<id_b pair, verify each
    d = docs.select("doc_id", "source")
    pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    ref = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_pairs(docs, pairs, threshold=0.4).collect()
    )
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in blocked_jaccard_pairs(docs, "source", threshold=0.4).collect()
    )
    assert got == ref and len(got) > 0


def test_hot_shingle_df_inert_on_sf_corpus(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sh = _with_shingles_py(
        docs.select(
            F.col("doc_id").alias("id"), F.col("source").alias("blk"), F.col("text")
        ),
        "text",
    )
    max_df = (
        sh.select("blk", F.explode("sh").alias("shingle"))
        .groupBy("blk", "shingle")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    # default max_df is 4096; sf corpora sit orders of magnitude below
    assert max_df <= 64


def test_hot_shingle_blacklist_suppresses_boilerplate(spark):
    # 10 docs sharing one boilerplate shingle ("aa bb cc"): df = 10
    docs = spark.createDataFrame(
        [(i, "s", "aa bb cc") for i in range(10)],
        "doc_id long, source string, text string",
    )
    uncapped = blocked_jaccard_pairs(docs, "source", threshold=0.01, max_df=4096)
    capped = blocked_jaccard_pairs(docs, "source", threshold=0.01, max_df=5)
    assert uncapped.count() == 10 * 9 // 2
    assert capped.count() == 0


# -------------------------------------- 4. tfidf shared-aggregate subset
def test_tfidf_shared_aggregate_subset_equals_post_filter(spark, sf_dir):
    from apache_hive_2_1_1_src_spark.pipeline.text import tfidf_top_terms

    docs = _docs(spark, sf_dir)
    pred = F.col("doc_id") <= 50
    ref = sorted(
        tuple(r) for r in tfidf_top_terms(docs, k=3).filter(pred).collect()
    )
    got = sorted(tuple(r) for r in tfidf_top_terms(docs, k=3, subset=pred).collect())
    assert got == ref and len(got) > 0


# ------------------------------- 5. ACID update single-materialization
def test_acid_update_delta_contents_exact(spark, tmp_path):
    import os

    from apache_hive_2_1_1_src_spark.operators.acid import AcidTable

    root = str(tmp_path / "acid_r14")
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 21)], "k long, v double"
    )
    tbl = AcidTable.create(spark, root, base, key_col="k")
    tx = tbl.begin()
    tx.update(F.col("k") % 5 == 0, {"v": F.col("v") * 2})
    delta = tx._staged.dir
    tx.commit()
    tomb = spark.read.parquet(os.path.join(root, delta, "tombstones"))
    rows = spark.read.parquet(os.path.join(root, delta, "rows"))
    assert sorted(r.k for r in tomb.collect()) == [5, 10, 15, 20]
    assert sorted((r.k, r.v) for r in rows.collect()) == [
        (5, 10.0),
        (10, 20.0),
        (15, 30.0),
        (20, 40.0),
    ]
    assert sorted((r.k, r.v) for r in tbl.read().filter(F.col("k") % 5 == 0).collect()) == [
        (5, 10.0),
        (10, 20.0),
        (15, 30.0),
        (20, 40.0),
    ]


# --------------------------------- 6. p05 tile join stays tile-count-bounded
def test_p05_allpairs_bnlj_joins_tiles_not_vectors(spark, sf_dir):
    """The all-pairs embedding baseline (sign_bits=None) constant-folds
    its bucket key, so the tile join IS a BroadcastNestedLoopJoin — of
    TILE rows.  Pin that the join inputs are the (bucket, blk) tile
    aggregates (n_blocks rows per side, a constant) and can never
    silently regress to per-vector rows."""
    from apache_hive_2_1_1_src_spark.pipeline.dedup import sign_bucket  # noqa: F401
    from apache_hive_2_1_1_src_spark.queries.pipeline_queries import (
        p05_dedup_embedding,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_vec = emb.count()
    n_blocks = 16  # embedding_near_dups default for the all-pairs path
    tiles = (
        emb.select(F.col("vec_id").alias("id"))
        .withColumn("bucket", F.lit(0))
        .withColumn("blk", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int"))
        .groupBy("bucket", "blk")
        .count()
    )
    n_tiles = tiles.count()
    assert n_tiles <= n_blocks < n_vec
    df = p05_dedup_embedding(spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    # join inputs must be the tile aggregates (ObjectHashAggregate of
    # collect_list), i.e. the BNLJ build side is n_blocks tile rows
    assert "BroadcastNestedLoopJoin" in plan
    assert "ObjectHashAggregate" in plan
    assert "MapInPandas" in plan


# ------------------------- 7. IVF/PQ map-only assignment (guide §2.4)
def _plan_str(df):
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def test_assign_lists_map_only_equals_groupby_argmax(spark, sf_dir):
    """The per-row array_max argmax must reproduce the old broadcast-join
    + groupBy(id) max-struct argmax exactly (same cosine arithmetic,
    same total ordering, ties to lowest cid)."""
    from apache_hive_2_1_1_src_spark.pipeline.dedup import _dot, _norm
    from apache_hive_2_1_1_src_spark.pipeline.ivf import (
        assign_lists,
        train_centroids,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_centroids(emb, num_centroids=8, iterations=2)
    new = {r.id: r.cid for r in assign_lists(emb, cents).collect()}

    # the replaced shape, verbatim from the pre-change code
    cent = cents.withColumn("cn", _norm(F.col("centroid")))
    scored = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        _norm(F.col("embedding")).alias("nv"),
    ).join(F.broadcast(cent))
    old_df = (
        scored.withColumn(
            "cos_c",
            _dot(F.col("v"), F.col("centroid")) / (F.col("nv") * F.col("cn")),
        )
        .groupBy("id")
        .agg(
            F.max(
                F.struct(F.col("cos_c"), (-F.col("cid")).alias("neg_cid"))
            ).alias("best")
        )
        .select("id", (-F.col("best.neg_cid")).alias("cid"))
    )
    old = {r.id: r.cid for r in old_df.collect()}
    assert new == old


def test_assign_codes_map_only_equals_groupby_argmax(spark, sf_dir):
    """Same pin for the PQ code assignment (score = dot − ½‖c‖², ties to
    lowest cid)."""
    from apache_hive_2_1_1_src_spark.pipeline.dedup import _dot
    from apache_hive_2_1_1_src_spark.pipeline.pq import (
        _assign_codes,
        _norm2,
        _subvectors,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = train_pq_codebooks(emb, m=8, codes_per_sub=16, iterations=2)
    subs = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode(
            _subvectors(
                F.transform(F.col("embedding"), lambda x: x.cast("double")),
                8,
                64,
            )
        ).alias("sub", "subv"),
    )
    new = {(r.id, r.sub): r.code for r in _assign_codes(subs, books).collect()}

    scored = subs.join(F.broadcast(books), "sub").withColumn(
        "score",
        _dot(F.col("subv"), F.col("centroid")) - 0.5 * _norm2(F.col("centroid")),
    )
    old_df = (
        scored.groupBy("id", "sub")
        .agg(
            F.max(
                F.struct(F.col("score"), (-F.col("cid")).alias("neg_cid"))
            ).alias("best")
        )
        .select("id", "sub", (-F.col("best.neg_cid")).alias("code"))
    )
    old = {(r.id, r.sub): r.code for r in old_df.collect()}
    assert new == old


def test_assign_lists_tie_breaks_to_lowest_cid(spark):
    """Two identical centroids: every vector must land on the lower cid
    (the -cid struct field under array_max), exactly as the old
    max-struct aggregate tie-broke."""
    from apache_hive_2_1_1_src_spark.pipeline.ivf import assign_lists

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.5, 0.5])], "vec_id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(3, [1.0, 1.0]), (5, [1.0, 1.0])], "cid int, centroid array<double>"
    )
    got = {r.id: r.cid for r in assign_lists(emb, cents).collect()}
    assert got == {1: 3, 2: 3}


def test_assign_lists_preconditions(spark):
    """One output row per input row (so ids must be unique), and an
    empty codebook is refused instead of assigning NULL cids."""
    from apache_hive_2_1_1_src_spark.pipeline.ivf import assign_lists

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cid int, centroid array<double>"
    )
    assert sorted(tuple(r) for r in assign_lists(emb, cents).select("id", "cid").collect()) == [
        (1, 0), (1, 0), (2, 1)
    ]
    with pytest.raises(ValueError, match="empty"):
        assign_lists(emb, cents.limit(0))


@pytest.mark.parametrize("col", ["code", "__pq_cents", "__pq_best"])
def test_assign_codes_rejects_its_own_column_names(spark, col):
    from apache_hive_2_1_1_src_spark.pipeline.pq import _assign_codes

    subs = spark.createDataFrame([(1, 0, [1.0])], "id long, sub int, subv array<double>")
    books = spark.createDataFrame([(0, 0, [1.0])], "sub int, cid int, centroid array<double>")
    assert [tuple(r) for r in _assign_codes(subs, books).collect()] == [(1, 0, 0)]
    with pytest.raises(ValueError, match=col):
        _assign_codes(subs.withColumn(col, F.lit(0)), books)


def test_assignment_paths_have_no_corpus_exchange(spark, sf_dir):
    """Plan pins: the corpus side of assign_lists and pq_encode is
    map-only (the only hash exchange groups the k/128-row codebook), and
    ivfadc_build's index is a single corpus pass — no SortMergeJoin, no
    corpus-keyed hashpartitioning(id...)."""
    from apache_hive_2_1_1_src_spark.pipeline.ivf import (
        assign_lists,
        train_centroids,
    )
    from apache_hive_2_1_1_src_spark.pipeline.pq import (
        ivfadc_build,
        pq_encode,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = train_centroids(emb, num_centroids=8, iterations=2)
    plan = _plan_str(assign_lists(emb, cents))
    assert "hashpartitioning(id" not in plan
    assert "SortMergeJoin" not in plan

    books = train_pq_codebooks(emb, m=8, codes_per_sub=16, iterations=2)
    plan = _plan_str(pq_encode(emb, books, m=8))
    assert "hashpartitioning(id" not in plan
    assert "SortMergeJoin" not in plan
    # the one allowed hash exchange groups the checkpointed codebook rows
    assert plan.count("hashpartitioning(sub") <= 1

    _, _, index = ivfadc_build(emb, num_centroids=8, m=8, codes_per_sub=16)
    plan = _plan_str(index)
    assert "SortMergeJoin" not in plan
    assert "hashpartitioning(id" not in plan
