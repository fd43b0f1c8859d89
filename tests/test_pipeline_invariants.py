"""Invariant tests for the rows-only pipeline operators (the ones SQL
can't oracle): LSH recall, candidate boundedness, signature determinism."""

from __future__ import annotations

import random

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from apache_hive_2_1_1_src_spark.io import load_table
from apache_hive_2_1_1_src_spark.pipeline.dedup import (
    jaccard_pairs,
    minhash_lsh_candidates,
    simhash64,
    simhash_near_dups,
)
from apache_hive_2_1_1_src_spark.pipeline.ivf import ivf_topk
from apache_hive_2_1_1_src_spark.pipeline.similarity import brute_force_topk, lsh_bucketed_ann


def test_minhash_lsh_recovers_planted_dups_and_stays_subquadratic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    cands = minhash_lsh_candidates(docs, num_hashes=32, bands=8)
    n_cands = cands.count()
    # candidate set must be far below all-pairs (the whole point of LSH)
    assert n_cands < n_docs * (n_docs - 1) / 2 * 0.05, (n_cands, n_docs)
    # every true near-dup (jaccard >= 0.6 among same-source exhaustive pairs)
    # must appear in the candidate set: banded MinHash with b=8,r=4 finds
    # j=0.6 pairs w.p. 1-(1-0.6^4)^8 ≈ 0.71 per table; the planted dups in
    # this corpus are j>0.9 where the probability is ≈1.
    pairs_all = (
        docs.alias("x")
        .join(docs.alias("y"), F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
    )
    truth = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, pairs_all, threshold=0.9).collect()
    }
    found = {(r.id_a, r.id_b) for r in cands.collect()}
    assert truth, "corpus should contain planted near-dups"
    assert truth <= found, f"LSH missed high-jaccard pairs: {truth - found}"


def test_simhash_deterministic_and_finds_planted_dups(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(200)
    a = {r.id: r.simhash for r in simhash64(docs).collect()}
    b = {r.id: r.simhash for r in simhash64(docs).collect()}
    assert a == b, "simhash must be deterministic across runs"
    dups = simhash_near_dups(load_table(spark, sf_dir, "documents"), max_hamming=6)
    # near-identical docs (planted) should land within hamming 6
    assert dups.count() >= 1


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(emb, queries, k=5)
    # 8 tables × 4 planes: for this corpus's top neighbors (cos ≈ 0.4,
    # angle ≈ 66°) per-table collision p ≈ (1-66/180)^4 ≈ 0.16, so
    # 8 tables give expected recall ≈ 1-(1-0.16)^8 ≈ 0.75.  On bigger
    # corpora num_planes grows with log n to keep buckets small.
    approx = lsh_bucketed_ann(emb, queries, k=5, num_planes=4, num_tables=8)
    exact_set = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3, f"ANN recall too low: {recall}"
    # and every query produced at most k results
    counts = approx.groupBy("query_id").count().collect()
    assert all(r["count"] <= 5 for r in counts)


def test_ann_ivf_full_probe_equals_bruteforce(spark, sf_dir):
    """nprobe == num_centroids covers every inverted list, so IVF must
    reproduce exact brute-force top-k — pins the index machinery
    (train/assign/probe) end-to-end, not just a recall floor."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    full = {
        (r.query_id, r.neighbor_id, r.cos)
        for r in ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=8).collect()
    }
    assert full == exact


def test_ann_ivf_partial_probe_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact_set = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    approx = ivf_topk(emb, queries, k=5, num_centroids=8, nprobe=4)
    approx_set = {(r.query_id, r.neighbor_id) for r in approx.collect()}
    # measured 0.94 on the seed-42 corpus at sf0.001; floor kept loose
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.6, f"IVF recall too low: {recall}"
    counts = approx.groupBy("query_id").count().collect()
    assert all(r["count"] <= 5 for r in counts)


def test_lsh_candidates_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(100)
    c1 = sorted((r.id_a, r.id_b) for r in minhash_lsh_candidates(docs).collect())
    c2 = sorted((r.id_a, r.id_b) for r in minhash_lsh_candidates(docs).collect())
    assert c1 == c2


def test_chunk_documents_covers_text_with_exact_overlap(spark, sf_dir):
    from apache_hive_2_1_1_src_spark.pipeline.text import chunk_documents

    docs = load_table(spark, sf_dir, "documents").limit(200)
    chunks = chunk_documents(docs, chunk_tokens=50, overlap=10).cache()
    # every chunk except a doc's last has exactly chunk_tokens tokens
    last = chunks.groupBy("doc_id").agg(F.max("chunk_id").alias("last_id"))
    non_last = chunks.join(
        last,
        (chunks.doc_id == last.doc_id) & (chunks.chunk_id < last.last_id),
    )
    assert non_last.filter(F.col("n_tokens") != 50).count() == 0
    # chunk starts advance by the stride: total tokens across chunks equals
    # n_words + overlap * (n_chunks - 1) per document (exact tiling)
    words = docs.select(
        "doc_id",
        F.size(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "")
        ).alias("n_words"),
    )
    per_doc = chunks.groupBy("doc_id").agg(
        F.sum("n_tokens").alias("tok_sum"), F.count("*").alias("nc")
    )
    bad = (
        per_doc.join(words, "doc_id")
        .filter(F.col("tok_sum") != F.col("n_words") + 10 * (F.col("nc") - 1))
        .count()
    )
    assert bad == 0
    chunks.unpersist()


def test_frame_sample_fanout_and_resize_shapes(spark, sf_dir):
    from apache_hive_2_1_1_src_spark.pipeline.multimodal import (
        resize_images,
        sample_frames,
        with_blob_column,
    )

    blobs = load_table(spark, sf_dir, "documents").limit(100)
    blobs = with_blob_column(blobs).cache()
    frames = sample_frames(blobs, frame_bytes=64, every_n=4, max_frames=8)
    per_doc = frames.groupBy("doc_id").count().collect()
    # fan-out bounded by max_frames; every frame is full-size
    assert all(1 <= r["count"] <= 8 for r in per_doc)
    assert frames.filter(F.col("n_frame_bytes") != 64).count() == 0
    # sampled frame indices advance by every_n
    assert frames.filter(F.col("frame_idx") % 4 != 0).count() == 0
    resized = resize_images(blobs, out_w=16, out_h=8)
    rows = resized.collect()
    assert all(r.n_bytes_out == 128 for r in rows)
    assert len({r.resized_md5 for r in rows}) > 1  # content-dependent
    blobs.unpersist()


def test_connected_components_converges_past_hop_budget(spark, sf_dir):
    """p35's convergent label propagation must resolve a chain LONGER than
    p15's bounded hop budget: a 20-node path graph collapses to one
    component (min id 0) — the case a fixed iteration count gets wrong."""
    from apache_hive_2_1_1_src_spark.pipeline.dedup import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(19)], "id_a long, id_b long"
    )
    labels = {r.id: r.component for r in connected_components(pairs).collect()}
    assert labels == {i: 0 for i in range(20)}


def _union_find(pairs) -> dict[int, int]:
    """Reference components: node → smallest id of its component."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def _components(spark, pairs, **kw) -> dict[int, int]:
    from apache_hive_2_1_1_src_spark.pipeline.dedup import connected_components

    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    rows = connected_components(df, **kw).collect()
    labels = {r.id: r.component for r in rows}
    assert len(labels) == len(rows)  # one row per node
    return labels


_ids = st.integers(min_value=-6, max_value=40)


@settings(max_examples=20, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(pairs=st.lists(st.tuples(_ids, _ids), max_size=30))
@example(pairs=[])
@example(pairs=[(1, 2), (3, 4)])
@example(pairs=[(5, 5)])
@example(pairs=[(2, 1), (1, 2), (1, 2), (3, 2), (2, 3)])
@example(pairs=[(-1, 3), (3, -5), (-1, -1), (7, -1)])
def test_connected_components_matches_union_find(spark, pairs):
    assert _components(spark, pairs) == _union_find(pairs)


def test_connected_components_long_path_over_partitions(spark):
    """A 3000-node path in shuffled order, over 8 uncoalesced partitions,
    so every round's union-find sees only fragments of it."""
    pairs = [(i, i + 1) for i in range(2999)]
    random.Random(7).shuffle(pairs)
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        assert _components(spark, pairs) == {i: 0 for i in range(3000)}
    finally:
        spark.conf.set(conf, before)


def test_connected_components_raises_past_max_iterations(spark):
    with pytest.raises(RuntimeError, match="did not converge in 1 rounds"):
        _components(spark, [(i, i + 1) for i in range(19)], max_iterations=1)


def test_semantic_dedup_keeps_one_per_dup_group(spark, sf_dir):
    """p33: within every bucket, the kept set contains no in-bucket
    near-dup pair.  (Note the drop rule is "ANY lower-id similar
    neighbor, kept or not": in a chain a~b, b~c, a!~c both b and c are
    dropped, so a dropped vector's lower-id witness may itself be
    dropped — the invariant is kept-set pairwise dissimilarity, not a
    kept witness per drop.)"""
    from apache_hive_2_1_1_src_spark.io import load_table
    from apache_hive_2_1_1_src_spark.pipeline.dedup import cosine, semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    res = semantic_dedup(emb, threshold=0.4, sign_bits=4)
    kept = res.filter("kept").join(emb, "vec_id").select(
        "vec_id", "bucket", "embedding"
    )
    a, b = kept.alias("a"), kept.alias("b")
    leftover = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 4) >= 0.4
        )
        .count()
    )
    assert leftover == 0
    # every vector accounted for exactly once
    assert res.count() == emb.count()


def test_paragraph_dedup_reassembly_exact(spark, sf_dir):
    """p34: kept-chunk concatenation equals the original text for docs
    whose chunks are all first occurrences (reassembly is lossless), and
    at least one chunk survives overall."""
    from apache_hive_2_1_1_src_spark.io import load_table
    from apache_hive_2_1_1_src_spark.pipeline.dedup import chunk_dedup

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    out = chunk_dedup(docs, words_per_chunk=10)
    full = out.filter(F.col("n_kept") == F.col("n_chunks")).join(docs, "doc_id")
    mismatched = full.filter(
        F.col("text_kept")
        != F.array_join(
            F.filter(F.split(F.col("text"), r"\s+"), lambda w: w != ""), " "
        )
    ).count()
    assert mismatched == 0
    n_kept_total = out.agg(F.sum("n_kept")).collect()[0][0]
    assert n_kept_total is not None and n_kept_total > 0


def test_streaming_upsert_rerun_is_deterministic(spark, sf_dir):
    """q162: re-running the whole streaming upsert (fresh checkpoint +
    fresh table root per call) lands the identical final digest — the
    version-pointer COW commit protocol leaves no order- or
    retry-dependent state behind."""
    from apache_hive_2_1_1_src_spark.streaming.jobs import streaming_upsert_orders

    a = streaming_upsert_orders(spark, sf_dir).collect()
    b = streaming_upsert_orders(spark, sf_dir).collect()
    assert a == b
    statuses = {r.status for r in a}
    assert "N" in statuses, "inserted rows must carry status 'N'"


def test_chunk_dedup_empty_docs_emit_no_chunks(spark, sf_dir):
    """p34 edge: empty / whitespace-only docs must produce NO chunk rows
    (Spark's sequence(0,-1) auto-reverses — the guard keeps phantom
    chunks out of the global dedup)."""
    from apache_hive_2_1_1_src_spark.pipeline.dedup import chunk_dedup

    df = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in chunk_dedup(df, words_per_chunk=2).collect()}
    assert set(rows) == {1}
    assert rows[1].n_chunks == 2 and rows[1].text_kept == "a b c"


def test_semantic_dedup_with_ivf_buckets(spark, sf_dir):
    """p33's 100 TB composition: semantic_dedup over IVF cluster ids
    (bucket_col) must keep exactly one representative per near-dup group
    within each cluster — same keep-rule contract as the sign grid."""
    from apache_hive_2_1_1_src_spark.pipeline.dedup import cosine, semantic_dedup
    from apache_hive_2_1_1_src_spark.pipeline.ivf import (
        assign_lists,
        train_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = train_centroids(emb, num_centroids=8, iterations=2)
    clustered = assign_lists(emb, cents).select(
        F.col("id").alias("vec_id"), F.col("v").alias("embedding"), "cid"
    )
    res = semantic_dedup(clustered, threshold=0.4, bucket_col="cid")
    assert res.count() == emb.count()
    kept = res.filter("kept").join(clustered, "vec_id").select(
        "vec_id", "cid", "embedding"
    )
    a, b = kept.alias("a"), kept.alias("b")
    leftover = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 4) >= 0.4
        )
        .count()
    )
    assert leftover == 0


def test_hash_stratified_sample_full_fraction_keeps_all(spark, sf_dir):
    """frac >= 1.0 must keep the whole stratum (the 5-hex-char threshold
    regression: '10000' < most hashes silently dropped ~94%)."""
    from apache_hive_2_1_1_src_spark.io import load_table
    from apache_hive_2_1_1_src_spark.pipeline.curation import (
        hash_stratified_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    n_en = docs.filter(F.col("lang") == "en").count()
    kept = hash_stratified_sample(docs, {"en": 1.0}).count()
    assert kept == n_en, (kept, n_en)
    assert hash_stratified_sample(docs, {"en": 0.0}).count() == 0


def test_fk_audit_match_simple_null_exemption(spark, sf_dir):
    """Composite-FK audit: a child row with NULL in ANY FK column is
    exempt (SQL MATCH SIMPLE), not an orphan."""
    from apache_hive_2_1_1_src_spark.operators.maintenance import (
        validate_constraints,
    )

    child = spark.createDataFrame(
        [(1, 10), (1, None), (None, 10), (9, 99)], "a int, b int"
    )
    parent = spark.createDataFrame([(1, 10)], "pa int, pb int")
    out = validate_constraints(
        spark,
        {"c": child, "p": parent},
        [
            {"name": "fk_ab", "kind": "foreign_key", "table": "c",
             "columns": ["a", "b"], "ref_table": "p",
             "ref_columns": ["pa", "pb"], "broadcast_parent": True}
        ],
    ).collect()[0]
    # only (9, 99) is a true orphan; the NULL-bearing rows are exempt
    assert out.violation_count == 1, out


def test_sequence_packing_budget_and_shard_bounds(spark, sf_dir):
    """Packing invariants: (a) a pack only exceeds the budget via its
    final straddling doc — drop the last doc and what remains is under
    budget (single oversized docs therefore get their own pack); (b)
    pack ids are dense per (stratum, shard) starting at 0; (c) no window
    partition exceeds ~1/shards of its stratum — the scale property the
    composite key exists for."""
    from apache_hive_2_1_1_src_spark.pipeline.curation import sequence_packing

    docs = load_table(spark, sf_dir, "documents")
    budget = 256
    packs = sequence_packing(docs, budget=budget, shards=16).collect()
    assert packs
    doc_tokens = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id",
            F.size(F.filter(F.split(F.lower("text"), r"\s+"), lambda w: w != "")).alias(
                "n"
            ),
        ).collect()
    }
    by_shard: dict[tuple, list] = {}
    for r in packs:
        assert r.pack_tokens - doc_tokens[r.last_doc] < budget, r
        by_shard.setdefault((r.lang, r.shard), []).append(r.pack_id)
    for ids in by_shard.values():
        assert sorted(ids) == list(range(len(ids)))
    # shard balance: md5 spreads docs ~uniformly, so the largest shard of
    # a stratum must stay well under the single-partition mass (1/16 of
    # the stratum +/- sampling noise), never the whole stratum.
    tot: dict[str, int] = {}
    shard_tot: dict[tuple, int] = {}
    for r in packs:
        tot[r.lang] = tot.get(r.lang, 0) + r.pack_tokens
        key = (r.lang, r.shard)
        shard_tot[key] = shard_tot.get(key, 0) + r.pack_tokens
    for (lang, _), t_shard in shard_tot.items():
        assert t_shard < tot[lang] * 0.25, (lang, t_shard, tot[lang])


def test_documents_corpus_is_ascii(spark, sf_dir):
    """Guard for the byte-arithmetic oracles (p36 audio frames, p29
    resize): they equate text characters with blob bytes, valid only
    while the corpus is pure ASCII.  If this ever fails, those oracles
    must switch to octet-based framing before the corpus is used."""
    docs = load_table(spark, sf_dir, "documents")
    n_multibyte = docs.filter(
        F.length("text") != F.octet_length("text")
    ).count()
    assert n_multibyte == 0, (
        f"{n_multibyte} documents contain multi-byte chars; "
        "p36/p29 byte-offset oracles are no longer valid"
    )


def test_bloom_probe_no_false_negatives_and_bounded_fp(spark, sf_dir):
    """Bloom membership (pipeline/bloom.py): every exact member must get
    bloom_maybe=True (no false negatives — the structural guarantee), and
    at the shipped sizing (m=65536, k=5, corpus ~400 keys) the false-
    positive count must stay a small fraction of the batch."""
    from apache_hive_2_1_1_src_spark.pipeline.bloom import bloom_membership_probe

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)
    rows = bloom_membership_probe(new, corpus).collect()
    assert rows, "probe emitted nothing"
    missed = [r for r in rows if r.exact_dup and not r.bloom_maybe]
    assert not missed, f"false negatives: {missed[:5]}"
    n_nonmember = sum(1 for r in rows if not r.exact_dup)
    n_fp = sum(1 for r in rows if r.bloom_maybe and not r.exact_dup)
    # fill ~3% at sf0.001 / sf0.01 => fp rate ~1e-7; allow generous slack
    assert n_fp <= max(2, 0.05 * n_nonmember), (n_fp, n_nonmember)


def test_epoch_shuffle_is_a_seeded_permutation(spark, sf_dir):
    """epoch_shuffle: (shard,pos) is a dense per-shard numbering covering
    every doc exactly once; the same seed reproduces bit-identically and
    a different seed produces a genuinely different order."""
    from apache_hive_2_1_1_src_spark.pipeline.curation import epoch_shuffle

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    e1 = epoch_shuffle(docs, seed=1).collect()
    assert len(e1) == n and len({r.doc_id for r in e1}) == n
    by_shard = {}
    for r in e1:
        by_shard.setdefault(r.shard, []).append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    e1b = epoch_shuffle(docs, seed=1).collect()
    assert sorted(map(tuple, e1)) == sorted(map(tuple, e1b))
    e2 = {r.doc_id: (r.shard, r.pos) for r in epoch_shuffle(docs, seed=2).collect()}
    moved = sum(1 for r in e1 if e2[r.doc_id] != (r.shard, r.pos))
    assert moved > n // 2, f"seed change barely moved the order ({moved}/{n})"


def test_pq_full_rerank_equals_brute_force(spark, sf_dir):
    """PQ-ADC with rerank >= |corpus| must equal exact brute-force top-k
    bit-for-bit (the re-rank stage scores every candidate exactly, so
    quantization error cannot change the result) — the analog of the
    IVF full-probe pin."""
    from apache_hive_2_1_1_src_spark.pipeline.pq import pq_topk
    from apache_hive_2_1_1_src_spark.pipeline.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    ex = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qs, k=5).collect()}
    full = {
        (r.query_id, r.neighbor_id)
        for r in pq_topk(emb, qs, k=5, rerank=n).collect()
    }
    assert full == ex


def test_pq_codes_are_bounded_and_deterministic(spark, sf_dir):
    """Every (id, sub) gets exactly one code in [0, codes_per_sub), and
    re-encoding reproduces the identical code table."""
    from apache_hive_2_1_1_src_spark.pipeline.pq import pq_encode, train_pq_codebooks

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    books = train_pq_codebooks(emb, m=4, codes_per_sub=8)
    codes = pq_encode(emb, books, m=4).collect()
    n_vec = emb.count()
    assert len(codes) == n_vec * 4
    assert {(r.id, r.sub) for r in codes} == {
        (i, s) for i in range(n_vec) for s in range(4)
    } or len({(r.id, r.sub) for r in codes}) == n_vec * 4
    assert all(0 <= r.code < 8 for r in codes)
    again = pq_encode(emb, books, m=4).collect()
    assert sorted(map(tuple, codes)) == sorted(map(tuple, again))


def test_ivfadc_full_probe_full_rerank_equals_brute_force(spark, sf_dir):
    """IVFADC with nprobe == num_centroids and rerank >= |corpus| must
    equal exact brute-force top-k — the composition inherits both the
    IVF full-probe pin and the PQ full-rerank pin."""
    from apache_hive_2_1_1_src_spark.pipeline.pq import ivfadc_topk
    from apache_hive_2_1_1_src_spark.pipeline.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    n = emb.count()
    ex = {(r.query_id, r.neighbor_id) for r in brute_force_topk(emb, qs, k=5).collect()}
    full = {
        (r.query_id, r.neighbor_id)
        for r in ivfadc_topk(
            emb, qs, k=5, num_centroids=8, nprobe=8, rerank=n
        ).collect()
    }
    assert full == ex


def test_canonical_by_quality_invariants(spark, sf_dir):
    """Exactly one canonical per component; the canonical has the
    component's max quality; every node appears exactly once (singletons
    included as their own component)."""
    from apache_hive_2_1_1_src_spark.pipeline.dedup import (
        canonical_by_quality,
        embedding_near_dups,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    pairs = embedding_near_dups(emb, threshold=0.40, sign_bits=4)
    rows = canonical_by_quality(emb, pairs).collect()
    assert len(rows) == emb.count()
    assert len({r.id for r in rows}) == len(rows)
    by_comp = {}
    for r in rows:
        by_comp.setdefault(r.component, []).append(r)
    for comp, members in by_comp.items():
        canon = [r for r in members if r.is_canonical]
        assert len(canon) == 1, comp
        assert canon[0].quality == max(r.quality for r in members), comp


def test_arrow_and_pandas_decode_paths_agree(spark, sf_dir):
    """p13 (mapInPandas) and p52 (mapInArrow) are two transports for the
    same kernel: identical schema, identical rows."""
    from apache_hive_2_1_1_src_spark.pipeline.multimodal import (
        decode_blobs,
        decode_blobs_arrow,
        with_blob_column,
    )

    blobs = with_blob_column(
        load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    )
    a = sorted(map(tuple, decode_blobs(blobs).collect()))
    b = sorted(map(tuple, decode_blobs_arrow(blobs).collect()))
    assert a == b


def test_xxhash_and_md5_minhash_paths_agree(spark, sf_dir):
    """Both MinHash code paths are certified against each other on the
    gate corpus: the xxhash64 production family (minhash_dedup — p02's
    oracle-checked path) and the md5 family (md5_minhash_signatures /
    md5_band_table — p30's oracle-reproducible path) must produce the
    IDENTICAL verified near-dup pair set after exact-Jaccard verify.
    (Raw candidate sets may differ in false positives between hash
    families; the verified sets cannot, as long as each family's banding
    recalls every true pair — which this pins.)"""
    from apache_hive_2_1_1_src_spark.io import load_table
    from apache_hive_2_1_1_src_spark.pipeline.dedup import (
        jaccard_pairs,
        md5_band_table,
        md5_minhash_signatures,
        minhash_dedup,
    )

    docs = load_table(spark, sf_dir, "documents")
    xx = {
        (r.id_a, r.id_b)
        for r in minhash_dedup(docs, num_hashes=32, bands=8, threshold=0.4).collect()
    }
    banded = md5_band_table(md5_minhash_signatures(docs), num_hashes=16, bands=8)
    cands = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    md5_verified = {
        (r.id_a, r.id_b)
        for r in jaccard_pairs(docs, cands, threshold=0.4).collect()
    }
    assert xx == md5_verified and len(xx) > 0


def test_misra_gries_containment_and_partition_invariance(spark, sf_dir):
    """MG guarantee (Misra & Gries 1982): the candidate union contains
    every token with global frequency > N/capacity — checked directly
    against exact counts — and the final top-20 is identical at 4 and
    16 input partitions (the summary is per-partition state, the answer
    must not be)."""
    import os

    from pyspark.sql import functions as F

    from apache_hive_2_1_1_src_spark.pipeline.sketches import (
        heavy_hitters,
        mg_candidates,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tokens = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
        ).alias("token")
    )
    capacity = 50
    total = tokens.count()
    exact = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    frequent = {
        r.token for r in exact.filter(F.col("cnt") > total / capacity).collect()
    }
    cands = {
        r.token for r in mg_candidates(tokens.repartition(8), "token", capacity).collect()
    }
    assert frequent <= cands, frequent - cands

    a = heavy_hitters(docs.repartition(4), "text", top_n=20, capacity=200).collect()
    b = heavy_hitters(docs.repartition(16), "text", top_n=20, capacity=200).collect()
    assert [(r.token, r.cnt) for r in a] == [(r.token, r.cnt) for r in b]
    assert all(r.guarantee_ok for r in a)


def test_count_min_never_undercounts_and_merges_across_partitions(spark, sf_dir):
    """CM guarantee: estimates >= true counts for EVERY token probed,
    and the merged sketch is identical at different partition counts
    (cell merge is exact addition, not approximation)."""
    import os

    from pyspark.sql import functions as F

    from apache_hive_2_1_1_src_spark.pipeline.sketches import (
        cm_estimate,
        cm_sketch,
    )

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    tokens = docs.select(
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda w: w != "")
        ).alias("token")
    )
    t4 = cm_sketch(tokens.repartition(4), "token", width=256, depth=3)
    t16 = cm_sketch(tokens.repartition(16), "token", width=256, depth=3)
    assert t4 == t16  # merge is exact
    exact = {
        r.token: r.cnt
        for r in tokens.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"))
        .limit(50)
        .collect()
    }
    for tok, cnt in exact.items():
        assert cm_estimate(t4, tok) >= cnt


def test_hll_registers_exact_msb_and_mergeability(spark, sf_dir):
    """HLL pins: (1) the register build is partition-count invariant
    (max is commutative/associative); (2) registers from disjoint
    shards merged by register-wise MAX equal the whole-set registers
    exactly; (3) on a synthetic set of KNOWN cardinality the estimate
    sits within 5% (3-sigma for m=4096 is ~4.9%); (4) the rank column
    matches a Python-side recomputation of xxhash64 leading zeros on a
    sample — the exact-bin() msb path, no float log2."""
    from pyspark.sql import functions as F

    from apache_hive_2_1_1_src_spark.pipeline.sketches import (
        hll_estimate,
        hll_registers,
    )

    n = 20000
    ids = spark.range(n).select(F.concat(F.lit("key_"), "id").alias("k"))
    r8 = {r.bucket: r.M for r in hll_registers(ids.repartition(8), "k").collect()}
    r32 = {r.bucket: r.M for r in hll_registers(ids.repartition(32), "k").collect()}
    assert r8 == r32  # partition-count invariant

    # shard-merge losslessness
    lo = hll_registers(ids.filter(F.expr("id % 2 = 0")), "k").collect()
    hi = hll_registers(ids.filter(F.expr("id % 2 = 1")), "k").collect()
    merged: dict[int, int] = {}
    for r in [*lo, *hi]:
        merged[r.bucket] = max(merged.get(r.bucket, 0), r.M)
    assert merged == r8

    est = hll_estimate(hll_registers(ids, "k"))
    assert abs(est - n) <= 0.05 * n, est

    # rank arithmetic vs the engine's own xxhash64, recomputed bitwise
    sample = ids.limit(200).withColumn("h", F.xxhash64("k")).collect()
    p, m = 12, 1 << 12
    expect: dict[int, int] = {}
    for row in sample:
        h = row.h & 0xFFFFFFFFFFFFFFFF  # two's complement view
        bucket = h & (m - 1)
        rem = h >> p
        rank = (64 - p - rem.bit_length()) + 1
        expect[bucket] = max(expect.get(bucket, 0), rank)
    got = {
        r.bucket: r.M
        for r in hll_registers(ids.limit(200), "k").collect()
    }
    assert got == expect


def test_leakage_safe_split_purity_on_chain_cluster(spark, sf_dir):
    """A long chain (1-2, 2-3, ..., 9-10) is ONE component: every member
    must land on the same side even though pairwise hashes differ."""
    from apache_hive_2_1_1_src_spark.pipeline.dedup import leakage_safe_split

    nodes = spark.createDataFrame([(i,) for i in range(1, 61)], "vec_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 10)], "id_a long, id_b long"
    )
    out = leakage_safe_split(nodes, pairs).collect()
    sides = {r["id"]: r["side"] for r in out}
    assert len({sides[i] for i in range(1, 11)}) == 1, "chain cluster split!"
    assert all(r["cluster_pure"] for r in out)
    # singletons (11..60) got their own deterministic assignment
    comp = {r["id"]: r["component"] for r in out}
    assert all(comp[i] == i for i in range(11, 61))
    # both sides are populated across the id range (not a constant fn)
    assert len(set(sides.values())) == 2


def test_leakage_safe_split_deterministic(spark, sf_dir):
    from apache_hive_2_1_1_src_spark.pipeline.dedup import leakage_safe_split

    nodes = spark.createDataFrame([(i,) for i in range(200)], "vec_id long")
    pairs = spark.createDataFrame([(0, 1), (5, 6)], "id_a long, id_b long")
    a = sorted(map(tuple, leakage_safe_split(nodes, pairs).collect()))
    b = sorted(map(tuple, leakage_safe_split(nodes, pairs).collect()))
    assert a == b


def test_temperature_rebalance_t1_is_natural_and_flattening_monotone(spark, sf_dir):
    from apache_hive_2_1_1_src_spark.pipeline.curation import (
        temperature_rebalance,
    )

    docs = load_table(spark, sf_dir, "documents")
    # T=1: keep_p identical for every language (natural distribution,
    # uniform thinning to the budget)
    t1 = temperature_rebalance(docs, temperature=1.0, target_frac=0.5).collect()
    assert len({r["keep_p"] for r in t1}) == 1
    # T=2 flattens: rarer languages keep a HIGHER fraction
    t2 = temperature_rebalance(docs, temperature=2.0, target_frac=0.5).collect()
    by_n = sorted(t2, key=lambda r: r["n_before"])
    ps = [r["keep_p"] for r in by_n]
    assert all(ps[i] >= ps[i + 1] - 1e-12 for i in range(len(ps) - 1)), ps
    # kept counts track the probabilities: total ≈ budget
    total = sum(r["n_before"] for r in t2)
    kept = sum(r["n_kept"] for r in t2)
    assert 0.35 * total <= kept <= 0.65 * total, (kept, total)


def test_temperature_rebalance_keep_p_capped_at_one(spark, sf_dir):
    from apache_hive_2_1_1_src_spark.pipeline.curation import (
        temperature_rebalance,
    )

    docs = load_table(spark, sf_dir, "documents")
    # extreme temperature up-weights the tail far past its size: cap at 1
    out = temperature_rebalance(docs, temperature=100.0, target_frac=0.9).collect()
    assert all(r["keep_p"] <= 1.0 for r in out)
    assert all(r["n_kept"] <= r["n_before"] for r in out)


# --- round 13 optimization equivalence pins ---


def test_python_xxh64_matches_spark_xxhash64_on_weight_keys(spark):
    """The pure-Python XXH64 that bakes hyperplane weights into literals
    must agree with F.xxhash64 (seed 42) on every weight key the LSH
    surface can generate — full 64-bit equality, not just parity."""
    from apache_hive_2_1_1_src_spark.pipeline.similarity import _xxh64

    keys = [f"{t}_{p}_{d}" for t in range(8) for p in range(12) for d in range(64)]
    rows = spark.createDataFrame([(k,) for k in keys], "k string").select(
        "k", F.xxhash64("k").alias("h")
    )
    mask = (1 << 64) - 1
    for r in rows.collect():
        assert _xxh64(r.k.encode()) == (r.h & mask), r.k


def test_blocked_gemm_cosines_equal_expression_cosines(spark, sf_dir):
    """embedding_near_dups' tiled-NumPy kernel must reproduce the
    zip_with/aggregate fold bit-for-bit: compare every (pair, rounded
    cos) against the expression-computed all-pairs reference."""
    from apache_hive_2_1_1_src_spark.pipeline.dedup import (
        _dot,
        _norm,
        embedding_near_dups,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    got = {
        (r.id_a, r.id_b): r.cos
        for r in embedding_near_dups(emb, threshold=0.40).collect()
    }
    v = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        _norm(F.col("embedding")).alias("nv"),
    )
    a, b = v.alias("a"), v.alias("b")
    cos = F.round(
        _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv")), 4
    )
    want = {
        (r.id_a, r.id_b): r.cos
        for r in a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), cos.alias("cos")
        )
        .filter(F.col("cos") >= 0.40)
        .collect()
    }
    assert got == want


def test_inverted_index_jaccard_equals_pair_enumeration(spark, sf_dir):
    """blocked_jaccard_pairs (inverted shingle index) must return exactly
    the rows of the old shape: enumerate same-block pairs, verify each
    with jaccard_pairs."""
    from apache_hive_2_1_1_src_spark.pipeline.dedup import blocked_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in blocked_jaccard_pairs(docs, "source", threshold=0.4).collect()
    }
    pairs = (
        docs.alias("x")
        .join(
            docs.alias("y"),
            (F.col("x.source") == F.col("y.source"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
    )
    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(docs, pairs, threshold=0.4).collect()
    }
    assert got == want


def test_python_shingler_equals_expression_shingles(spark, sf_dir):
    """_with_shingles_py (Arrow kernel) must produce the exact array —
    same grams, same first-occurrence order, same <n-words fallback — as
    the _word_shingles expression, including on crafted edge texts."""
    from apache_hive_2_1_1_src_spark.pipeline.dedup import (
        _with_shingles_py,
        _word_shingles,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (900001, ""),
            (900002, "  "),
            (900003, "one"),
            (900004, "one two"),
            (900005, " lead and trail  space\tmix\nnewline "),
            (900006, "a a a a b a a"),
            (900007, None),
            (900008, "UPPER Case MiXeD words here now"),
        ],
        "doc_id long, text string",
    )
    both = docs.unionByName(edge)
    got = {
        r.doc_id: r.sh for r in _with_shingles_py(both, "text").collect()
    }
    want = {
        r.doc_id: r.sh
        for r in both.select(
            "doc_id", _word_shingles(F.col("text")).alias("sh")
        ).collect()
    }
    assert got == want


def test_regexp_quality_features_equal_hof_forms(spark, sf_dir):
    """The round-13 regexp_count feature expressions (_n_words,
    _n_stopwords, _n_nonspace_chars, punct count, bpe_ish count) must be
    value-identical to the higher-order split/filter/aggregate forms they
    replaced — over the corpus AND crafted edge texts (NULL, empty,
    whitespace-only, tabs/newlines, punctuation-adjacent stopwords,
    consecutive stopwords, Unicode length-changing lowercasing)."""
    from apache_hive_2_1_1_src_spark.pipeline.text import (
        STOPWORDS,
        _n_nonspace_chars,
        _n_stopwords,
        _n_words,
        _words,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    edge = spark.createDataFrame(
        [
            (900001, ""),
            (900002, "   \t\n  "),
            (900003, "the"),
            (900004, "a a an and of the it is in to or"),
            (900005, "the, quick (a) brown; fox... and-the it?"),
            (900006, "x of  the\ty\nand z"),
            (900007, None),
            (900008, "THE AND OF IT IS"),
            (900009, "İstanbul İ the data"),
            (900010, "word"),
            (900011, "an analysis and anchor a art"),
        ],
        "doc_id long, text string",
    )
    both = docs.unionByName(edge)
    text = F.col("text")
    words = _words(text)
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    hof = both.select(
        "doc_id",
        F.size(words).alias("nw"),
        F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).alias("ns"),
        (
            F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
        ).alias("np"),
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w)).alias("nc"),
        F.size(
            F.expr(
                "regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\\\s]', 0)"
            )
        ).alias("nb"),
    )
    new = both.select(
        "doc_id",
        _n_words(text).alias("nw"),
        _n_stopwords(text).alias("ns"),
        F.regexp_count(text, F.lit(r"[^\w\s]")).alias("np"),
        _n_nonspace_chars(F.lower(text)).alias("nc"),
        F.coalesce(
            F.regexp_count(F.lower(text), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]")),
            F.lit(-1),
        ).alias("nb"),
    )
    got = {r.doc_id: (r.nw, r.ns, r.np, r.nc, r.nb) for r in new.collect()}
    want = {r.doc_id: (r.nw, r.ns, r.np, r.nc, r.nb) for r in hof.collect()}
    assert got == want


def test_tfidf_subset_equals_posthoc_filter(spark, sf_dir):
    """tfidf_top_terms(subset=pred) must return exactly the rows of
    tfidf_top_terms().filter(pred): tf and the per-doc window depend only
    on the doc's own terms, df/N stay corpus-global."""
    from apache_hive_2_1_1_src_spark.pipeline.text import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    pred = F.col("doc_id") % 7 == 0
    want = {
        (r.doc_id, r.term, r.tfidf, r.rn)
        for r in tfidf_top_terms(docs, k=3).filter(pred).collect()
    }
    got = {
        (r.doc_id, r.term, r.tfidf, r.rn)
        for r in tfidf_top_terms(docs, k=3, subset=pred).collect()
    }
    assert got == want and got
