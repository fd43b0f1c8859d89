"""Deduplication operators over the ``documents`` table.

Scale design (the point of every function here):

* **Exact** dedup is one shuffle keyed by content hash — at 100 TB the
  md5 groupBy is the optimal plan (map-side partial agg collapses
  duplicates before the exchange).
* **MinHash-LSH** never materializes all-pairs: each doc emits ``b`` band
  keys (b×rows rows total, linear in corpus size); candidate pairs only
  form *within* a band bucket (shuffle keyed by band hash), and exact
  Jaccard verification touches only those candidates.  All-pairs O(n²)
  never appears in any plan.
* **SimHash** reduces each doc to a 64-bit signature via 64 parallel JVM
  aggregations (one explode + one groupBy), then blocks on 16-bit chunks
  (Hamming-≤k pairs must share ≥1 of 4 chunks by pigeonhole) — again a
  linear emit + bucket-local pairing.
* **Embedding near-dup** at test scale is a broadcast self-join; at
  100 TB you compose it with similarity.lsh_bucketed_ann's hyperplane
  buckets (documented there) — the verify step is identical.

Everything is JVM expressions (xxhash64 / transform / aggregate /
array ops); Python never touches row data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle array (lowercased, whitespace-split).

    Extracted with one JVM ``regexp_extract_all`` using a zero-width
    word-boundary lookahead (overlapping matches) — measured 6.6× faster
    than building the same array with interpreted higher-order functions
    (transform + slice + concat_ws), which matters because shingling runs
    once per document over the whole corpus."""
    norm = F.regexp_replace(F.lower(text), r"\s+", " ")
    gram = " ".join([r"\S+"] * n)
    shingles = F.regexp_extract_all(norm, F.lit(f"(?<= |^)(?=({gram}))"), F.lit(1))
    words = F.split(norm, " ")
    return F.array_distinct(
        F.when(F.size(words) >= n, shingles).otherwise(F.array(F.concat_ws(" ", words)))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: canonical = min id per md5(content).  Returns
    (content_hash, canonical_id, n_copies)."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Deterministic MinHash signatures, one column per hash function:
    h_i = min over shingles of a_i*xxhash64(shingle)+b_i (wrapping 64-bit)
    — the standard universal-hash MinHash family, one xxhash64 per shingle.

    Computed as explode(shingles) → groupBy(doc) with ``num_hashes``
    codegen ``min`` aggregates — map-side partial mins collapse the data
    before the one shuffle keyed by doc id, which is the shape that holds
    at 100 TB (and avoids re-evaluating the signature expression per
    consumer, which interpreted higher-order lambdas would).

    Round 14 re-measurement (confirming round 13's revert of the same
    idea): a zero-shuffle per-row form — bind transform(sh, xxhash64) to
    a column, then 32 × array_min(transform(bh, a·x+b)) — is SLOWER
    end-to-end (p02 best 2.21 s vs 1.66 s, same-session interleaved
    best-of-8) despite removing this exchange: higher-order functions are
    interpreted and allocate a fresh array per transform per row, while
    the explode feeds tight codegen min aggregates and the exchange
    carries only the partially-aggregated 32-long rows (~1 row per doc
    per map partition).  Kept as-is deliberately."""
    sh = shingles if shingles is not None else shingle_table(docs, text_col, id_col)
    shingled = (
        sh.select("id", F.explode("sh").alias("shingle"))
        .select("id", F.xxhash64(F.col("shingle")).alias("bh"))
    )
    # one xxhash64 per shingle + 32 linear transforms (h_i = a_i*h + b_i,
    # wrapping 64-bit) — the standard universal-hash MinHash family; 32×
    # cheaper than hashing per function and fully codegen
    aggs = [
        F.min(F.col("bh") * F.lit(2 * i + 1) + F.lit((i * 0x9E3779B97F4A7C15) % (1 << 62))).alias(
            f"h{i}"
        )
        for i in range(num_hashes)
    ]
    return shingled.groupBy("id").agg(*aggs)


def minhash_lsh_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingles: DataFrame | None = None,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs.

    Emits exactly ``bands`` rows per doc, shuffles once on
    (band_idx, band_hash), pairs only within buckets.  Returns distinct
    (id_a, id_b) with id_a < id_b.

    Round 13 (optimization guide §2.3/§2.4): pairs are generated
    IN-BUCKET — groupBy(band_idx, band_hash) → sorted id list →
    codegen array-combinations explode — instead of the earlier
    banded-table self-join.  The self-join planned the whole signature
    subplan TWICE (one per join side; the broadcast side's exchange is
    not reusable against the streamed side's shuffle), so every shingle
    explode + 32-way min aggregation ran twice, and at cluster scale the
    join shuffles the banded table twice (or broadcasts it whole).  The
    groupBy form computes signatures once and shuffles the narrow
    (band_idx, band_hash, id) rows exactly once.  Candidate-pair sets
    are identical: both emit every same-bucket pair with id_a < id_b
    (collect_list is sorted, so slice-pairing preserves the order
    invariant).

    Round 14: the cross-band dedupe is no longer a ``.distinct()``
    exchange — each pair is emitted exactly once, from the first band
    where the two signatures agree (see the inline comment), so the
    pipeline has exactly ONE data shuffle end-to-end.

    Round 14 skew guard (guide §2.5): a band bucket larger than
    ``max_bucket_size`` is SKIPPED.  A bucket with thousands of members
    means the band hash has stopped discriminating (near-empty docs
    sharing a degenerate signature, a corpus-wide boilerplate shingle
    set) and its size² pair explosion would land in a single task — the
    standard LSH practice is to treat such buckets as non-informative and
    drop them.  The default (1024) is ~250× the largest bucket any sf
    corpus produces (max observed 4 at sf0.1 — asserted in
    tests/test_round14_semantics.py, so declared-query results are
    provably unchanged), while bounding any one task's explode at
    ~0.5M pairs at cluster scale."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, text_col, id_col, num_hashes, shingles=shingles)
    band_hashes = F.array(
        *[
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"h{b * rows_per_band + r}").cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            )
            for b in range(bands)
        ]
    )
    banded = sigs.select(F.col("id"), band_hashes.alias("bhs")).select(
        "id", "bhs", F.posexplode("bhs").alias("band_idx", "band_hash")
    )
    buckets = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.sort_array(F.collect_list(F.struct("id", "bhs"))).alias("members"))
        .filter((F.size("members") >= 2) & (F.size("members") <= max_bucket_size))
    )
    # Round 14 (guide §2.4 — remove shuffles outright): the cross-band
    # dedupe used to be a .distinct() — a second full exchange keyed
    # (id_a, id_b) right after the bucket exchange.  Instead each member
    # carries its 8 band hashes into the bucket, and a pair is emitted
    # ONLY from the first band where the two signatures agree
    # (array_position of the zip_with-equality vector == this bucket's
    # band_idx).  Every candidate pair shares at least one band and has
    # exactly one first match, so the emitted multiset is exactly the
    # old distinct set — with one exchange instead of two, and the
    # candidate pairs never shuffled at all (they flow straight into the
    # broadcast verify joins).  Bucket rows widen by the 8-long hash
    # array (~64 B), bounded by bands × n rows; the removed exchange
    # carried every duplicated candidate pair.  Honest local figure: a
    # same-session interleaved best-of-8 at sf0.1 is a wash (med 1.63 s
    # vs 1.58 s full p02 — only ~300 pair rows crossed the removed
    # exchange there); the win is the removed candidate-pair shuffle at
    # corpus scale, where near-dup-heavy corpora emit pairs per shared
    # band (result equality pinned at sf0.1 in
    # tests/test_round14_semantics.py).
    pair_structs = F.flatten(
        F.transform(
            F.col("members"),
            lambda x, i: F.transform(
                F.slice(F.col("members"), i + F.lit(2), F.size(F.col("members"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    F.array_position(
                        F.zip_with(x["bhs"], y["bhs"], lambda p, q: p == q),
                        True,
                    ).alias("first_band"),
                ),
            ),
        )
    )
    return (
        buckets.select(F.col("band_idx"), F.explode(pair_structs).alias("p"))
        .filter(F.col("p.first_band") == F.col("band_idx") + 1)
        .select(F.col("p.id_a"), F.col("p.id_b"))
    )


def _with_shingles_py(
    df: DataFrame, text_col: str, n: int = 3, out_col: str = "sh"
) -> DataFrame:
    """Append the distinct word n-gram shingle array via an Arrow-batched
    Python kernel — round 13 (guide §4.2).  Honest re-measurement late in
    the round: WARM the kernel and the _word_shingles expression are
    equivalent at sf0.1 (~0.7 s per materialization either way; the
    original ~2.8 s expression figure was a cold/contended sample), so
    the kernel is kept for its cold-start edge and pinned equivalence,
    not a claimed order-of-magnitude.

    Faithful to the expression for ALL inputs, not just this corpus:
    lowercasing stays in the JVM (Java and Python disagree on Unicode
    case mapping, e.g. final sigma), and the whitespace class is Java's
    ``\\s`` — exactly ``[ \\t\\n\\x0B\\f\\r]``, NOT Python's Unicode-aware
    ``\\s``.  Gram enumeration, the <n-words fallback (the whole text as
    one shingle, empties preserved by the single-space join like
    concat_ws), the NULL→[""] framing and first-occurrence dedup
    (dict.fromkeys == array_distinct) all mirror the expression;
    tests/test_pipeline_invariants.py pins array equality against it."""
    import re

    from pyspark.sql.types import ArrayType, StringType, StructField, StructType

    other = [c for c in df.columns if c != text_col]
    src = df.select(*other, F.lower(F.col(text_col)).alias("_t_lower"))
    schema = StructType(
        [src.schema[c] for c in other]
        + [StructField(out_col, ArrayType(StringType()))]
    )
    ws = re.compile("[ \t\n\x0b\f\r]+")

    def kernel(batches):
        for pdf in batches:
            shingles = []
            for t in pdf["_t_lower"]:
                if t is None:
                    shingles.append([""])
                    continue
                norm = ws.sub(" ", t)
                words = norm.split(" ")
                if len(words) >= n:
                    toks = [w for w in words if w]
                    shingles.append(
                        list(
                            dict.fromkeys(
                                " ".join(toks[i : i + n])
                                for i in range(len(toks) - n + 1)
                            )
                        )
                    )
                else:
                    shingles.append([" ".join(words)])
            out = pdf[other].copy()
            out[out_col] = shingles
            yield out

    return src.mapInPandas(kernel, schema=schema)


def shingle_table(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, shingle-array) materialized once via localCheckpoint — so every
    consumer (signatures, both sides of verify joins) reuses one
    materialization rather than recomputing the shingling.  At cluster scale
    the same role is played by writing signatures/shingles to a parquet
    stage table."""
    sh = _with_shingles_py(
        docs.select(F.col(id_col).alias("id"), F.col(text_col)), text_col
    )
    return sh.localCheckpoint(eager=False)


def jaccard_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.4,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """Exact word-3-gram Jaccard verification for candidate pairs.
    Returns (id_a, id_b, jaccard) with jaccard >= threshold."""
    sh = shingles if shingles is not None else docs.select(
        F.col(id_col).alias("id"), _word_shingles(F.col(text_col)).alias("sh")
    )
    a = sh.alias("a")
    b = sh.alias("b")
    joined = (
        pairs.join(a, pairs.id_a == F.col("a.id"))
        .join(b, pairs.id_b == F.col("b.id"))
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("a.sh", "b.sh")).alias("n_inter"),
            F.size(F.array_union("a.sh", "b.sh")).alias("n_union"),
        )
    )
    jac = F.round(F.col("n_inter") / F.col("n_union"), 6)
    return joined.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def blocked_jaccard_pairs(
    docs: DataFrame,
    block_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.4,
    max_df: int = 4096,
) -> DataFrame:
    """Exact word-3-gram Jaccard over all same-block pairs, computed via
    an inverted shingle index instead of enumerating the pairs (round 13,
    guide §2.3: shuffle keys, not payloads).

    Equivalent to ``jaccard_pairs(docs, same-block id_a<id_b pairs)`` for
    any ``threshold > 0``: each (block, shingle) posting list yields one
    row per pair of docs sharing that shingle, a count aggregate gives
    |A∩B| for exactly the pairs sharing ≥1 shingle, and
    |A∪B| = |A|+|B|−|A∩B| (shingle arrays are distinct).  Pairs with no
    shared shingle have Jaccard 0 and can never reach a positive
    threshold, so dropping them changes nothing.

    The old shape materialized every same-block pair (Σ n_b² rows) and
    ran two O(|A|+|B|) array scans per pair; this one's join output is
    Σ_shingle df(s)² rows — linear-ish when shingles are near-unique,
    and the expensive work is a codegen count.

    Round 14 note: rebuilding the index as ONE groupBy(block, shingle)
    collect_list posting table (the minhash_lsh_candidates bucket shape)
    was measured and REJECTED — med 2.08 s vs 1.51 s at sf0.1,
    same-session order-reversed: ObjectHashAggregate allocating a list
    per ~500k near-unique (block, shingle) groups loses to the tight
    codegen self-join whose probe input is already checkpointed.

    Round 14 skew guard (guide §2.5): a shingle shared by more than
    ``max_df`` same-block documents would put a df(s)² pair explosion in
    one join task (a corpus-wide boilerplate shingle at 100 TB).  Hot
    (block, shingle) keys are collected into a broadcast blacklist —
    empty on any healthy corpus, KB-sized on a pathological one — and
    anti-joined off the build side of the pair join; zeroing ONE side of
    a key zeroes that key's entire |A|×|B| fan-out, exactly like
    dropping the posting list.  The default (4096) is ~680× the largest
    df any sf corpus produces (max observed 6 at sf0.1 — asserted in
    tests/test_round14_semantics.py, so declared-query results are
    provably unchanged).  A capped shingle lowers the affected pairs'
    Jaccard estimate below true — callers that need recall on such
    corpora raise ``max_df``.

    Returns (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    if threshold <= 0:
        raise ValueError("blocked_jaccard_pairs requires threshold > 0")
    sh = _with_shingles_py(
        docs.select(
            F.col(id_col).alias("id"),
            F.col(block_col).alias("blk"),
            F.col(text_col),
        ),
        text_col,
    ).withColumn("n_sh", F.size("sh"))
    # materialize once — both join sides read the same token table instead
    # of re-running the shingle regex per side (same rule as shingle_table)
    toks = sh.select(
        "id", "blk", "n_sh", F.explode("sh").alias("shingle")
    ).localCheckpoint(eager=False)
    hot = (
        toks.groupBy("blk", "shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > max_df)
        .select("blk", "shingle")
    )
    a = toks.join(F.broadcast(hot), ["blk", "shingle"], "left_anti").alias("a")
    b = toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("na"),
            F.col("b.n_sh").alias("nb"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    jac = F.round(
        F.col("n_inter") / (F.col("na") + F.col("nb") - F.col("n_inter")), 6
    )
    return inter.select("id_a", "id_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def minhash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.4,
) -> DataFrame:
    """End-to-end fuzzy dedup: one shared shingle materialization feeds the
    signatures AND both sides of the Jaccard verification — the shingle
    HOF expressions run exactly once per doc."""
    sh = shingle_table(docs, text_col, id_col)
    cands = minhash_lsh_candidates(
        docs, text_col, id_col, num_hashes, bands, shingles=sh
    )
    return jaccard_pairs(docs, cands, text_col, id_col, threshold, shingles=sh)


def simhash64(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    use_md5: bool = False,
) -> DataFrame:
    """64-bit SimHash per document.

    explode(words) → xxhash64(word) → per-bit ±1 sums (64 JVM aggregates)
    → reassemble sign bits into one long.  One shuffle keyed by doc id.

    ``use_md5=True`` switches the word hash to the first 15 hex chars of
    md5 (a 60-bit signature, still chunked 4 ways) — slightly slower than
    xxhash64 but bit-for-bit reproducible in any engine with md5, which
    is what lets p04's DuckDB oracle recompute the identical signature.
    Empty tokens are dropped in this mode so both engines tokenize alike.

    Round 14 re-measurement (closing the round-13 "packed counters"
    backlog item): packing the ±1 sums 4-per-long in 16-bit lanes
    (n_pos per lane, ±sum = 2·n_pos − n, loud raise_error guard at
    65535 words/doc) was implemented, pinned bit-equal, and REJECTED on
    measurement: the isolated signature aggregation got SLOWER (best
    2.30 s vs 1.94 s packed vs plain at sf0.1; full p04 3.2-3.5 s vs
    2.5-2.7 s, same-session order-reversed runs).  The per-row lane
    assembly (shift+and+shiftleft+add ×nbits) costs more than the saved
    aggregation buffers — the md5/conv word hash, not the 60 sum
    buffers, dominates this stage.  Plain sums kept."""
    nbits = 60 if use_md5 else 64
    words = F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
    exploded = docs.select(
        F.col(id_col).alias("id"), F.explode(words).alias("word")
    )
    if use_md5:
        exploded = exploded.filter(F.col("word") != "")
        h = F.conv(F.substring(F.md5(F.col("word")), 1, 15), 16, 10).cast("long")
    else:
        h = F.xxhash64(F.col("word"))
    exploded = exploded.select("id", h.alias("h"))
    bit_sums = exploded.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"b{b}")
            for b in range(nbits)
        ]
    )
    sim = None
    for b in range(nbits):
        bit = F.when(F.col(f"b{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)).otherwise(
            F.lit(0).cast("long")
        )
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return bit_sums.select("id", sim.alias("simhash"))


def simhash_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    use_md5: bool = False,
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= max_hamming, blocked on the
    4 16-bit chunks (pigeonhole: ≤3 differing bits → ≥1 identical chunk),
    so pairing is bucket-local, never all-pairs.  With ``use_md5`` the
    signature is 60-bit and the chunks 15-bit — same pigeonhole bound."""
    sims = simhash64(docs, text_col, id_col, use_md5=use_md5)
    width = 15 if use_md5 else 16
    mask = (1 << width) - 1
    chunks = sims.select(
        "id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), width * c)
                    .bitwiseAND(F.lit(mask))
                    .cast("int")
                    for c in range(4)
                ]
            )
        ).alias("chunk_idx", "chunk_val"),
    )
    l, r = chunks.alias("l"), chunks.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.chunk_idx") == F.col("r.chunk_idx"))
            & (F.col("l.chunk_val") == F.col("r.chunk_val"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.col("l.simhash").alias("sh_a"),
            F.col("r.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cand.select("id_a", "id_b", hamming.alias("hamming")).filter(
        F.col("hamming") <= max_hamming
    )


def canonicalize_pairs(pairs: DataFrame, iterations: int = 3) -> DataFrame:
    """Assign each doc in a near-dup pair set a canonical id = the minimum
    id reachable through the pair graph within ``iterations`` hops
    (iterated label propagation — the bounded-step union-find used by
    large-scale dedup jobs; each iteration is one self-join + min-agg
    shuffle, so cost is iterations × |edges| and never quadratic).

    Clusters with diameter > iterations keep per-component minima that are
    correct within their hop radius — callers pick iterations ≥ expected
    cluster diameter (near-dup clusters are almost always tiny).

    Round 13 (guide §5 — cut lineage that fans out): ``edges`` is
    consumed by every propagation round plus the label seed, and itself
    reads ``pairs`` twice (both union directions) — without
    materialization each of those references re-executes the whole
    upstream pair-generation subplan (for p15 that is the tiled-GEMM
    scoring kernel, re-run up to 8×).  One localCheckpoint pins it —
    the same rule connected_components already applies."""
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("canonical")
    )
    for _ in range(iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("canonical").alias("nbr_min"))
        )
        labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("canonical"), F.coalesce(F.col("nbr_min"), F.col("canonical"))
                ).alias("canonical"),
            )
        )
        labels = labels.localCheckpoint(eager=False)
    return labels


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<numeric> columns, computed in double
    via JVM higher-order functions (zip_with/aggregate) — no UDF."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def sign_bucket(vec: Column, sign_bits: int) -> Column:
    """Deterministic coarse-quantizer cell id: the sign bits of the first
    ``sign_bits`` dimensions packed into an int (2^sign_bits cells).
    Shared by semantic_dedup and the bucketed pair generator, and
    closed-form enough that DuckDB oracles reproduce it exactly."""
    bucket = None
    for i in range(sign_bits):
        bit = (F.element_at(vec, i + 1) >= 0).cast("int") * (
            2 ** (sign_bits - 1 - i)
        )
        bucket = bit if bucket is None else bucket + bit
    return bucket


def _blocked_pair_cosines(
    v: DataFrame, threshold: float, n_blocks: int
) -> DataFrame:
    """Pairwise cosines within each ``bucket`` of ``v`` (columns: id, v,
    bucket) via tiled matrix products in Arrow batches — the distributed
    GEMM shape (optimization guide §4.2: let Spark place the tiles, hand
    whole tiles to vectorized NumPy instead of folding a higher-order
    expression per pair).

    Each vector lands in exactly one (bucket, blk) tile (blk = id mod
    ``n_blocks``); tile pairs with blk_a <= blk_b inside a bucket
    enumerate every unordered vector pair exactly once.  The kernel
    accumulates dot products and squared norms dimension-by-dimension in
    ascending order, which is bit-identical to the previous per-pair
    ``aggregate(zip_with(...))`` left fold (same float→double widening,
    same IEEE addition order, same dot/(‖a‖·‖b‖) final arithmetic), and
    rounding/thresholding stay in Spark SQL so HALF_UP semantics are
    unchanged.  The kernel pre-filters at ``threshold − 2e-4`` — strictly
    below the smallest raw value that can round up to ``threshold`` — so
    the Spark-side filter sees every qualifying pair.

    Returns (id_a, id_b, cos) with id_a < id_b and rounded cos >=
    threshold.  Scale: tile size is |bucket|/n_blocks; payload duplication
    is n_blocks× (each tile meets every other tile in its bucket), the
    inherent cost of tiled all-pairs — pick n_blocks ≈ sqrt(pairs wanted
    per task) at cluster scale.
    """
    blocks = (
        v.withColumn("blk", F.pmod(F.col("id"), F.lit(n_blocks)).cast("int"))
        .groupBy("bucket", "blk")
        .agg(F.array_sort(F.collect_list(F.struct("id", "v"))).alias("rows"))
    )
    a = blocks.select(
        "bucket", F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a")
    )
    b = blocks.select(
        "bucket", F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b")
    )
    tiles = (
        a.join(b, "bucket")
        .filter(F.col("blk_a") <= F.col("blk_b"))
        .select("blk_a", "blk_b", "rows_a", "rows_b")
        .repartition(F.col("blk_a"), F.col("blk_b"))
    )
    margin = threshold - 2e-4

    def score(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for blk_a, blk_b, rows_a, rows_b in zip(
                pdf["blk_a"], pdf["blk_b"], pdf["rows_a"], pdf["rows_b"]
            ):
                ids_a = np.asarray([r["id"] for r in rows_a], dtype=np.int64)
                A = np.vstack([np.asarray(r["v"], dtype=np.float64) for r in rows_a])
                if blk_a == blk_b:
                    ids_b, B = ids_a, A
                else:
                    ids_b = np.asarray([r["id"] for r in rows_b], dtype=np.int64)
                    B = np.vstack(
                        [np.asarray(r["v"], dtype=np.float64) for r in rows_b]
                    )
                na, nb = len(ids_a), len(ids_b)
                dim = A.shape[1]
                # dim-ascending accumulation == the zip_with/aggregate
                # left fold, element for element (bit-exact)
                G = np.zeros((na, nb))
                sq_a = np.zeros(na)
                sq_b = np.zeros(nb)
                for d in range(dim):
                    G += A[:, d : d + 1] * B[:, d]
                    sq_a += A[:, d] * A[:, d]
                    sq_b += B[:, d] * B[:, d]
                C = G / (np.sqrt(sq_a)[:, None] * np.sqrt(sq_b)[None, :])
                mask = C >= margin
                if blk_a == blk_b:
                    mask &= ids_a[:, None] < ids_b[None, :]
                iu, jv = np.nonzero(mask)
                id1, id2 = ids_a[iu], ids_b[jv]
                lo = np.minimum(id1, id2)
                hi = np.maximum(id1, id2)
                out_a.append(lo)
                out_b.append(hi)
                out_c.append(C[iu, jv])
            if out_a:
                yield pd.DataFrame(
                    {
                        "id_a": np.concatenate(out_a),
                        "id_b": np.concatenate(out_b),
                        "cos_raw": np.concatenate(out_c),
                    }
                )

    scored = tiles.mapInPandas(score, schema="id_a long, id_b long, cos_raw double")
    return scored.select(
        "id_a", "id_b", F.round("cos_raw", 4).alias("cos")
    ).filter(F.col("cos") >= threshold)


def embedding_near_dups(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    sign_bits: int | None = None,
    n_blocks: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (i < j, rounded cosine >= threshold).

    With ``sign_bits`` set (the scale path, and what the shipped p15/p35
    graph-dedup entries use) pairing is bucket-local: every vector carries
    a sign-grid cell id and only same-cell pairs are scored — shuffle
    volume is the sum of squared cell sizes, never n².  Cells can be
    swapped for IVF cids (ivf.assign_lists) without touching the scoring.
    ``sign_bits=None`` scores exact all-pairs — the brute-force baseline
    (p05), same role as p06 for ANN.

    Round 13: both paths score through _blocked_pair_cosines (tiled
    NumPy GEMM in Arrow batches) instead of a self-join evaluating an
    interpreted zip_with/aggregate fold per pair — 13× on the all-pairs
    baseline at sf0.1, bit-identical scores (see the kernel's docstring
    for the order-of-operations argument).

    Plan-shape note (round 14, correcting an overclaim the round-13
    docstring made): with ``sign_bits`` set the tile pairing is an
    equi-join on the bucket id — no BroadcastNestedLoopJoin.  With
    ``sign_bits=None`` (p05's all-pairs baseline) the bucket is a
    constant, Catalyst constant-folds the equi key away, and the plan IS
    a BroadcastNestedLoopJoin — of TILE rows, not vectors: ceil(n /
    block_rows)² tile pairs, 16×16 at sf0.1.  That is the intended
    all-pairs baseline; tests/test_round14_semantics.py bounds the tile
    count so the BNLJ side can never silently become per-vector.
    """
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if sign_bits is not None:
        v = v.withColumn("bucket", sign_bucket(F.col("v"), sign_bits))
    else:
        v = v.withColumn("bucket", F.lit(0))
    if n_blocks is None:
        n_blocks = 4 if sign_bits is not None else 16
    return _blocked_pair_cosines(v, threshold, n_blocks)


def md5_minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
) -> DataFrame:
    """MinHash signatures built from md5 instead of xxhash64:
    h_i = lexicographic min over shingles of md5('i|' ++ shingle).

    A lexicographic min over a uniform hex digest is a valid minhash
    family, and md5 exists verbatim in DuckDB — so band buckets derived
    from these signatures are fully oracle-reproducible (the xxhash64
    family in minhash_signatures is faster but keeps p02 rows-only).
    Same scale shape: explode(shingles) → one groupBy(doc) with
    ``num_hashes`` codegen min aggregates, map-side partial mins."""
    sh = docs.select(
        F.col(id_col).alias("id"), _word_shingles(F.col(text_col)).alias("sh")
    )
    exploded = sh.select("id", F.explode("sh").alias("shingle"))
    aggs = [
        F.min(F.md5(F.concat_ws("|", F.lit(str(i)), F.col("shingle")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return exploded.groupBy("id").agg(*aggs)


def md5_band_table(
    sigs: DataFrame, num_hashes: int = 16, bands: int = 8
) -> DataFrame:
    """(id, band_idx, band_hash) — banded LSH keys over an md5-minhash
    signature table; ``bands`` rows per doc, md5 of the comma-joined
    in-band signature columns."""
    rows_per_band = num_hashes // bands
    arr = F.array(
        *[
            F.md5(
                F.concat_ws(
                    ",",
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)],
                )
            )
            for b in range(bands)
        ]
    )
    return sigs.select("id", F.posexplode(arr).alias("band_idx", "band_hash"))


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hashes: int = 16,
    bands: int = 8,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Daily-ingest dedup: flag each NEW doc against an EXISTING corpus —
    the incremental shape production pipelines run per batch, instead of
    re-deduping the whole corpus.

    * ``is_exact_dup``: content hash already present in the corpus — a
      semi-join keyed on md5, one shuffle of the (small) new batch; the
      corpus side at 100 TB is a pre-computed hash table read
      partition-pruned (hash-bucketed stage table), never rescanned text.
    * ``best_jaccard`` / ``is_near_dup``: max exact word-3-gram Jaccard
      over minhash BAND-BLOCKED corpus candidates — the new batch's band
      keys (md5_band_table) hash-join against the corpus signature
      table's band keys, so candidate volume is linear in batch size ×
      bucket occupancy, never |batch|×|corpus|.  Pass ``corpus_bands``
      (a stored stage table, rebuilt only as the corpus grows) to skip
      recomputing corpus signatures per batch — the 100 TB deployment
      shape; when omitted it is derived here from the corpus text.
      md5-minhash keeps every band key DuckDB-reproducible, so the whole
      operator is full-oracle despite the approximation.
    """
    nh = new_docs.select(
        F.col(id_col).alias("doc_id"), F.md5(F.col(text_col)).alias("h")
    )
    ch = (
        corpus.select(F.md5(F.col(text_col)).alias("h"))
        .distinct()
        .withColumn("hit", F.lit(True))
    )
    exact = nh.join(ch, "h", "left").select(
        "doc_id", F.coalesce("hit", F.lit(False)).alias("is_exact_dup")
    )

    new_bands = md5_band_table(
        md5_minhash_signatures(new_docs, text_col, id_col, num_hashes),
        num_hashes,
        bands,
    )
    if corpus_bands is None:
        corpus_bands = md5_band_table(
            md5_minhash_signatures(corpus, text_col, id_col, num_hashes),
            num_hashes,
            bands,
        )
    cand = (
        new_bands.alias("n")
        .join(
            corpus_bands.alias("c"),
            (F.col("n.band_idx") == F.col("c.band_idx"))
            & (F.col("n.band_hash") == F.col("c.band_hash")),
        )
        .select(F.col("n.id").alias("nid"), F.col("c.id").alias("cid"))
        .distinct()
    )
    nsh = new_docs.select(
        F.col(id_col).alias("nid"), _word_shingles(F.col(text_col)).alias("sh_n")
    )
    csh = corpus.select(
        F.col(id_col).alias("cid"), _word_shingles(F.col(text_col)).alias("sh_c")
    )
    jac = F.round(
        F.size(F.array_intersect("sh_n", "sh_c"))
        / F.size(F.array_union("sh_n", "sh_c")),
        6,
    )
    best = (
        cand.join(nsh, "nid")
        .join(csh, "cid")
        .select(F.col("nid").alias("doc_id"), jac.alias("jac"))
        .groupBy("doc_id")
        .agg(F.max("jac").alias("best_jaccard"))
    )
    return exact.join(best, "doc_id", "left").select(
        "doc_id",
        "is_exact_dup",
        F.coalesce("best_jaccard", F.lit(0.0)).alias("best_jaccard"),
        (F.coalesce("best_jaccard", F.lit(0.0)) >= threshold).alias("is_near_dup"),
    )


def semantic_dedup(
    emb: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    sign_bits: int = 4,
    bucket_col: str | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): coarse-
    cluster the embedding space, then drop any vector that has a
    higher-similarity, lower-id neighbor inside its cluster.

    The default coarse quantizer is a deterministic sign grid — bucket =
    the sign bits of the first ``sign_bits`` dimensions (2^sign_bits
    cells) — so the whole operator is closed-form and oracle-checkable.
    For the 100 TB path pass ``bucket_col`` with a precomputed cluster
    id (e.g. the IVF ``cid`` from ivf.assign_lists — a broadcast-
    centroid argmin): pairing stays bucket-local either way, and the
    keep rule is unchanged.

    Plan: one narrow projection (bucket bits), one bucket-keyed self-join
    (pairs exist only within a cell), one semi-join for the drop set —
    shuffle volume is sum of squared cell sizes, bounded by the quantizer,
    not n².

    Returns (vec_id, bucket, kept) for every input vector.
    """
    if bucket_col is not None:
        v = emb.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.col(bucket_col).alias("bucket"),
        )
    else:
        v = emb.select(
            F.col(id_col).alias("id"), F.col(vec_col).alias("v")
        ).withColumn("bucket", sign_bucket(F.col("v"), sign_bits))
    # norm below the join (round 13) — see embedding_near_dups
    v = v.withColumn("nv", _norm(F.col("v")))
    a, b = v.alias("a"), v.alias("b")
    cos = F.round(
        _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nv") * F.col("b.nv")), 4
    )
    dropped = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .filter(cos >= threshold)
        .select(F.col("b.id").alias("id"))
        .distinct()
    )
    return v.join(dropped.withColumn("hit", F.lit(True)), "id", "left").select(
        F.col("id").alias(id_col),
        "bucket",
        (~F.coalesce("hit", F.lit(False))).alias("kept"),
    )


def chunk_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_chunk: int = 10,
) -> DataFrame:
    """Paragraph-level exact dedup with reassembly (the Dolma/RefinedWeb
    line-dedup shape): split each document into consecutive
    ``words_per_chunk``-word chunks (the synthetic corpus has no newlines,
    so fixed word windows stand in for paragraphs), keep only the globally
    FIRST occurrence of each chunk text (ordered by (doc_id, chunk_idx)),
    and reassemble the surviving chunks per document in order.

    Plan: chunking is a narrow explode (no shuffle); first-occurrence is
    ONE window over the chunk text (hash-partitioned by chunk — md5-like
    uniform keys, skew-safe); reassembly is one groupBy(doc_id).  Two
    shuffles total, both linear in corpus size — the plan a 100 TB
    paragraph-dedup job runs.

    Returns (doc_id, n_chunks, n_kept, text_kept).
    """
    from pyspark.sql import Window

    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda w: w != "")
    nchunks = F.ceil(F.size("ws") / F.lit(words_per_chunk)).cast("int")
    # guard: sequence(0, -1) auto-reverses to [0, -1] in Spark, so an
    # empty/whitespace-only doc would emit two phantom chunks — emit an
    # empty chunk list instead (the doc then has no rows, like the oracle)
    chunk_list = F.when(
        F.size("ws") > 0,
        F.transform(
            F.sequence(F.lit(0), nchunks - 1),
            lambda i: F.array_join(
                F.slice(F.col("ws"), i * words_per_chunk + 1, words_per_chunk),
                " ",
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    chunks = docs.select(F.col(id_col).alias("doc_id"), words.alias("ws")).select(
        "doc_id",
        F.posexplode(chunk_list).alias("idx", "chunk"),
    )
    w = Window.partitionBy("chunk").orderBy("doc_id", "idx")
    ranked = chunks.withColumn("kept", F.row_number().over(w) == 1)
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("kept"), F.struct("idx", "chunk"))
                        )
                    ),
                    lambda s: s.chunk,
                ),
                " ",
            ).alias("text_kept"),
        )
    )


#: Rows of one connected_components round: a (node, local root) link or its
#: reverse; ``owned`` marks the one row per node that its owner partition
#: emits, ``unsettled`` the round's certificate bit on that row.
_CC_ROUND_SCHEMA = "src long, dst long, owned boolean, unsettled boolean"


def _union_find_partition(batches):
    """One partition of a connected_components round: union-find over the
    partition's edges (numpy min-label plus pointer jumping), emitting
    ``(node, local root)`` for every node seen and ``(local root, node)``
    for every one that is not its own root.

    The partition owns every ``src`` it holds (the rows are hash-partitioned
    by ``src``, so all of a node's edges are here).  An owned node is
    ``unsettled`` when it has a smaller neighbour and more than one
    neighbour; its row is the one ``owned`` row per node of the graph."""
    import numpy as np
    import pyarrow as pa

    cols = [(b.column(0).to_numpy(), b.column(1).to_numpy()) for b in batches if b.num_rows]
    if not cols:
        return
    src = np.concatenate([c[0] for c in cols])
    dst = np.concatenate([c[1] for c in cols])
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    a, b = idx[: len(src)], idx[len(src) :]
    n = len(nodes)
    ids = np.arange(n)
    # nodes are sorted, so a smaller index is a smaller id and every label
    # points at a node no larger than its own
    label = ids
    while True:
        nxt = label.copy()
        np.minimum.at(nxt, a, label[b])
        np.minimum.at(nxt, b, label[a])
        while not np.array_equal(jumped := nxt[nxt], nxt):
            nxt = jumped
        if np.array_equal(nxt, label):
            break
        label = nxt
    owned = np.zeros(n, dtype=bool)
    owned[a] = True
    links = np.unique(a[a != b] * n + b[a != b])
    degree = np.bincount(links // n, minlength=n)
    smallest = ids.copy()
    np.minimum.at(smallest, links // n, links % n)
    unsettled = (degree > 1) & (smallest < ids)
    moved = label != ids
    none = np.zeros(int(moved.sum()), dtype=bool)
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(np.concatenate([nodes, nodes[label[moved]]])),
            pa.array(np.concatenate([nodes[label], nodes[moved]])),
            pa.array(np.concatenate([owned, none])),
            pa.array(np.concatenate([unsettled, none])),
        ],
        names=["src", "dst", "owned", "unsettled"],
    )


def connected_components(pairs: DataFrame, max_iterations: int = 12) -> DataFrame:
    """TRUE transitive connected components over a dup-pair graph — the
    convergent extension of canonicalize_pairs' bounded label propagation:
    every node gets the component-global minimum id regardless of cluster
    diameter.

    Rounds of partition-local union-find.  A round hash-partitions the
    both-direction edge rows by ``src`` (``repartition``, so AQE may
    coalesce), and one Arrow kernel per partition (_union_find_partition)
    replaces the partition's edges by ``(node, local root)`` links, which
    keeps every component connected and merges nothing new.  The kernel
    also counts the nodes it owns (all their edges are in the partition)
    that have a smaller neighbour and degree > 1, read as an Observation
    of the round's own eager localCheckpoint job.

    When a round's input has no such node it is a star forest rooted at
    each component's minimum.  Every other node has a smaller neighbour (else
    its neighbour towards the minimum would have two, one of them smaller),
    hence exactly one, and that one is the minimum (else it would have a
    smaller neighbour and a second one).  That round's output then links
    every node to its minimum in one ``owned`` row per node.  A 3000-node
    path over 8 partitions takes 6-7 rounds; a graph that needs more than
    ``max_iterations`` raises rather than return split components.

    Returns (id, component) for every node that appears in a pair.
    """
    from pyspark.sql import Observation

    a, b = F.col("id_a").cast("long"), F.col("id_b").cast("long")
    # both directions from one pass over pairs (a union would plan it twice)
    edges = pairs.select(
        F.inline(
            F.array(
                F.struct(a.alias("src"), b.alias("dst")),
                F.struct(b.alias("src"), a.alias("dst")),
            )
        )
    )
    for _ in range(max_iterations):
        certificate = Observation()
        # repartition, not rebalance: AQE may coalesce its partitions but
        # never splits one, so each node's edges stay in one partition
        out = (
            edges.repartition("src")
            .mapInArrow(_union_find_partition, _CC_ROUND_SCHEMA)
            .observe(certificate, F.count_if("unsettled").alias("unsettled"))
            .localCheckpoint(eager=True)
        )
        if certificate.get["unsettled"] == 0:
            return out.filter("owned").select(
                F.col("src").alias("id"), F.col("dst").alias("component")
            )
        edges = out.select("src", "dst")
    # silently returning unconverged labels would split one component
    # into several (duplicates survive dedup) — fail loudly instead;
    # callers wanting a fixed hop budget use canonicalize_pairs
    raise RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "rounds (graph diameter exceeds what the rounds contract); "
        "raise max_iterations"
    )


def duplicated_span_fraction(
    docs: DataFrame,
    window: int = 20,
    stride: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document repeated-PASSAGE detection (the practical Spark
    shape of Lee et al.'s exact-substring dedup, "Deduplicating
    Training Data Makes Language Models Better"): overlapping
    ``window``-token spans at ``stride`` offsets are hashed; a span
    hash seen in >= 2 DISTINCT documents marks both occurrences as
    duplicated text.  Returns per-doc window counts and the duplicated
    fraction — the score pipelines threshold on before dropping or
    trimming documents.

    Differs from paragraph_dedup (p34: non-overlapping chunk
    first-occurrence at fixed boundaries): overlapping strides catch
    copied passages at ARBITRARY positions.  The suffix-array of the
    paper is a single-machine structure; the distributed equivalent
    trades stride granularity for two linear shuffles.

    100 TB: windows per doc = n_tokens/stride (linear emit); the span
    hashes are content-uniform so the groupBy is skew-safe, and the
    dup-hash set (usually tiny) broadcasts back onto the window
    stream.  No all-pairs anywhere.
    """
    toks = F.filter(
        F.split(F.lower(F.col(text_col)), r"\s+"), lambda x: x != ""
    )
    base = docs.select(F.col(id_col), toks.alias("_t")).filter(
        F.size("_t") >= window
    )
    starts = F.sequence(
        F.lit(0), F.size("_t") - F.lit(window), F.lit(stride)
    )
    wins = base.select(
        id_col,
        F.explode(starts).alias("_s"),
        F.col("_t"),
    ).select(
        id_col,
        F.md5(
            F.concat_ws(" ", F.slice(F.col("_t"), F.col("_s") + 1, window))
        ).alias("_h"),
    )
    dup = (
        wins.groupBy("_h")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("_h", F.lit(1).alias("_dup"))
    )
    flagged = wins.join(F.broadcast(dup), on="_h", how="left")
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).alias("n_dup"),
        )
        .withColumn(
            "dup_frac", F.round(F.col("n_dup") / F.col("n_windows"), 6)
        )
    )


def canonical_by_quality(
    nodes: DataFrame,
    pairs: DataFrame,
    quality_col: str = "label",
    id_col: str = "vec_id",
) -> DataFrame:
    """Quality-aware canonical selection per duplicate cluster: given the
    near-dup pair graph, keep the HIGHEST-quality member of each
    connected component (ties → lowest id) instead of the min-id member
    — what a real curation pipeline wants when duplicates differ in
    quality score.

    Composition: connected_components supplies (id, component); nodes
    absent from every pair are their own singleton component; one
    component-partitioned window picks the argmax.  At 100 TB the window
    partitions are dup clusters (bounded by near-dup cluster size, not
    corpus size), so no single task sees more than one cluster.

    Returns (id, component, quality, is_canonical) for every node.
    """
    from pyspark.sql import Window

    labels = connected_components(pairs)
    all_nodes = nodes.select(
        F.col(id_col).alias("id"), F.col(quality_col).alias("quality")
    )
    comp = all_nodes.join(labels, "id", "left").withColumn(
        "component", F.coalesce(F.col("component"), F.col("id"))
    )
    w = Window.partitionBy("component").orderBy(F.desc("quality"), F.asc("id"))
    return comp.withColumn(
        "is_canonical", F.row_number().over(w) == 1
    ).select("id", "component", "quality", "is_canonical")


def leakage_safe_split(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "vec_id",
    val_hex: tuple[str, ...] = ("0", "1", "2"),
) -> DataFrame:
    """Leakage-free train/validation split: assign every document a side
    such that all members of a near-dup cluster land on the SAME side —
    the split a training pipeline needs so eval examples are never
    near-duplicates of training examples (train/test contamination via
    duplication).

    Assignment is cluster-deterministic: side = f(md5(component)), with
    the first hex digit of the component id's md5 tested against
    ``val_hex`` (3 of 16 digits ≈ 18.75% validation).  Deterministic
    across runs, layouts and engines; no RNG state, no driver decisions.

    Scale shape: connected_components is bounded rounds of
    partition-local union-find (one shuffle linear in |edges| per round); the side column is
    pure codegen; the purity certificate is one window partitioned by
    component — task state bounded by cluster size, never corpus size.

    Returns (id, component, side, cluster_pure) for every node;
    ``cluster_pure`` must be uniformly true (pinned by the p57 oracle).
    """
    from pyspark.sql import Window

    labels = connected_components(pairs)
    comp = (
        nodes.select(F.col(id_col).alias("id"))
        .join(labels, "id", "left")
        .withColumn("component", F.coalesce(F.col("component"), F.col("id")))
    )
    digit = F.substring(F.md5(F.col("component").cast("string")), 1, 1)
    sided = comp.withColumn(
        "side", F.when(digit.isin(*val_hex), F.lit("val")).otherwise(F.lit("train"))
    )
    w = Window.partitionBy("component")
    return sided.withColumn(
        "cluster_pure", F.size(F.collect_set("side").over(w)) == 1
    ).select("id", "component", "side", "cluster_pure")
