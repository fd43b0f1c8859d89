"""ngrams / context_ngrams — Hive UDAFs with no Spark builtin.

Reference: ql/.../udf/generic/GenericUDAFnGrams.java (FunctionRegistry.java:398)
estimates the top-k most frequent n-grams in a text column;
GenericUDAFContextNGrams.java (:399) does the same restricted to n-grams
matching a context pattern (fixed words + NULL wildcards).

Hive's implementation is an in-memory NGramEstimator heap per group.  The
Spark-first re-expression is a *distributed exact* computation instead of a
bounded-memory estimate: explode n-grams → groupBy(count) → top-k.  At
100 TB this is one shuffle keyed by n-gram (map-side partial aggregation
collapses duplicates before the exchange), which both scales better and is
exact — strictly stronger than the reference's single-heap estimate.

Everything stays in JVM builtins (split / transform / sequence / explode) —
no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _grams_over_words(words: Column, n: int) -> Column:
    """Array of the n-gram strings of an already-projected words
    column (slide an n-window over indices 1..size-n+1).  The caller
    binds the ``split`` to a column first: referencing it inline from
    the transform lambda made Catalyst re-evaluate the split once per
    window index, O(words²) per row (round 13, guide §1.2: 2.86 s →
    0.34 s over 5000 docs)."""
    return F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice(words, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def ngrams(df: DataFrame, text_col: str, n: int, k: int) -> DataFrame:
    """Top-k n-grams with exact frequencies.

    Returns (ngram string, freq bigint) ordered by freq desc, ngram asc —
    the deterministic ordering makes the result oracle-comparable.
    """
    words = df.select(F.split(F.lower(F.col(text_col)), r"\s+").alias("w"))
    return (
        words.select(F.explode(_grams_over_words(F.col("w"), n)).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("ngram"))
        .limit(k)
    )


def context_ngrams(
    df: DataFrame, text_col: str, context: list[str | None], k: int
) -> DataFrame:
    """Hive context_ngrams: ``context`` is a word pattern where None is a
    wildcard hole; returns the top-k fillings of the holes.

    E.g. context ['data', None] → most frequent words following 'data'.
    """
    n = len(context)
    toks = df.select(F.split(F.lower(F.col(text_col)), r"\s+").alias("tw"))
    grams = F.explode(_grams_over_words(F.col("tw"), n)).alias("gram")
    out = toks.select(grams).select(F.split(F.col("gram"), " ").alias("w"))
    cond = F.lit(True)
    for i, word in enumerate(context):
        if word is not None:
            cond = cond & (F.col("w")[i] == F.lit(word.lower()))
    holes = [i for i, word in enumerate(context) if word is None]
    filling = F.concat_ws(" ", *[F.col("w")[i] for i in holes]).alias("ngram")
    return (
        out.filter(cond)
        .select(filling)
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.asc("ngram"))
        .limit(k)
    )
