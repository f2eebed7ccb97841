"""Benchmark decontamination — n-gram overlap between a training corpus and
an evaluation/benchmark set (north-star training-data op; the step every
large-scale pretraining pipeline runs before training).

Method (the standard published recipe): lowercase-tokenize both sides,
build word n-grams (n≈8–13), hash each n-gram, and flag any training
document that shares at least one n-gram hash with the benchmark. The
benchmark side is small by construction (eval sets are megabytes), so its
distinct hash set broadcasts and the whole check is:

    train scan → explode n-grams → hash → broadcast-semi/inner join → count

One exchange (the per-doc count), no all-pairs product, and the train-side
shuffle carries 8-byte n-gram hashes, not documents. At 100 TB the cost is
the tokenize+explode map pass — linear, partition-parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Words per n-gram of ``contamination_report``.
NGRAM_N = 4


def tokens(text_col: str | Column) -> Column:
    """Lowercased whitespace tokens with empties dropped (leading/trailing
    whitespace would otherwise produce '' tokens that differ between
    engines' split semantics)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda w: w != F.lit(""))


def ngram_hashes(token_hashes: Column, n: int) -> Column:
    """Hashes of the word n-grams of a document, from a pre-projected
    array of its TOKEN hashes (``transform(tokens, t -> xxhash64(t))``):
    each n-gram hash combines the n consecutive token hashes in one
    codegen'd xxhash64, so no n-gram STRING is ever built and the exploded
    stream carries 8-byte longs. Documents shorter than ``n`` words
    contribute no n-grams (no fallback — a short doc cannot be
    contaminated at this n). The array MUST be a projected column:
    Generate does not CSE its child (see dedup._tokens).

    Hash equality ⟺ n-gram string equality up to 64-bit collisions (the
    repo's surrogate-key convention — the hash itself never reaches any
    output). The 64-bit bound: N distinct n-grams (corpus plus benchmark)
    expect about N²/2⁶⁵ colliding pairs, i.e. ~3·10⁻⁴ at N = 10⁸ and one
    expected collision at N ≈ 2³²·⁵ ≈ 6·10⁹. A collision can add a false
    match or merge two shared n-grams into one count, but never unflags a
    contaminated document; the token-hash level adds V²/2⁶⁵ for a V-token
    vocabulary, negligible beside it. The hashes are Spark-specific; the
    DuckDB oracle recomputes the shared-n-gram counts independently over
    md5 digests of the n-gram strings."""
    return F.when(
        F.size(token_hashes) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(token_hashes) - (n - 1)),
            lambda i: F.xxhash64(*[F.element_at(token_hashes, i + F.lit(j)) for j in range(n)]),
        ),
    ).otherwise(F.array().cast("array<bigint>"))


def contamination_report(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Per-training-document count of distinct ``NGRAM_N``-gram hashes
    shared with the benchmark set → ``(id_col, n_shared_ngrams)``, contaminated docs
    only. Callers drop or quarantine the flagged ids.

    Join order is the whole ballgame at corpus scale: the broadcast
    membership filter runs FIRST, directly on the exploded train stream
    (map-side, fused into the scan stage), so the corpus's n-grams are
    never shuffled — only the matching (id, hash) pairs, a benchmark-
    bounded trickle, reach the distinct-count exchange. Deduplicating the
    exploded corpus before the join instead was measured 3.3× slower at
    the 500k-doc bench scale, 38→12 s (a full-corpus shuffle that the
    filter then throws away)."""
    def explode_hashes(df: DataFrame) -> DataFrame:
        # hash each token once, chain windows over the hash array — no
        # n-gram string, no digest (see ngram_hashes)
        toks = df.select(id_col, tokens(text_col).alias("__toks")).select(
            id_col, F.transform("__toks", lambda t: F.xxhash64(t)).alias("__toks")
        )
        return toks.select(id_col, F.explode(ngram_hashes(F.col("__toks"), NGRAM_N)).alias("__h"))

    bench_hashes = explode_hashes(benchmark).select("__h").distinct()
    return (
        explode_hashes(train)
        .join(F.broadcast(bench_hashes), "__h")
        .groupBy(id_col)
        .agg(F.count_distinct(F.col("__h")).alias("n_shared_ngrams"))
    )
