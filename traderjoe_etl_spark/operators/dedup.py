"""Deduplication operators for large-scale corpus curation
(SURVEY.md §2B ◆ — the north-star LLM-data-pipeline mandate).

Three tiers, all shuffle-disciplined:

- minhash: shingle → minhash signature → LSH band buckets → within-bucket
           pair join (candidate pairs only — never an all-pairs product);
- simhash: 64-bit sign-of-weighted-sum fingerprint; near-dups share
           fingerprints at small Hamming distance;
- ngram Jaccard: exact similarity for a given candidate-pair set (the
           verifier behind minhash).

Everything is built-in expressions (xxhash64, md5, higher-order array
fns) — no Python UDFs anywhere in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens

# k-word shingles, 64 MinHash permutations in 16 LSH bands of 4 rows:
# P(candidate) ≈ 1-(1-j⁴)¹⁶, steep around Jaccard ≈ 0.5.
SHINGLE_K, NUM_HASHES, LSH_BANDS = 3, 64, 16


def _shingles_from_tokens(toks: Column) -> Column:
    """``SHINGLE_K``-word shingles from a pre-projected token-array column. ALWAYS
    project ``tokens(text)`` into its own column before calling this: the
    shingle expression references the token array three times (size
    guard, transform source, short-doc fallback), and a Generate node does
    NOT subexpression-eliminate — inlining the split re-tokenizes every
    row 3× (measured 1.7× slower on the sf1 corpus)."""
    n, k = F.size(toks), SHINGLE_K
    return F.when(n >= k, F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, k)),
    )).otherwise(F.array(F.concat_ws(" ", toks)))


MERSENNE31 = (1 << 31) - 1


def minhash_coeffs(n: int) -> list[tuple[int, int]]:
    """Deterministic universal-hash coefficients (a_i, b_i) for the
    portable MinHash family: ``h_i(x) = (a_i·x + b_i) mod (2^31−1)``.

    Fixed, documented constants (Knuth multiplicative constants on an
    index-Weyl sequence) so ANY engine can regenerate them: a_i is forced
    odd and < 2^30, keeping a_i·x < 2^62 for a 32-bit x — no overflow in
    signed 64-bit arithmetic on either side of the oracle."""
    out = []
    for i in range(n):
        a = ((2654435761 * (i + 1)) ^ 0x85EBCA6B) % (1 << 30) | 1
        b = (2246822519 * (i + 1) + 0x9E3779B9) % MERSENNE31
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """MinHash signature per document: (id, sig array<long>) of
    ``NUM_HASHES`` mins over ``SHINGLE_K``-word shingles.

    Plan shape matters here: explode shingles → hash each shingle string
    ONCE → 64 min-aggregates per doc. The k 'independent permutations' are
    derived from the fixed-width base hash — never of the string. An
    array-expression formulation (array_min(transform(...)) × 64) is NOT
    CSE'd by Catalyst and re-builds the shingle array per hash function —
    measured 64× slower; the explode+partial-agg form hashes each shingle
    exactly once and the shuffle carries only (id, 64 longs) per doc.

    ``hash_family="xxhash64"`` (default): permutation i is the seeded
    re-hash ``xxhash64(base, i)`` — engine-internal but fastest-possible
    inside Spark codegen.

    ``hash_family="portable"``: the textbook universal-hash construction —
    base ``x`` = first 8 hex chars of md5(shingle) as a 32-bit integer,
    permutation i = ``(a_i·x + b_i) mod (2^31−1)`` with the documented
    deterministic coefficients of :func:`minhash_coeffs` (a_i < 2^30 keeps
    the product inside a signed 64-bit long). Exact integer arithmetic any
    engine reproduces — the DuckDB oracle recomputes signatures
    independently — at ~the same cost as the xxhash64 family (one md5 per
    shingle, then 64 multiply-add-mods in codegen).

    ``hash_family="chained"``: the concat-free fast path — no shingle
    STRING is ever materialized. Each token hashes once
    (``transform(tokens, t -> xxhash64(t))``), and the shingle base hash
    is ``xxhash64(th[i], …, th[i+k−1])`` over the k consecutive token
    hashes (O(1) array loads on an unsafe long array — nothing rescans
    the document). Building the k-word shingle strings is the honest
    floor of the other two families (~26M string materializations at
    sf10 dominate; the hash itself is <25% — NOTES r3); this family
    removes that floor. Collision behavior is equivalent (64-bit mixing
    of the same k-token window); fingerprints are engine-internal, so
    pair-level correctness is covered by the family-independent pytest
    guarantees, not a SQL oracle.
    """
    # Shingle construction is CPU-heavy; if the scan has fewer input files
    # than cores (single small file locally), spread it. With a real multi-
    # file corpus the scan is already parallel and this is a no-op. File
    # count comes from inputFiles() — probing df.rdd.getNumPartitions()
    # would build the whole RDD conversion lineage just to read a number
    # (VERDICT r01 nit).
    sc = df.sparkSession.sparkContext
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < sc.defaultParallelism:
        df = df.repartition(sc.defaultParallelism)
    if hash_family == "chained":
        k = SHINGLE_K
        # token hashes projected ONCE (referenced by the guard, the window
        # transform, and the short-doc fallback — CollapseProject keeps a
        # non-cheap alias referenced >1x as a single evaluation)
        th = df.select(F.col(id_col), tokens(text_col).alias("__w")).select(
            F.col(id_col),
            F.transform("__w", lambda t: F.xxhash64(t)).alias("__th"),
        )
        n = F.size(F.col("__th"))
        window_hashes = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.xxhash64(
                *[F.element_at(F.col("__th"), i + F.lit(j)) for j in range(k)]
            ),
        )
        short_doc = F.array(
            F.aggregate(
                F.col("__th"),
                F.lit(0).cast("bigint"),
                lambda acc, h: F.xxhash64(acc, h),
            )
        )
        exploded = th.select(
            F.col(id_col),
            F.explode(F.when(n >= k, window_hashes).otherwise(short_doc)).alias("__h"),
        )
        terms = [f"min(xxhash64(__h, {i}))" for i in range(NUM_HASHES)]
        return exploded.groupBy(id_col).agg(
            F.expr("array(" + ", ".join(terms) + ") AS sig")
        )
    if hash_family == "xxhash64":
        base = F.xxhash64("__sh")
    else:
        base = F.expr("CAST(conv(substring(md5(__sh), 1, 8), 16, 10) AS BIGINT)")
    exploded = (
        df.select(F.col(id_col), tokens(text_col).alias("__w"))
        .select(
            F.col(id_col),
            F.explode(_shingles_from_tokens(F.col("__w"))).alias("__sh"),
        )
        .select(F.col(id_col), base.alias("__h"))
    )
    # ONE generated expression for all 64 mins: `array(min(...), ...)` is a
    # single F.expr -> a single py4j round trip + a single SQL parse, where
    # 64 separate agg Columns cost ~500 round trips ≈ 0.3 s of plan build
    # (profiled; same plan either way — aggregates inside array() are still
    # independent partial-agg min()s, the array assembles post-aggregation).
    if hash_family == "xxhash64":
        terms = [f"min(xxhash64(__h, {i}))" for i in range(NUM_HASHES)]
    else:
        terms = [
            f"min(({a} * __h + {b}) % {MERSENNE31})"
            for (a, b) in minhash_coeffs(NUM_HASHES)
        ]
    return exploded.groupBy(id_col).agg(F.expr("array(" + ", ".join(terms) + ") AS sig"))


def minhash_band_entries(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(``__id``, band_idx, band_hash) LSH band entries per document —
    the building block of in-corpus candidate pairing
    (:func:`minhash_lsh_candidates`). ``LSH_BANDS`` rows per doc; the band hash is
    murmur3 of the signature slice (default family — kept as its native
    INT since r12: the value is only ever an equi-join/group key, and a
    4-byte int in the band exchange and its sort keys replaces the old
    ~11-char decimal string rendering of the SAME value, shuffling ~4x
    fewer key bytes with identical collision behavior) or md5 of the
    decimal mins (portable family — any engine reproduces it, stays
    STRING)."""
    rows_per_band = NUM_HASHES // LSH_BANDS
    with_sig = minhash_signatures(df, id_col, text_col, hash_family=hash_family).select(
        F.col(id_col).alias("__id"), F.col("sig").alias("__sig")
    )

    def band_key(b):
        if hash_family == "portable":
            cols = ", ".join(
                f"CAST(__sig[{i}] AS STRING)"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            )
            return F.expr(f"md5(concat_ws(',', {cols}))")
        sl = F.slice(F.col("__sig"), b * rows_per_band + 1, rows_per_band)
        return F.hash(sl)

    return with_sig.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_idx"), band_key(b).alias("band_hash"))
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("__id", "band.band_idx", "band.band_hash")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_family: str = "xxhash64",
    pair_strategy: str = "self_join",
) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash + LSH banding.

    signature (``NUM_HASHES`` mins) → ``LSH_BANDS`` bands of
    ``NUM_HASHES/LSH_BANDS`` values → hash each band → explode →
    same-bucket pair generation.
    Two docs collide in ≥1 band ⇒ candidate pair. With 64 hashes / 16
    bands (r=4): P(collide) ≈ 1-(1-j⁴)¹⁶ — steep around Jaccard ≈ 0.5.

    ``pair_strategy="self_join"`` (default): the classic band-bucket
    equi-join over the persisted band entries — measured fastest at scale
    (sf10, 500k docs: 20.7 s vs 27.5 s for bucket_agg; the hash join
    streams, while collect_list pays per-bucket buffering over ~8M mostly-
    singleton buckets).

    ``pair_strategy="bucket_agg"``: ONE pass — group band entries by
    (band_idx, band_hash), sort-collect the bucket's doc ids, expand
    ordered pairs with an array-combination HOF, count bands per pair.
    The signature pipeline runs once with a single consumer, so there is
    no persist/localCheckpoint lifecycle and no cache-memory footprint —
    the right trade when executor storage memory is the constraint.

    Identical output either way. Both strategies share the same skew
    ceiling — a
    degenerate bucket of M near-identical docs yields M·(M−1)/2 pairs
    whether expanded in one task (bucket_agg) or hashed to one reducer
    (self_join); corpora with huge boilerplate-duplicate groups should cap
    or pre-collapse exact dups (dedup_exact) first.

    In the self_join form the join key is (band_idx, band_hash) so only
    same-bucket docs meet —
    the all-pairs O(n²) product never materializes. Returns distinct
    (id_a, id_b, n_bands_shared).
    """
    band_entries = minhash_band_entries(df, id_col, text_col, hash_family)
    if pair_strategy == "bucket_agg":
        # sort_array pins collect_list's nondeterministic order; pairing
        # each id with only its successors yields id_a < id_b exactly once.
        buckets = (
            band_entries.groupBy("band_idx", "band_hash")
            .agg(F.sort_array(F.collect_list("__id")).alias("ids"))
            .filter(F.size("ids") >= 2)
        )
        # Stream in-bucket pairs through TWO generators: posexplode the
        # member list, then explode each member's tail slice. A single
        # flatten(transform(...)) would materialize the whole k²/2 pair
        # array per bucket row before the generator — a degenerate
        # duplicate cluster (every copy shares every band) OOMs the
        # executor that way (observed at sf10); the two-generator form
        # keeps live memory O(k) and streams the k² rows into the
        # map-side-combined pair count.
        pairs = (
            buckets.select(F.posexplode("ids").alias("__i", "id_a"), "ids")
            .select(
                "id_a",
                F.explode(
                    F.expr("slice(ids, __i + 2, size(ids) - __i - 1)")
                ).alias("id_b"),
            )
        )
        return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_bands_shared"))
    if pair_strategy != "self_join":
        raise ValueError(f"unknown pair_strategy {pair_strategy!r}")
    # The self-join consumes band_entries twice; without persistence Spark
    # recomputes the whole signature pipeline per side. Persist is SCOPED:
    # the result is eagerly materialized (localCheckpoint truncates its
    # lineage) so the cache can be released before returning — callers get
    # a self-contained DataFrame and no storage-memory leak. At production
    # scale the equivalent is materializing signatures to a table once.
    band_entries = band_entries.persist()
    try:
        a = band_entries.select(F.col("__id").alias("id_a"), "band_idx", "band_hash")
        b = band_entries.select(F.col("__id").alias("id_b"), "band_idx", "band_hash")
        pairs = a.join(b, ["band_idx", "band_hash"]).filter(F.col("id_a") < F.col("id_b"))
        out = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_bands_shared"))
        return out.localCheckpoint(eager=True)
    finally:
        band_entries.unpersist()


def simhash_fingerprint(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document, rendered as 16 hex chars.

    explode tokens → hash → per-bit signed vote (+1/-1) summed per doc →
    sign → reassembled fingerprint. One shuffle on the doc id; the 64
    conditional sums are one partial-aggregated pass.

    The token hash is the first 16 hex chars of md5, read as four 16-bit
    chunks (chunk c = hex chars 4c+1..4c+4, bit i = (chunk[i//16] >>
    (i%16)) & 1), and the fingerprint is rendered ``%04x`` per chunk
    left-to-right — every step is exact integer arithmetic any engine
    reproduces, so the fingerprints (and everything derived from them) can
    be verified outside Spark.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(tokens(text_col)).alias("__tok"),
    )
    # Fused expression banks: ONE array(sum(...)×64) aggregate + ONE
    # projection expr — 2 py4j round trips / SQL parses instead of ~65
    # (see minhash_signatures; measured ~0.3 s of plan build per query).
    votes = ", ".join(
        f"sum(CASE WHEN (shiftright(__c{i // 16}, {i % 16}) & 1) = 1 THEN 1 ELSE -1 END)"
        for i in range(64)
    )
    per_doc = (
        toks.selectExpr(
            id_col,
            *[
                f"CAST(conv(substring(md5(__tok), {4 * c + 1}, 4), 16, 10) AS INT) AS __c{c}"
                for c in range(4)
            ],
        )
        .groupBy(id_col)
        .agg(F.expr(f"array({votes}) AS __v"))
    )
    keys = [
        " | ".join(
            f"shiftleft(CASE WHEN __v[{16 * c + b}] > 0 THEN 1 ELSE 0 END, {b})"
            for b in range(16)
        )
        for c in range(4)
    ]
    fp = "lower(format_string('%04x%04x%04x%04x', " + ", ".join(f"({k})" for k in keys) + "))"
    return per_doc.select(F.col(id_col), F.expr(f"{fp} AS simhash"))


def ngram_jaccard_pairs(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """Exact ``SHINGLE_K``-gram Jaccard similarity for given candidate pairs
    (``pairs``: columns id_a, id_b) over ``docs`` (doc_id, text).
    |A∩B| / |A∪B| via array set ops after
    joining each side's distinct shingle set — only candidate pairs pay the
    set-intersection cost.

    Shingle identity is the chained-xxhash64 family since r12 (the
    distinct_ngram_diversity / minhash-"chained" construction): each token
    hashes once, a k-window combines the k consecutive token HASHES, and a
    short doc (< k tokens) folds its token hashes — so no shingle string is
    ever materialized, the per-doc set is an array<long> instead of
    array<string> (~4x fewer bytes through the two verify-join exchanges),
    and array_intersect/union compare 8-byte longs. |distinct hashes| =
    |distinct shingles| absent 64-bit collisions (P ≈ s²/2^65 per doc —
    the repo's established surrogate-key convention; the hash never
    reaches the output), so the jaccard VALUE is unchanged: measured
    set-equal to the string form over 75,208 verified pairs at sf10, and
    the brute-force string-based DuckDB oracles of every consumer
    hash-pass. Short-vs-window equality semantics are preserved exactly:
    as strings a (<k)-token shingle can never equal a k-token window (a
    token cannot contain whitespace, so the space counts differ), and here
    the two use different hash constructions, colliding only by 64-bit
    accident.

    The shingle-set projection is the expensive part, so docs are
    SEMI-JOINED to the candidate-pair id set BEFORE it: verification cost
    scales with |candidate docs|, not |corpus| (with a small candidate set
    AQE plans the semi join as a broadcast — a map-side filter on the scan;
    measured 19.5 → ~6 s at sf10 where ~1M docs held ~10³ candidates;
    the r12 hashed sets then took the sf10 verify pass over 75k candidate
    pairs from 4.6 to 1.8 s).
    No forced broadcast hint: a degenerate duplicate cluster makes the
    candidate id set corpus-sized, and F.broadcast() would override the
    size threshold and ship it to every task — AQE picks broadcast vs
    shuffle from the measured size instead. Results are identical —
    pairs only ever reference their own ids."""
    k = SHINGLE_K
    cand_ids = (
        pairs.select(F.col("id_a").alias("__id"))
        .union(pairs.select(F.col("id_b").alias("__id")))
        .distinct()
    )
    pruned = docs.join(
        cand_ids,
        docs["doc_id"] == cand_ids["__id"],
        "left_semi",
    )
    # token hashes projected once (see _shingles_from_tokens / minhash chained family)
    th = pruned.select(F.col("doc_id").alias("__id"), tokens("text").alias("__w")).select(
        "__id", F.transform("__w", lambda t: F.xxhash64(t)).alias("__th")
    )
    n = F.size(F.col("__th"))
    window_hashes = F.transform(
        F.sequence(F.lit(1), n - (k - 1)),
        lambda i: F.xxhash64(*[F.element_at(F.col("__th"), i + F.lit(j)) for j in range(k)]),
    )
    short_doc = F.array(
        F.aggregate(F.col("__th"), F.lit(0).cast("bigint"), lambda acc, h: F.xxhash64(acc, h))
    )
    sh = th.select(
        "__id",
        F.array_distinct(F.when(n >= k, window_hashes).otherwise(short_doc)).alias("__sh"),
    )
    out = (
        pairs.join(sh.withColumnRenamed("__id", "id_a").withColumnRenamed("__sh", "__sh_a"), "id_a")
        .join(sh.withColumnRenamed("__id", "id_b").withColumnRenamed("__sh", "__sh_b"), "id_b")
    )
    inter = F.size(F.array_intersect("__sh_a", "__sh_b"))
    union = F.size(F.array_union("__sh_a", "__sh_b"))
    return out.select(
        "id_a",
        "id_b",
        (inter.cast("double") / F.nullif(union, F.lit(0))).alias("jaccard"),
    )
