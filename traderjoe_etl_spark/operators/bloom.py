"""Bloom-filter prefilter join.

The 100-TB join-pushdown pattern between "broadcast the dim" and "shuffle
both sides": when the build side is too large to broadcast as rows (say
10^8 customer keys) but its *membership* fits in a few MB of bits, build a
Bloom filter over the build keys, broadcast the bitmap as a literal, and
filter the probe (fact) scan BEFORE its shuffle. False positives survive
the prefilter but are removed by the exact join that follows, so the final
result is byte-identical to the plain join — the bloom only shrinks the
shuffle. Spark's own runtime bloom filters
(``spark.sql.optimizer.runtime.bloomFilter.enabled``) do this
automatically in narrow cases; this operator makes the pattern explicit,
tunable, and usable on any key expression.

Construction is fully distributed and uses only built-ins:

1. per-key bit positions: k = ``num_hashes`` probes, position_i =
   ``xxhash64(key, seed=i) mod m`` (one ``explode`` of a small literal
   seed array — no Python),
2. bitmap words: ``groupBy(position / 64)`` + ``bit_or(1 << (position %
   64))`` — a map-side-combined aggregate whose shuffle carries at most
   ``m/64`` longs regardless of build rows,
3. the (word_index → word) pairs collect to the driver (``m/64`` longs —
   for m = 2^23 bits that is 128 KiB; by construction sub-MB) and embed
   in the probe plan as a dense array literal,
4. membership test: for each seed, ``(words[pos >> 6] >> (pos & 63)) & 1``
   — a pure JVM expression, whole-stage-codegen'd into the probe scan, so
   the filter sits ON the scan before any Exchange.

Two build regimes (picked automatically in :func:`bloom_prefilter_join`
from the build side's approx key count):

- bitmap <= 2^21 bits (r12 re-measured crossover — see MAX_LITERAL_BITS):
  the literal path above — the membership test codegens INTO the scan,
  composing with Parquet pushdown;
- larger: :func:`native_bloom_prefilter` — the same distributed bitmap
  aggregation, but densified executor-side into ONE array<long> row and
  carried as a broadcast VALUE via a 1-row join, so a 10^8-key / ~10^9-bit
  build never touches the driver or the plan text; the membership test
  still runs before the probe's exchange, and the whole plan is LAZY —
  no plan-construction driver job at all.

Reference anchor: the pipeline's user×pool work list joined against
history (main.py:182-183) is the small-scale instance; at 100 TB the
"history" side is the fact table and the work list is the build side.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _optimal_bits(n_keys: int, fpp: float) -> int:
    """Standard Bloom sizing: m = -n ln(p) / (ln 2)^2, rounded up to a
    multiple of 64 with a small floor so tiny builds stay well-behaved."""
    m = int(-n_keys * math.log(fpp) / (math.log(2) ** 2)) + 1
    return max(256, (m + 63) // 64 * 64)


def _positions(key: Column, num_hashes: int, m_bits: int) -> Column:
    """Array of ``num_hashes`` bit positions for a key.

    ``xxhash64`` with distinct seeds gives independent-enough hash
    functions; ``pmod`` keeps positions non-negative."""
    return F.array(
        *[F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(num_hashes)]
    )


def build_bloom(
    build: DataFrame,
    key: str | Column,
    *,
    expected_keys: int | None = None,
    fpp: float = 0.01,
    num_hashes: int = 5,
) -> tuple[list[int], int, int]:
    """Aggregate the build side into a Bloom bitmap.

    Returns ``(words, m_bits, num_hashes)`` where ``words`` is the dense
    ``m_bits / 64``-long bitmap. The only driver-side data is the bitmap
    itself (sub-MB by sizing); build rows never leave the executors
    un-aggregated — the shuffle after the partial ``bit_or`` carries at
    most one row per bitmap word.
    """
    key_col = F.col(key) if isinstance(key, str) else key
    if expected_keys is None:
        expected_keys = build.select(key_col.alias("k")).agg(
            F.approx_count_distinct("k").alias("n")
        ).collect()[0]["n"]
    m_bits = _optimal_bits(max(1, expected_keys), fpp)

    pos = build.select(
        F.explode(_positions(key_col, num_hashes, m_bits)).alias("pos")
    )
    # shiftleft with a *column* bit count needs call_function — the
    # python wrapper only takes a literal int.
    one_hot = F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.pmod("pos", F.lit(64)).cast("int")
    )
    words = (
        pos.groupBy(F.call_function("shiftright", F.col("pos"), F.lit(6)).alias("word_idx"))
        .agg(F.bit_or(one_hot).alias("word"))
        .collect()
    )
    dense = [0] * (m_bits // 64)
    for row in words:
        dense[row["word_idx"]] = row["word"]
    return dense, m_bits, num_hashes


def might_contain(key: Column, words: list[int], m_bits: int, num_hashes: int) -> Column:
    """Pure-JVM membership predicate over a literal bitmap.

    ``element_at`` is 1-based; the whole expression inlines into the scan
    stage (no UDF, no join), so Parquet row groups still prune on any
    other pushed filters and the bloom test rides whole-stage codegen.

    NULL keys test deterministically FALSE (a NULL equi-join key can never
    match, so dropping it is exact for the inner/semi joins this guards;
    without the guard, ``xxhash64`` would skip the NULL argument and hash
    the bare seed — admitting or rejecting NULL rows by bitmap accident)."""
    bitmap = F.lit(words)
    test = key.isNotNull()
    for i in range(num_hashes):
        pos = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits))
        word = F.element_at(
            bitmap, F.call_function("shiftright", pos, F.lit(6)).cast("int") + F.lit(1)
        )
        bit = (
            F.call_function("shiftright", word, F.pmod(pos, F.lit(64)).cast("int"))
            .bitwiseAND(F.lit(1))
            == F.lit(1)
        )
        test = test & bit
    return test


# Above this bitmap size the literal-embedding build stops being sensible.
# r12 re-measured the crossover (sf10, 15M probe rows): a 225k-word
# (14.4M-bit) literal cost ~145 s of plan build + 30 s per execution —
# py4j transfer of the word list plus a constant pool far past codegen
# limits — while the SAME bitmap as a broadcast VALUE (native path) built
# in 0.4 s and executed FASTER than the r11 22.5k-word literal (1.6 vs
# 2.5 s warm). 2^21 bits = 32k words = 256 KiB literal stays comfortably
# inside the regime measured healthy (22.5k words); anything bigger rides
# the native broadcast-value path, which also runs zero driver jobs.
MAX_LITERAL_BITS = 1 << 21


def native_bloom_prefilter(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    *,
    expected_keys: int,
    fpp: float = 0.01,
    num_hashes: int = 5,
) -> DataFrame:
    """Big-build Bloom prefilter with the bitmap as a broadcast VALUE — a
    1-row ``array<long>`` aggregate joined with a broadcast hint — never a
    plan literal, so it scales to the 10^8-key builds where the literal
    path's constant-pool cost explodes. Construction is the same
    distributed ``bit_or`` aggregate as the literal path (map-side
    combined, shuffle bounded by m/64 words), densified executor-side; the
    probe filter sits after a 1-row broadcast nested-loop join and still
    runs BEFORE the probe's exchange, which is the point — only
    plausibly-matching rows shuffle.

    Same exactness contract as the literal path: false positives are
    removed by the exact join that follows; NULL probe keys are dropped
    deterministically (``isNotNull`` guard). The bitmap row is one
    ``array<long>`` of ``m/64`` words — sane to a few hundred MB (10^9
    bits ≈ 125 MB), far past where the literal path's plan-embedding cost
    explodes. (Spark's internal BloomFilterAggregate expression would be
    the zero-copy ideal, but it is not exposed in the public function
    registry; this build keeps the SAME xxhash64 family on both sides
    using only public operators.)"""
    m_bits = _optimal_bits(max(1, expected_keys), fpp)
    n_words = m_bits // 64
    key_col = F.col(build_key)
    pos = build.select(F.explode(_positions(key_col, num_hashes, m_bits)).alias("pos"))
    one_hot = F.call_function(
        "shiftleft", F.lit(1).cast("long"), F.pmod("pos", F.lit(64)).cast("int")
    )
    # densify by UNIONING an all-zero word per index (spark.range — a
    # parallel executor-side range, no driver data) into the same bit_or
    # aggregate, then array_sort(collect_list(struct)) assembles the dense
    # bitmap in O(n log n). The previous map_from_entries + per-index
    # element_at densify was O(n^2): GetMapValue on ArrayBasedMapData is a
    # LINEAR scan, and at 225k words (1.5M keys) the single densify row
    # cost ~5e10 comparisons — measured minutes of wall where this form is
    # sub-second (r12).
    zeros = build.sparkSession.range(n_words).select(
        F.col("id").alias("word_idx"), F.lit(0).cast("long").alias("word")
    )
    entries = pos.select(
        F.call_function("shiftright", F.col("pos"), F.lit(6)).alias("word_idx"),
        one_hot.alias("word"),
    ).unionByName(zeros)
    words = entries.groupBy("word_idx").agg(F.bit_or(F.col("word")).alias("word"))
    bf = words.agg(
        F.array_sort(F.collect_list(F.struct("word_idx", "word"))).alias("__e")
    ).select(
        F.transform(F.col("__e"), lambda s: s["word"]).alias("__bloom_words")
    )
    joined = probe.join(F.broadcast(bf))
    test = F.col(probe_key).isNotNull()
    bitmap = F.col("__bloom_words")
    for i in range(num_hashes):
        p = F.pmod(F.xxhash64(F.col(probe_key), F.lit(i)), F.lit(m_bits))
        word = F.element_at(
            bitmap, F.call_function("shiftright", p, F.lit(6)).cast("int") + F.lit(1)
        )
        bit = (
            F.call_function("shiftright", word, F.pmod(p, F.lit(64)).cast("int"))
            .bitwiseAND(F.lit(1))
            == F.lit(1)
        )
        test = test & bit
    return joined.where(test).drop("__bloom_words")


def bloom_prefilter_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
    *,
    how: str = "inner",
    fpp: float = 0.01,
    num_hashes: int = 5,
    max_literal_bits: int = MAX_LITERAL_BITS,
    expected_keys: int | None = None,
) -> DataFrame:
    """Exact equi-join with a Bloom prefilter on the probe side.

    Semantically identical to ``probe.join(build, on, how)`` for
    ``how in ("inner", "semi" / "left_semi")`` — the bloom admits false
    positives, and the exact join removes them; true matches always pass
    (no false negatives). The win is that the probe's shuffle (or its
    semi-join scan) only carries rows whose key is plausibly present:
    at fpp=1% a 99%-selective join moves ~1% of the fact table plus noise.

    ``expected_keys`` (r12, guide §5 — keep plan construction off the
    driver's critical path): an UPPER BOUND on the build side's distinct
    keys, supplied from a metadata stat (e.g. ``tables.table_rows``'s
    parquet-footer count). When given, the plan-construction
    ``approx_count_distinct`` job — a full build-side scan before the
    query proper — is skipped entirely. Overestimating only enlarges the
    bitmap (fewer false positives, same exact result); the regime pick
    (literal vs broadcast-value) follows the bound the same way it
    followed the measured count. Underestimating is the failure mode: the
    bitmap is sized for too few keys, so it fills up and the effective
    fpp rises, ``(1 - exp(-k·n/m))^k`` for n real keys in m bits — at the
    default fpp=1% and k=5, 2× too few keys gives ~11% and 10× too few
    ~97%, so the prefilter passes nearly every probe row. The result stays
    exact either way; only the saving is lost. ``0`` or ``None`` falls
    back to the ``approx_count_distinct`` scan.
    """
    if how not in ("inner", "semi", "left_semi", "leftsemi"):
        raise ValueError(f"bloom prefilter preserves exactness only for inner/semi joins, got {how!r}")
    key_col = F.col(build_key)
    n_keys = expected_keys
    if not n_keys:
        n_keys = build.select(key_col.alias("k")).agg(
            F.approx_count_distinct("k").alias("n")
        ).collect()[0]["n"]
    if _optimal_bits(max(1, n_keys), fpp) > max_literal_bits:
        # big build: bitmap as a broadcast value, not a plan literal
        pref = native_bloom_prefilter(
            probe, build, probe_key, build_key,
            expected_keys=n_keys, fpp=fpp, num_hashes=num_hashes,
        )
    else:
        words, m_bits, k = build_bloom(
            build, build_key, expected_keys=n_keys, fpp=fpp, num_hashes=num_hashes
        )
        pref = probe.where(might_contain(F.col(probe_key), words, m_bits, k))
    if how in ("semi", "left_semi", "leftsemi"):
        return pref.join(build, pref[probe_key] == build[build_key], "left_semi")
    return pref.join(build, pref[probe_key] == build[build_key], "inner")
