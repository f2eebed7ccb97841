"""Unit tests for operators lacking a SQL oracle (SURVEY.md §5: rows-only
ops get property/quality checks instead)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from traderjoe_etl_spark.operators.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_fingerprint,
)
from traderjoe_etl_spark.operators.joins import asof_join
from traderjoe_etl_spark.operators.similarity import (
    cosine_near_dup_pairs,
    cosine_topk_brute,
)
from traderjoe_etl_spark.sources.tables import read_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return read_table(spark, sf_dir, "embeddings")


def test_minhash_candidates_are_real_near_dups(spark, docs):
    """Every LSH candidate pair should have high exact Jaccard (precision),
    and pairs sharing many bands should rank higher."""
    cand = minhash_lsh_candidates(docs, "doc_id", "text")
    verified = ngram_jaccard_pairs(docs, cand).collect()
    assert len(verified) > 0
    jac = [r.jaccard for r in verified]
    assert min(jac) > 0.5  # 16-band/4-row curve is steep around 0.5
    assert sum(j > 0.8 for j in jac) / len(jac) > 0.8


def test_minhash_recall_on_known_duplicates(spark):
    """Planted near-duplicates (one word changed in 50) must be found."""
    base = " ".join(f"w{i}" for i in range(50))
    variant = base.replace("w25", "zz")
    rows = [(1, base), (2, variant)] + [
        (i, " ".join(f"u{i}_{j}" for j in range(50))) for i in range(3, 40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cand = {(r.id_a, r.id_b) for r in minhash_lsh_candidates(df, "doc_id", "text").collect()}
    assert (1, 2) in cand


def test_minhash_chained_family_recall_and_precision(spark, docs):
    """The concat-free chained family (per-token xxhash64, k-window
    combined hash — no shingle string ever built) must behave like the
    string families: identical token sequences get identical signatures,
    planted near-duplicates are recalled, and candidates verify at high
    exact Jaccard. Near-dup collision sets may differ from other families
    per instance — that randomness is MinHash itself, so only
    family-independent guarantees are asserted."""
    from traderjoe_etl_spark.operators.dedup import minhash_signatures

    base = " ".join(f"w{i}" for i in range(50))
    variant = base.replace("w25", "zz")
    rows = [(1, base), (2, variant), (100, base), (101, "tiny doc")] + [
        (i, " ".join(f"u{i}_{j}" for j in range(50))) for i in range(3, 40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {
        r["doc_id"]: tuple(r["sig"])
        for r in minhash_signatures(df, "doc_id", "text", hash_family="chained").collect()
    }
    assert sig[1] == sig[100]  # exact dup -> identical signature
    assert len(sig[101]) == 64  # short-doc fallback produces a full signature
    cand = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_candidates(df, "doc_id", "text", hash_family="chained").collect()
    }
    assert (1, 2) in cand and (1, 100) in cand

    verified = ngram_jaccard_pairs(
        docs, minhash_lsh_candidates(docs, "doc_id", "text", hash_family="chained")
    ).collect()
    assert len(verified) > 0
    assert min(r.jaccard for r in verified) > 0.5


def test_simhash_near_dups_have_small_hamming(spark):
    base = " ".join(f"w{i}" for i in range(60))
    variant = base.replace("w30", "zz")
    other = " ".join(f"q{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base), (2, variant), (3, other)], "doc_id long, text string"
    )
    fp = {r.doc_id: int(r.simhash, 16) for r in simhash_fingerprint(df, "doc_id", "text").collect()}
    d_near, d_far = (fp[1] ^ fp[2]).bit_count(), (fp[1] ^ fp[3]).bit_count()
    assert d_near < d_far
    assert d_near <= 8  # one word in 60 flips few bits


def test_cosine_topk_brute_is_exact(spark, emb):
    """Brute-force top-k must equal a numpy-computed ground truth, ranked on
    the 6-decimal grid with ties by id."""
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    corpus = emb.filter(F.col("vec_id") != 0)
    expected = _np_cosine_topk(corpus.collect(), [(0, qdf.first().qv)], k=10, digits=6)
    got = [r.vec_id for r in cosine_topk_brute(corpus, qdf, k=10, impl="const").collect()]
    assert got == [v for _, v, _ in expected]


def test_cosine_near_dup_pairs_symmetric_and_thresholded(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.999, 0.01, 0.0]),  # near-dup of 1
        (3, [0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = cosine_near_dup_pairs(df, threshold=0.99, dim=3, n_planes=4).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}
    assert all(r.cosine >= 0.99 for r in pairs)


def test_cosine_near_dup_arrow_matches_hof(spark, sf_dir):
    """The per-bucket GEMM kernel (the skewed-bucket scale path) must emit
    the same pair set and 6dp-identical cosines as the HOF pair join."""
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.sources.tables import read_table

    emb = read_table(spark, sf_dir, "embeddings")

    def run(impl):
        return (
            cosine_near_dup_pairs(emb, 0.35, 64, n_planes=4, impl=impl)
            .select("id_a", "id_b", F.round("cosine", 6).alias("c"))
        )

    hof, arrow = run("hof"), run("arrow")
    assert hof.count() > 0  # non-vacuous
    assert hof.subtract(arrow).count() == 0
    assert arrow.subtract(hof).count() == 0


def test_cosine_near_dup_degenerate_bucket_bounded(spark, monkeypatch):
    """A degenerate all-identical-embedding cluster — unsplittable by ANY
    extra hyperplane, since identical vectors share every sign bit — must
    flow through the bounded block-pair path when its bucket exceeds
    MAX_BUCKET_ROWS: no kernel group materializes more than ~2 blocks of
    rows, and the pair output is identical to the HOF join (every
    unordered pair scored exactly once)."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.operators import similarity
    from traderjoe_etl_spark.operators.similarity import (
        _block_assignments,
        lsh_bucket_key,
        random_hyperplanes,
    )

    rng = np.random.default_rng(7)
    base = [float(x) for x in rng.normal(size=8)]
    other = [float(x) for x in rng.normal(size=8)]
    rows = [(i, base) for i in range(200)] + [(1000 + i, other) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cap = 32

    def run(impl):
        return cosine_near_dup_pairs(
            emb, threshold=0.9, dim=8, n_planes=4, impl=impl
        ).select("id_a", "id_b", F.round("cosine", 6).alias("c"))

    monkeypatch.setattr(similarity, "MAX_BUCKET_ROWS", cap)  # the 200-row bucket goes over
    arrow = run("arrow")
    hof = run("hof")
    n_pairs = arrow.count()
    assert n_pairs >= 200 * 199 // 2 + 10  # both identical clusters fully paired
    assert hof.subtract(arrow).count() == 0
    assert arrow.subtract(hof).count() == 0

    # the bounded path's group sizes: the 200-row bucket splits into
    # ceil(200/32)=7 blocks -> 28 block-pair groups, each holding two
    # hash-assigned blocks (~57 rows expected) — never the whole bucket
    planes = random_hyperplanes(8, 4)
    b = emb.select(
        F.col("vec_id").alias("__id"),
        F.col("embedding").alias("__v"),
        lsh_bucket_key("embedding", planes).alias("__bucket"),
    )
    cnt = b.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__cnt"))
    big = b.join(cnt, "__bucket").filter(F.col("__cnt") > cap)
    sizes = (
        _block_assignments(big, cap)
        .groupBy("__bucket", "__i", "__j")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    nb = math.ceil(200 / cap)
    assert len(sizes) == nb * (nb + 1) // 2
    assert max(r.n for r in sizes) <= 4 * cap
    assert max(r.n for r in sizes) < 200  # strictly below the bucket size


def test_cosine_near_dup_arrow_string_ids(spark, monkeypatch):
    """The arrow kernel must carry NON-integral ids end-to-end (output
    schema follows the id type; numpy code-point comparisons == Spark's
    UTF8_BINARY byte order), through BOTH the per-bucket path and the
    over-cap block-pair path (a cap of 8 forces it for the duplicate
    cluster)."""
    from traderjoe_etl_spark.operators import similarity

    import numpy as np

    rng = np.random.default_rng(3)
    base = [float(x) for x in rng.normal(size=8)]
    rows = [(f"doc-{i:03d}", base) for i in range(30)] + [
        (f"zz-{i}", [float(x) for x in rng.normal(size=8)]) for i in range(6)
    ]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")

    def run(impl):
        return cosine_near_dup_pairs(
            emb, threshold=0.9, dim=8, n_planes=4, impl=impl
        ).select("id_a", "id_b", F.round("cosine", 6).alias("c"))

    hof = run("hof")
    monkeypatch.setattr(similarity, "MAX_BUCKET_ROWS", 8)
    arrow = run("arrow")
    assert dict(arrow.dtypes)["id_a"] == "string"
    assert arrow.count() >= 30 * 29 // 2
    assert hof.subtract(arrow).count() == 0
    assert arrow.subtract(hof).count() == 0


def test_asof_join_matches_pandas_merge_asof(spark):
    import pandas as pd

    left = pd.DataFrame(
        {
            "k": ["a", "a", "a", "b", "b"],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 11:30", "2024-01-01 09:00",
                 "2024-01-01 10:00", "2024-01-02 00:00"]
            ),
            "lv": [1, 2, 3, 4, 5],
        }
    )
    right = pd.DataFrame(
        {
            "k": ["a", "a", "b"],
            "rts": pd.to_datetime(["2024-01-01 09:30", "2024-01-01 11:00", "2024-01-01 12:00"]),
            "rv": [10.0, 20.0, 30.0],
        }
    )
    expected = pd.merge_asof(
        left.sort_values("ts"), right.sort_values("rts"),
        left_on="ts", right_on="rts", by="k", direction="backward",
    ).sort_values("lv")

    out = asof_join(
        spark.createDataFrame(left),
        spark.createDataFrame(right),
        keys=["k"], left_ts="ts", right_ts="rts",
    ).toPandas().sort_values("lv")

    for _, e in expected.iterrows():
        o = out[out.lv == e.lv].iloc[0]
        if pd.isna(e.rts):
            assert pd.isna(o.asof_rts)
        else:
            assert o.asof_rts == e.rts, (e.lv, o.asof_rts, e.rts)


def test_portable_minhash_matches_pure_python(spark):
    """Third-engine reproducibility: the portable family's signatures must
    be recomputable from the documented construction (md5-prefix base +
    minhash_coeffs) with nothing but hashlib — not just by DuckDB."""
    import hashlib

    from traderjoe_etl_spark.operators.dedup import (
        MERSENNE31,
        minhash_coeffs,
        minhash_signatures,
    )

    rows = [(1, "the quick brown fox jumps over the lazy dog"), (2, "tiny doc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: list(r["sig"])
        for r in minhash_signatures(df, "doc_id", "text", hash_family="portable").collect()
    }
    coeffs = minhash_coeffs(64)
    for doc_id, text in rows:
        words = text.lower().strip().split()
        shingles = (
            [" ".join(words[i : i + 3]) for i in range(len(words) - 2)]
            if len(words) >= 3
            else [" ".join(words)]
        )
        xs = [int(hashlib.md5(s.encode()).hexdigest()[:8], 16) for s in shingles]
        expected = [min((a * x + b) % MERSENNE31 for x in xs) for a, b in coeffs]
        assert got[doc_id] == expected, f"doc {doc_id} signature mismatch"


def test_portable_simhash_matches_pure_python(spark):
    """Same for the md5-family SimHash hex fingerprint."""
    import hashlib

    from traderjoe_etl_spark.operators.dedup import simhash_fingerprint

    rows = [(1, "alpha beta gamma delta epsilon"), (2, "one token")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_fingerprint(df, "doc_id", "text").collect()
    }
    for doc_id, text in rows:
        votes = [0] * 64
        for tok in text.lower().strip().split():
            hx = hashlib.md5(tok.encode()).hexdigest()
            chunks = [int(hx[4 * c : 4 * c + 4], 16) for c in range(4)]
            for i in range(64):
                bit = (chunks[i // 16] >> (i % 16)) & 1
                votes[i] += 1 if bit else -1
        keys = [
            sum((1 if votes[16 * c + b] > 0 else 0) << b for b in range(16))
            for c in range(4)
        ]
        expected = "".join(f"{k:04x}" for k in keys)
        assert got[doc_id] == expected, f"doc {doc_id} fingerprint mismatch"


def _py_winnow(text: str, k: int, w: int) -> tuple[int, list[int]]:
    """(n_grams, sorted distinct window minima) of the documented
    winnowing construction, with plain Python ints."""
    from traderjoe_etl_spark.operators.text import ROLLING_BASE, ROLLING_MOD

    hashes = []
    for i in range(len(text) - k + 1):
        acc = 0
        for ch in text[i : i + k]:
            acc = (acc * ROLLING_BASE + ord(ch)) % ROLLING_MOD
        hashes.append(acc)
    return len(hashes), sorted({min(hashes[i : i + w]) for i in range(len(hashes) - w + 1)})


def test_rolling_hash_fingerprints_match_pure_python(spark):
    """Third-engine reproducibility for the winnowing fingerprints: the
    Rabin–Karp gram hashes and window minima must be recomputable from the
    documented construction with plain Python ints."""
    from traderjoe_etl_spark.operators.text import rolling_hash_fingerprints

    k, w = 8, 4
    rows = [(1, "the quick brown fox jumps over the lazy dog"), (2, "abcdefghijk"), (3, "short")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_grams"], list(r["fingerprints"]))
        for r in rolling_hash_fingerprints(df, "doc_id", "text").collect()
    }
    assert 3 not in got  # len("short") = 5 < k + w - 1 = 11, no full window

    for doc_id, text in rows:
        if len(text) < k + w - 1:
            continue
        assert got[doc_id] == _py_winnow(text, k, w), f"doc {doc_id} fingerprint mismatch"


def test_rolling_hash_arrow_kernel_matches_hof(spark, sf_dir):
    """On the real corpus the numpy winnowing kernel must emit exactly the
    rows of the pure-Python construction: one per document long enough
    for a full window (the short-doc filter), integer-identical values."""
    from traderjoe_etl_spark.operators.text import rolling_hash_fingerprints
    from traderjoe_etl_spark.sources.tables import read_table

    k, w = 8, 4
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    expected = {
        r.doc_id: _py_winnow(r.text, k, w)
        for r in docs.collect()
        if r.text is not None and len(r.text) >= k + w - 1
    }
    got = {
        r["doc_id"]: (r["n_grams"], list(r["fingerprints"]))
        for r in rolling_hash_fingerprints(docs, "doc_id", "text").collect()
    }
    assert len(expected) > 0
    assert got == expected


def test_rolling_hash_fingerprints_shift_invariance(spark):
    """Winnowing's point: fingerprints of a shifted copy overlap heavily,
    while a whole-document digest would differ completely."""
    from traderjoe_etl_spark.operators.text import rolling_hash_fingerprints

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    rows = [(1, base), (2, "PREFIX >> " + base)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: set(r["fingerprints"])
        for r in rolling_hash_fingerprints(df, "doc_id", "text").collect()
    }
    inter = got[1] & got[2]
    assert len(inter) >= 0.8 * len(got[1]), (len(inter), len(got[1]))


def test_frame_sample_plan_edges(spark):
    """Inclusive-end sequence semantics: duration 0 yields one frame at 0;
    duration exactly on the stride does not emit a frame at `duration`."""
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.operators.multimodal import frame_sample_plan

    rows = [(1, "video", 0), (2, "video", 1000), (3, "video", 2500), (4, "image", 9999)]
    df = spark.createDataFrame(rows, "media_id long, kind string, duration_ms int").select(
        "media_id", "kind", F.struct(F.col("duration_ms")).alias("meta")
    )
    got = {}
    for r in frame_sample_plan(df).collect():
        got.setdefault(r["media_id"], []).append(r["frame_ms"])
    assert got == {1: [0], 2: [0], 3: [0, 1000, 2000]}


def test_adaptive_lsh_regime_pair_volume_linear(spark):
    """Pins the adaptive-plane-bank SCALE regime (VERDICT r5 item 7) with
    an actual bench-scale corpus instead of a NOTES entry. Two claims:

    1. The bank grows with the corpus: adaptive_n_planes is monotone, is
       4 through the 960-vector oracle regime, and reaches 12 at sf10's
       200k vectors (the measured 19.5×-at-sf100 configuration).
    2. Pair volume stays ~linear: on a 20k-vector synthetic corpus the
       measured in-bucket candidate volume Σ k·(k−1)/2 under the adaptive
       bank is within a small constant of n·target (linear regime), while
       the PINNED 4-plane bank is ≥ 20× larger on the same data (the
       quadratic regime the adaptive sizing exists to avoid)."""
    import math

    from traderjoe_etl_spark.operators.similarity import (
        adaptive_n_planes,
        lsh_bucket_key,
        random_hyperplanes,
    )

    # claim 1: formula regimes
    assert adaptive_n_planes(960, target_bucket=64) == 4
    assert adaptive_n_planes(961, target_bucket=64) == 5
    assert adaptive_n_planes(200_000, target_bucket=64) == 12
    sizes = [100, 1_000, 10_000, 100_000, 1_000_000, 10_000_000]
    planes_seq = [adaptive_n_planes(s, target_bucket=64) for s in sizes]
    assert planes_seq == sorted(planes_seq) and planes_seq[-1] > planes_seq[0]

    # claim 2: measured candidate volume on a 20k synthetic corpus —
    # deterministic pseudo-random unit-ish vectors built JVM-side (no
    # data shipped from the driver)
    n, dim = 20_000, 64
    emb = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.expr(
            f"transform(sequence(0, {dim - 1}),"
            " j -> sin(CAST(xxhash64(id, j) % 100000 AS DOUBLE) / 7919.0))"
        ).alias("embedding"),
    )

    def pair_volume(n_planes: int) -> int:
        planes = random_hyperplanes(dim, n_planes)
        buckets = emb.select(
            lsh_bucket_key("embedding", planes).alias("b")
        ).groupBy("b").count()
        return int(
            buckets.select(
                F.sum(F.col("count") * (F.col("count") - 1) / 2).cast("long")
            ).first()[0]
        )

    adaptive = adaptive_n_planes(n, target_bucket=64)
    assert adaptive == math.ceil(math.log2(n / 64 + 1))  # 9 planes at 20k
    vol_adaptive = pair_volume(adaptive)
    vol_pinned = pair_volume(4)
    # linear regime: expected volume ≈ n·target/2 (uniform); sign-LSH
    # buckets are skewed on real banks, so allow a generous constant
    assert vol_adaptive <= 8 * n * 64, (adaptive, vol_adaptive)
    # pinned bank on the SAME data sits in the quadratic regime
    assert vol_pinned >= 20 * vol_adaptive, (vol_pinned, vol_adaptive)
    assert vol_pinned >= n * n / (2 ** 6)  # within 4x of n²/2^planes


def test_minhash_fast_family_pairs_match_portable_at_sf001(spark, sf_dir):
    """Rows-only → proven (VERDICT r5 item 2): the chained-hash fast
    family's candidate PAIR SET must equal the oracle-verified portable
    family's at sf0.01 — the corpus's true near-dup structure, recovered
    identically by two independent hash families (both deterministic given
    seeds, so this is a hard pin, not a flaky sample). Per-pair shared-band
    COUNTS legitimately differ between families for partial near-dups
    (different random permutations → different band subsets collide; even
    16/16 is per-family probabilistic — P(all 64 mins collide) = J^64, so a
    J≈0.95 pair can be full-band in one family and 13/16 in the other, as
    pair (8,245) demonstrates at sf0.01), so only the SET is compared."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    fast = {
        (r.id_a, r.id_b): r.n_bands_shared
        for r in qs["minhash_near_dup_fast"](spark, sf_dir).collect()
    }
    portable = {
        (r.id_a, r.id_b): r.n_bands_shared
        for r in qs["minhash_near_dup"](spark, sf_dir).collect()
    }
    assert fast and set(fast) == set(portable)


def test_text_profile_fast_equals_full_on_non_hash_columns(spark, sf_dir):
    """Rows-only → proven (VERDICT r5 item 2): text_profile_fast differs
    from the oracle-checked text_profile_full ONLY in the fingerprint hash
    family — every other column (tokens, chars, lang, quality) must be
    byte-identical per doc. (Fingerprint dup-CLASSES are deliberately not
    compared across families: min-over-shingles collision of NEAR-dups is
    per-family random — the MinHash property — and sf0.01 has such pairs,
    e.g. docs 44/446; exact-dup class guarantees are pinned separately in
    test_text_profile_fingerprint_families_exact_dup_classes.)"""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    fast = {r.doc_id: r.asDict() for r in qs["text_profile_fast"](spark, sf_dir).collect()}
    full = {r.doc_id: r.asDict() for r in qs["text_profile_full"](spark, sf_dir).collect()}
    assert fast and set(fast) == set(full)
    for doc_id, fr in fast.items():
        fu = full[doc_id]
        for col in ("n_tokens", "n_chars", "lang_detected", "quality"):
            assert fr[col] == fu[col], (doc_id, col, fr[col], fu[col])


def test_minhash_pair_strategies_identical(spark, docs):
    """bucket_agg (one-pass array-combination expansion) and self_join (the
    classic band-bucket equi-join) must emit the exact same candidate pairs
    and shared-band counts."""
    from traderjoe_etl_spark.operators.dedup import minhash_lsh_candidates

    def pairs(strategy):
        return {
            (r.id_a, r.id_b): r.n_bands_shared
            for r in minhash_lsh_candidates(
                docs, "doc_id", "text", pair_strategy=strategy
            ).collect()
        }

    a, b = pairs("bucket_agg"), pairs("self_join")
    assert a == b and len(a) > 0


def test_hll_sketch_mergeability(spark, sf_dir):
    """union-of-per-group-sketches == sketch over the union, and both sit
    within the configured relative error of the exact distinct count."""
    import pyspark.sql.functions as F

    orders = read_table(spark, sf_dir, "orders")
    per = orders.groupBy("o_orderpriority").agg(F.hll_sketch_agg("o_custkey").alias("sk"))
    merged = per.agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("e")).collect()[0].e
    direct = orders.agg(F.hll_sketch_estimate(F.hll_sketch_agg("o_custkey")).alias("e")).collect()[0].e
    exact = orders.select("o_custkey").distinct().count()
    # union-of-sketches and direct sketch agree to within estimator noise
    # (register layouts can differ sparse-vs-dense across merge orders)
    assert abs(merged - direct) / exact < 0.01
    assert abs(merged - exact) / exact < 0.05
    assert abs(direct - exact) / exact < 0.05


def test_hll_sketch_rollup_query(spark, sf_dir):
    from traderjoe_etl_spark.queries import queries

    out = queries()["hll_sketch_rollup"](spark, sf_dir).collect()
    rows = {r.o_orderpriority: r for r in out}
    assert "ALL" in rows and len(rows) >= 5
    detail_n = sum(r.n_orders for k, r in rows.items() if k != "ALL")
    assert rows["ALL"].n_orders == detail_n


def test_cosine_near_dup_auto_planes(spark, emb):
    """n_planes=None sizes the plane bank from the corpus so in-bucket
    pair work stays bounded; explicit n_planes is preserved for
    oracle-pinned queries."""
    from traderjoe_etl_spark.operators.similarity import cosine_near_dup_pairs

    out = cosine_near_dup_pairs(emb, threshold=0.35, dim=64, n_planes=None)
    # 500 vectors at sf0.01 -> ceil(log2(500/32+1)) = 5 planes minimum 4;
    # result is still a valid pair set (subset of the 4-plane result)
    rows = out.collect()
    assert all(r.id_a < r.id_b and r.cosine >= 0.35 for r in rows)


def _np_cosine_topk(corpus_rows, queries, k, digits=None, exclude_self=False):
    """Reference top-k outside the program: numpy cosine of every (query,
    corpus vector) pair, optionally rounded HALF_UP to ``digits`` (Spark's
    ``round``), ranked by score descending then id. Returns
    [(query_id, vec_id, cosine)]."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    ids = [r.vec_id for r in corpus_rows]
    A = np.array([r.embedding for r in corpus_rows], dtype=np.float64)
    out = []
    for qid, qv in queries:
        q = np.asarray(qv, dtype=np.float64)
        sims = (A @ q) / (np.linalg.norm(A, axis=1) * np.linalg.norm(q))
        scored = []
        for vid, c in zip(ids, sims.tolist()):
            if exclude_self and vid == qid:
                continue
            if digits is not None:
                c = float(Decimal(repr(c)).quantize(Decimal(1).scaleb(-digits), ROUND_HALF_UP))
            scored.append((c, vid))
        scored.sort(key=lambda t: (-t[0], t[1]))
        out += [(qid, vid, c) for c, vid in scored[:k]]
    return out


def test_batch_topk_arrow_equals_hof_under_rounding(spark, emb):
    """The arrow kernel's in-batch pruning must be invisible: for a batch
    of query vectors with rounded ranking, the result must equal a full
    numpy scoring of every pair — including self-exclusion and id
    tie-breaks at the rounding grid. Run at several partition counts so
    the per-batch pruning boundary actually moves."""
    from traderjoe_etl_spark.operators.similarity import cosine_topk_batch

    queries = (
        emb.filter(F.col("vec_id") % 37 == 1)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )
    expected = sorted(
        _np_cosine_topk(
            emb.collect(), [(r.query_id, r.qv) for r in queries.collect()],
            k=5, digits=6, exclude_self=True,
        )
    )
    assert len(expected) > 0
    for parts in (1, 7):
        got = sorted(
            (r.query_id, r.vec_id, r.cosine)
            for r in cosine_topk_batch(
                emb.repartition(parts), queries, k=5,
            ).select("query_id", "vec_id", "cosine").collect()
        )
        assert got == expected, f"kernel/numpy divergence at {parts} partitions"


def test_brute_topk_arrow_equals_hof_raw(spark, emb):
    """Single-query brute force ranked on the rounded score (arrow pruning
    at quantum=10^-6, const as one codegen scan) must match numpy scoring,
    and the emitted cosine stays raw."""
    qdf = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    corpus = emb.filter(F.col("vec_id") != 0)
    rows, q = corpus.collect(), [(0, qdf.first().qv)]
    expected = _np_cosine_topk(rows, q, k=10, digits=6)
    raw = {v: c for _, v, c in _np_cosine_topk(rows, q, k=len(rows))}
    for impl in ("const", "arrow"):
        got = cosine_topk_brute(corpus.repartition(5), qdf, k=10, impl=impl).collect()
        assert [r.vec_id for r in got] == [v for _, v, _ in expected], impl
        for r in got:
            assert abs(r.cosine - raw[r.vec_id]) < 1e-9, impl


def test_text_profile_fingerprint_families_exact_dup_classes(spark):
    """Family-independent guarantees of the min-over-shingles fingerprint:
    docs with IDENTICAL shingle sets share a fingerprint under BOTH hash
    families (min of the same hashed set), and the seeded all-distinct
    docs get all-distinct fingerprints under both. (NEAR-duplicates may
    collide under one family and not the other — that per-instance
    randomness is the MinHash property itself, so it is deliberately NOT
    asserted.)"""
    from traderjoe_etl_spark.operators.text import text_profile

    rows = []
    base = "the quick brown fox jumps over the lazy dog again and again today"
    dup_ids, uniq_ids = [], []
    for i in range(40):
        if i % 4 == 0:
            rows.append((i, base))  # exact dup cluster
            dup_ids.append(i)
        else:
            rows.append((i, f"doc {i} unique words here number {i * 7} end of line"))
            uniq_ids.append(i)
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for fam in ("xxhash64", "md5"):
        prof = text_profile(docs, "doc_id", "text", fingerprint_hash=fam)
        fp = {r["doc_id"]: r["fingerprint"] for r in prof.collect()}
        assert len({fp[i] for i in dup_ids}) == 1, fam
        assert len({fp[i] for i in uniq_ids}) == len(uniq_ids), fam


def test_pca_fit_project_invariants(spark, emb):
    """Algebraic invariants of the distributed PCA (no SQL engine has an
    eigensolver, so this is the correctness proof): orthonormal basis,
    descending explained variance, per-component projection variance ==
    explained ratio, and exact full-rank reconstruction."""
    import numpy as np

    from traderjoe_etl_spark.operators.similarity import pca_fit, pca_project

    mean, comps, explained = pca_fit(emb, dim=64, k=64)
    C = np.array(comps)
    assert np.allclose(C.T @ C, np.eye(64), atol=1e-8)
    assert all(
        explained[i] >= explained[i + 1] - 1e-12 for i in range(len(explained) - 1)
    )
    rows = pca_project(emb, mean, comps).collect()
    proj = {r["vec_id"]: np.array(r["proj"]) for r in rows}
    orig = {
        r["vec_id"]: np.array([float(x) for x in r["embedding"]])
        for r in emb.collect()
    }
    P = np.array([proj[i] for i in sorted(proj)])
    X = np.array([orig[i] for i in sorted(orig)])
    # full-rank round trip: X == mean + P @ C^T
    assert np.allclose(X, np.asarray(mean) + P @ C.T, atol=1e-7)
    # per-component variance matches the explained ratio (both /n)
    ratios = P.var(axis=0) / X.var(axis=0).sum()
    assert np.allclose(ratios, explained, atol=1e-8)
    # truncated fit agrees with the leading columns of the full basis
    mean8, comps8, _ = pca_fit(emb, dim=64, k=8)
    assert np.allclose(np.array(comps8), C[:, :8], atol=1e-8)


def test_pca_fit_offset_heavy_corpus_is_stable(spark):
    """Catastrophic-cancellation regression (VERDICT r5 item 6): with
    |mean| ~1e8 and O(1) spread, the naive one-pass ``G/n − outer(mean,
    mean)`` loses every significant digit of the covariance in float64
    (1e16 − 1e16). The pivot-shifted accumulation must recover the same
    eigenstructure numpy gets from explicitly centered data."""
    import numpy as np

    from traderjoe_etl_spark.operators.similarity import pca_fit

    rng = np.random.default_rng(7)
    dim, n = 8, 400
    offset = 1e8 * np.ones(dim)
    # anisotropic signal: variance concentrated in two known directions
    X = offset + rng.normal(size=(n, 2)) @ np.array(
        [[5.0] + [0.0] * 7, [0.0, 2.0] + [0.0] * 6]
    ) + 0.01 * rng.normal(size=(n, dim))
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(5)

    mean, comps, explained = pca_fit(emb, dim=dim, k=dim)
    C = np.asarray(comps)
    assert np.allclose(np.asarray(mean), X.mean(axis=0), rtol=0, atol=1e-4)
    assert np.allclose(C.T @ C, np.eye(dim), atol=1e-8)

    Xc = X - X.mean(axis=0)
    ref_evals = np.sort(np.linalg.eigvalsh(Xc.T @ Xc / n))[::-1]
    got_evals = np.asarray(explained) * ref_evals.sum()
    # the naive formula yields relative errors O(1) here; pinned tight
    assert np.allclose(got_evals, ref_evals, rtol=1e-6, atol=1e-9)
    # leading components span the planted 2D signal subspace
    basis = np.zeros((dim, 2))
    basis[0, 0] = basis[1, 1] = 1.0
    overlap = np.linalg.svd(C[:, :2].T @ basis, compute_uv=False)
    assert np.all(overlap > 0.99)


def test_winnowed_span_fingerprints_arrow_equals_hof(spark, sf_dir):
    """The numpy kernel's winnowing-selected span fingerprints must equal
    a pure-Python double-Horner fold over the same md5-prefix token
    values — the modular scheme defines the integers, not the loop shape.
    Includes short docs (< one winnowing window) via the global-min
    fallback."""
    from traderjoe_etl_spark.queries.retrieval import (
        _H_B1,
        _H_B2,
        _H_MOD,
        _SPAN_K,
        _selected_span_fingerprints,
        _token_values,
    )
    from traderjoe_etl_spark.sources.tables import read_table

    docs = read_table(spark, sf_dir, "documents")
    # add a doc with exactly one span (16 tokens: ng=1 < P) for the fallback
    extra = docs.sparkSession.createDataFrame(
        [(999_000_001, " ".join(f"t{i}" for i in range(16)), "synthetic")],
        "doc_id long, text string, source string",
    )
    docs = docs.select("doc_id", "text", "source").unionByName(extra)

    def horner(xs, b):
        acc = 0
        for v in xs:
            acc = (acc * b + v) % _H_MOD
        return acc

    spans = {}
    for r in _token_values(docs).collect():
        x = list(r["__x"])
        spans[r.doc_id] = [
            horner(x[i : i + _SPAN_K], _H_B1) * (1 << 31) + horner(x[i : i + _SPAN_K], _H_B2)
            for i in range(len(x) - _SPAN_K + 1)
        ]
    for window in (8, 1):  # thinned form and the every-span (window=1) form
        expected = sorted(
            (did, h)
            for did, sh in spans.items()
            for h in {min(sh[i : i + window]) for i in range(max(len(sh) - window + 1, 1))}
        )
        got = sorted(
            (r.doc_id, r.h) for r in _selected_span_fingerprints(docs, window=window).collect()
        )
        assert len(expected) > 0, window
        assert sum(d == 999_000_001 for d, _ in got) == 1, window
        assert got == expected, window


def test_revenue_by_region_paths_agree(spark, sf_dir):
    """The stats-adaptive broadcast-probe plan and the per-order-partial
    shuffle plan must produce IDENTICAL rows (exact scaled-long sums are
    associative, so regrouping cannot change a bit). Force each path via
    the orders-size threshold seam."""
    import unittest.mock as um

    from traderjoe_etl_spark.queries import relational as rel

    fast = rel.revenue_by_region(spark, sf_dir)  # small fixture → broadcast path
    with um.patch.object(rel, "table_bytes", lambda *_: 10**12):  # force at-scale plan
        slow = rel.revenue_by_region(spark, sf_dir)
    assert "BroadcastHashJoin" in fast._jdf.queryExecution().executedPlan().toString()
    a = sorted(map(tuple, fast.collect()))
    b = sorted(map(tuple, slow.collect()))
    assert a == b


def test_gap_fill_horizon_bounds_output(spark):
    """A gap longer than the fill horizon truncates at the horizon (the
    100-TB output bound); gaps within it fill densely with the previous
    observation's value."""
    from traderjoe_etl_spark.queries import windows_scalars as ws

    rows = [
        (1, "2026-01-01 00:30:00", 10.0),
        (1, "2026-01-01 03:30:00", 20.0),          # 3h gap → dense fill
        (2, "2026-01-01 00:30:00", 5.0),
        (2, "2026-03-01 00:30:00", 6.0),           # ~59 days → truncated at 168h
    ]
    df = spark.createDataFrame(rows, "user_id long, ts string, value double").withColumn(
        "ts", F.to_timestamp("ts")
    )
    import unittest.mock as um

    with um.patch.object(ws, "read_table", lambda *_a, **_k: df):
        out = ws.gap_fill_hourly(spark, "ignored")
    per_user = {r["user_id"]: r["n"] for r in out.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert per_user[1] == 4  # 00:00,01:00,02:00 filled + 03:00 observed
    assert per_user[2] == ws._GAP_FILL_MAX_HOURS + 1 + 1  # capped segment + last obs
    u1 = {r["hour"]: (r["observed"], r["filled_value"]) for r in out.filter("user_id = 1").collect()}
    assert u1["2026-01-01 01:00"] == (0, 10.0) and u1["2026-01-01 02:00"] == (0, 10.0)
    assert u1["2026-01-01 00:00"][0] == 1 and u1["2026-01-01 03:00"][0] == 1


def test_approx_distinct_counts_error_bound(spark, sf_dir):
    """Compensating gate for the rows-only approx_distinct_counts (VERDICT
    r6 item 6): Spark's HLL++ has NO exact regime (dense-only registers —
    linear counting carries ~n^2/2m bias even far below capacity), so the
    oracle-less query instead pins every group's estimate within 3*rsd of
    the exact distinct count. Deterministic for fixed data — a regression
    check, not a statistical one."""
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.queries import queries

    est = {
        r["o_orderpriority"]: r["approx_customers"]
        for r in queries()["approx_distinct_counts"](spark, sf_dir).collect()
    }
    exact = {
        r["o_orderpriority"]: r["n"]
        for r in spark.read.parquet(f"{sf_dir}/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for k, e in exact.items():
        assert abs(est[k] - e) <= 3 * 0.02 * e, (k, est[k], e)
