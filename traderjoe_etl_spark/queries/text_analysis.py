"""Text-analysis + multimodal queries (SURVEY.md §2B ◆ north star).

lang-ID / quality / fingerprint over ``documents``; embedding centroids;
multimodal feature extraction over binary columns synthesized from the
document bytes (deterministic — the decode step is the stubbed fake,
the Spark plumbing is real).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import LANG_PROFILES, lang_id, text_profile
from ..functions import session_cache
from ..sources.tables import read_table
from . import query


def _lang_score_case() -> tuple[str, str]:
    """Reusable pieces of the lang_id DuckDB twin: per-language stopword-hit
    score expressions and the argmax CASE with the same (score, lang)
    lexicographic tie-break (higher score wins; on ties the
    reverse-alphabetically larger lang)."""
    score_exprs = ",\n           ".join(
        f"len(list_intersect(regexp_split_to_array(lower(trim(text)), '\\s+'), "
        f"{words!r})) AS s_{lang}".replace("'", "'")
        for lang, words in LANG_PROFILES.items()
    )
    langs_desc = sorted(LANG_PROFILES, reverse=True)  # tie-break order
    case = "CASE\n"
    for i, lang in enumerate(langs_desc):
        others = [o for o in langs_desc[i + 1 :]]
        conds = [f"s_{lang} > 0"] + [f"s_{lang} >= s_{o}" for o in others]
        # must also beat every earlier (reverse-alpha larger) lang strictly
        earlier = [f"s_{lang} > s_{o}" for o in langs_desc[:i]]
        case += f"  WHEN {' AND '.join(earlier + conds)} THEN '{lang}'\n"
    case += "  ELSE 'und' END"
    return score_exprs, case


def _lang_oracle() -> str:
    """DuckDB twin of operators.text.lang_id rolled up to corpus counts."""
    score_exprs, case = _lang_score_case()
    return f"""
    WITH scored AS (
        SELECT doc_id,
           {score_exprs}
        FROM documents
    )
    SELECT {case} AS lang_detected, count(*) AS n_docs
    FROM scored
    GROUP BY 1
    """


@query("lang_id_counts", oracle=_lang_oracle())
def lang_id_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword voting) rolled up to corpus counts.
    Pure column expressions; the oracle replicates score + tie-break
    exactly."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(lang_id("text").alias("lang_detected")).groupBy("lang_detected").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


def _text_profile_oracle() -> str:
    """DuckDB twin of operators.text.text_profile with the portable md5
    fingerprint: token/char counts, lang argmax (shared CASE), the composite
    quality heuristic, and min-over-8-token-shingle md5 (lexicographic min
    over lowercase hex is engine-independent)."""
    score_exprs, case = _lang_score_case()
    return f"""
    WITH base AS (
        SELECT doc_id, text,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS w,
           {score_exprs}
        FROM documents
    ),
    m AS (
        SELECT doc_id, text, w, {case} AS lang_detected,
               len(w) AS n_tokens, length(text) AS n_chars,
               CAST(length(regexp_replace(text, '[^A-Za-z\\s]', '', 'g')) AS DOUBLE)
                   / nullif(length(text), 0) AS alpha_ratio,
               CAST(length(text) AS DOUBLE) / nullif(len(w), 0) AS avg_tok
        FROM base
    )
    SELECT doc_id, n_tokens, n_chars, lang_detected,
           round((CASE WHEN n_chars BETWEEN 20 AND 100000 THEN 1.0 ELSE 0.3 END)
                 * (CASE WHEN avg_tok >= 2 AND avg_tok <= 12 THEN 1.0 ELSE 0.5 END)
                 * coalesce(alpha_ratio, 0.0), 6) AS quality,
           list_min(list_transform(
               range(1, greatest(len(w) - 7, 1) + 1),
               i -> md5(array_to_string(w[i:i+7], ' ')))) AS fingerprint
    FROM m
    """


@query("text_profile_full", oracle=_text_profile_oracle())
def text_profile_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass per-doc profile: tokens/chars/lang/quality/fingerprint.

    Uses the portable md5 fingerprint variant so the WHOLE profile row is
    oracle-checkable — the cross-engine portability proof. The deployment
    default is :func:`text_profile_fast` below (xxhash64 family, ~2.5×
    cheaper per shingle at sf10); same min-over-shingles structure either
    way."""
    docs = read_table(spark, sf_dir, "documents")
    return text_profile(docs, "doc_id", "text", fingerprint_hash="md5")


@query("text_profile_fast")  # rows-only: DuckDB cannot recompute xxhash64
def text_profile_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deployment-default text profile: identical token/char/lang/
    quality columns to :func:`text_profile_full`, fingerprint in the
    xxhash64 family — one JVM long hash per shingle instead of an md5 +
    hex round trip, the difference between ~24 s and single-digit seconds
    over the sf10 corpus (VERDICT r02 item 4). The fingerprint family is
    engine-internal, so this query is rows-only by design; its
    correctness evidence is (a) the md5 twin above, whose oracle checks
    the identical plan with the portable family, (b) the family pytest
    asserting the fingerprint's family-independent guarantees (exact-dup
    classes fingerprint together; distinct docs stay distinct) on a
    seeded corpus, and (c)
    test_text_profile_fast_equals_full_on_non_hash_columns pinning every
    non-fingerprint column byte-equal to the oracle-checked twin per doc
    at sf0.01."""
    docs = read_table(spark, sf_dir, "documents")
    return text_profile(docs, "doc_id", "text", fingerprint_hash="xxhash64")


@query(
    "regexp_extract_sources",
    oracle="""
    SELECT CAST(regexp_extract(source, 'src([0-9]+)', 1) AS BIGINT) AS src_num,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY 1
    """,
)
def regexp_extract_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp_extract (SURVEY.md §2B scalar string fns ◆)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy(
        F.regexp_extract("source", r"src([0-9]+)", 1).cast("long").alias("src_num")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@query(
    "embedding_centroids",
    oracle="""
    WITH flat AS (
        SELECT label,
               generate_subscripts(embedding, 1) - 1 AS pos,
               unnest(embedding) AS v
        FROM embeddings
    )
    SELECT label, pos, round(avg(CAST(v AS DOUBLE)), 6) AS centroid_val
    FROM flat
    GROUP BY label, pos
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid, one row per (label, dimension) — posexplode +
    two-key groupBy (partial agg; shuffle carries |labels|×dim rows)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
    )


def _simhash_fp_oracle() -> str:
    from .llm_ops import simhash_sig_sql

    return f"WITH {simhash_sig_sql()} SELECT doc_id, simhash FROM fp"


@query("simhash_fingerprints", oracle=_simhash_fp_oracle())
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 64-bit SimHash fingerprint in the portable md5 family
    (hex-string rendering) — the DuckDB oracle recomputes every bit vote."""
    from ..operators.dedup import simhash_fingerprint

    docs = read_table(spark, sf_dir, "documents")
    return simhash_fingerprint(docs, "doc_id", "text")


@query(
    "ngram_jaccard_near_dups",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [array_to_string(w, ' ')]
               END AS s
        FROM toks
    )
    SELECT id_a, id_b, jaccard FROM (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                   / len(list_distinct(a.s || b.s)) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    ) WHERE jaccard >= 0.8
    """,
)
def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """minhash-LSH candidates verified with exact n-gram Jaccard ≥ 0.8 —
    the full near-dup detection pipeline (candidate generation + exact
    verification).

    The oracle is the BRUTE-FORCE all-pairs exact Jaccard — so the hash
    match simultaneously proves (a) the exact verifier computes the same
    similarity as an independent set implementation and (b) LSH candidate
    recall at j ≥ 0.8 is 1.0 on this corpus (P(miss) per pair ≈ 2e-4 with
    16 bands × r=4 and deterministic hash constructions, checked at
    sf0.001/0.01/0.1 on both data seeds). The engine never materializes
    the O(n²) product; only the oracle does, which is exactly the
    asymmetry the LSH path exists for.

    r12 (guide §2.3/§1.2 — make the per-task work cheap, shuffle fewer
    bytes): candidate generation runs in the ``chained`` hash family (no
    shingle STRING is ever built — the string materialization was the
    measured floor: sf10 signatures 12.1 → 2.5 s, full candidate build
    29.9 → 13.7 s) and the verifier compares chained-hashed shingle sets
    (see ngram_jaccard_pairs — verify pass 4.6 → 1.8 s at sf10). Both
    changes are output-preserving, proven two ways: the VERIFIED pair set
    over the old and new candidate families is set-identical at sf10
    (75,208 pairs, exact jaccard match — borderline sub-0.8 candidate
    differences are filtered by the verification), and the brute-force
    oracle hash-passes at all three driver SFs on both seeds."""
    from ..operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    docs = read_table(spark, sf_dir, "documents")
    cand = minhash_lsh_candidates(docs, "doc_id", "text", hash_family="chained")
    return ngram_jaccard_pairs(docs, cand).filter(F.col("jaccard") >= 0.8)


def _cosine_near_dup_oracle(threshold: float, n_planes: int) -> str:
    """DuckDB twin of operators.similarity.cosine_near_dup_pairs: the plane
    bank is seeded-deterministic (random.Random(42)), so the SAME literals
    are inlined here and the bucket sign pattern + in-bucket exact cosine
    filter replicate bit-for-bit (signs are O(0.1) away from zero, far
    outside cross-engine float-reassociation error; the output cosine is
    rounded to 6 dp on both sides)."""
    from ..operators.similarity import random_hyperplanes

    planes = random_hyperplanes(64, n_planes)

    def lit(p: list[float]) -> str:
        return "[" + ", ".join(repr(x) for x in p) + "]"

    bits = ",\n          ".join(
        f"CASE WHEN list_dot_product(ve, {lit(p)}) >= 0 THEN '1' ELSE '0' END"
        for p in planes
    )
    # The engine sizes its plane bank to the corpus; this static SQL
    # inlines the {n_planes}-plane bank, which the engine only picks for
    # corpora where ceil(log2(n/64 + 1)) <= {n_planes} (n <= 960 for the
    # 4-plane default). Beyond that the two sides would use DIFFERENT
    # banks — a regime mismatch, not a correctness bug — so the oracle
    # fails loudly instead of reporting a spurious diff (ADVICE r02).
    max_n = (2**n_planes - 1) * 64
    return f"""
    WITH guard AS (
        SELECT CASE WHEN (SELECT count(*) FROM embeddings) > {max_n}
                    THEN error('embedding_cosine_near_dups oracle inlines a {n_planes}-plane bank: valid only for corpora <= {max_n} vectors (engine auto-sizes beyond that)')
                    ELSE 1 END AS ok
    ),
    v AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
          FROM embeddings, guard WHERE guard.ok = 1),
    b AS (SELECT vec_id, ve, concat({bits}) AS bucket FROM v)
    SELECT a.vec_id AS id_a, c.vec_id AS id_b,
           round(list_cosine_similarity(a.ve, c.ve), 6) AS cosine
    FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    WHERE list_cosine_similarity(a.ve, c.ve) >= {threshold}
    """


@query("embedding_cosine_near_dups", oracle=_cosine_near_dup_oracle(0.35, 4))
def embedding_cosine_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: sign-LSH bucket self-join +
    exact in-bucket cosine filter (SURVEY.md §2B ◆ dedup family). The
    threshold is set where the synthetic corpus has signal (max pairwise
    cosine ≈0.51 at sf0.01 — 0.95 would pass vacuously on 0 rows); the
    oracle replicates the deterministic plane bank, so this checks the
    FULL approximate pipeline, not just the exact filter.

    The plane bank is CORPUS-ADAPTIVE (target ~64 vectors/bucket):
    in-bucket pair work is ~n²/2^planes, so a pinned bank silently goes
    quadratic as data grows — a pinned 4-plane bank at sf10 (200k vectors,
    16 buckets) is ~1.25e9 candidate pairs, measured as a multi-hour stall
    in the registry scale audit. Adaptive sizing gives 12 planes there
    (~5M pairs, seconds). At the driver's oracle scale (500 vectors) the
    formula lands on exactly 4 planes, which is the bank the static oracle
    SQL inlines — parity holds for any corpus up to 960 vectors, and
    beyond that only the (unchecked) approximate recall changes, never
    pair correctness: emitted cosines are always exact."""
    from ..operators.similarity import adaptive_n_planes, cosine_near_dup_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    n = emb.count()
    n_planes = adaptive_n_planes(n, target_bucket=64)
    # Physical strategy by corpus size, AQE-style: the JVM HOF pair join at
    # oracle scale (bit-compatible with the sequential-sum oracle), the
    # per-bucket GEMM kernel once pair volume dominates (duplicate clusters
    # collide into shared buckets, so big corpora are pair-bound; parity of
    # the two impls is pinned by tests/test_operators.py).
    impl = "arrow" if n >= 10_000 else "hof"
    out = cosine_near_dup_pairs(emb, threshold=0.35, dim=64, n_planes=n_planes, impl=impl)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


@query(
    "multimodal_features",
    oracle="""
    SELECT doc_id AS media_id,
           CASE doc_id % 3 WHEN 0 THEN 'image'
                           WHEN 1 THEN 'audio'
                           ELSE 'video' END AS kind,
           CAST(length(text) AS INT) AS n_bytes,
           array_to_string(list_transform(range(0, 16),
               i -> CAST(round(ascii(substr(text,
                        least(i * greatest(1, length(text) // 16),
                              length(text) - 1) + 1, 1)) / 255.0, 4)
                    AS VARCHAR)), ',') AS feature_csv
    FROM documents
    """,
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media columns end-to-end: synthesize blobs from document
    bytes (deterministic), byte-size-aware repartition, Arrow-batched
    feature extraction via mapInPandas. The decode is the documented fake;
    everything around it is the real 100-TB plumbing.

    Oracle-checkable because the fake decoder is pure byte sampling
    (blob[min(i·(len//dim), len-1)]/255) and the synthesized blobs are the
    documents' ASCII bytes — so ascii(substr(text, …)) in DuckDB replicates
    the whole mapInPandas path value-for-value (feature vector serialized
    to CSV on both sides; round-4 sits far from the float32 error bound)."""
    from ..operators.multimodal import extract_features, media_repartition

    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            (F.length("text") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media_repartition(media))
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.concat_ws(
            ",",
            F.transform("feature", lambda x: F.round(x.cast("double"), 4).cast("string")),
        ).alias("feature_csv"),
    )


@query(
    "multimodal_resize",
    oracle="""
    SELECT doc_id AS media_id, 8 AS width, 8 AS height,
           md5(array_to_string(
               flatten(list_transform(range(0, 8), j ->
                   list_transform(range(0, 8), i ->
                       chr(ascii(substr(text,
                           least(j * 8 * 64 + i * 8, length(text) - 1) + 1,
                           1)))))), '')) AS content_md5
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-resize plumbing end-to-end: synthesized 64×64 'images' (the
    documents' ASCII bytes), byte-aware repartition, Arrow-batched
    nearest-neighbor stride resize to 8×8 in mapInPandas. The fake kernel
    is pure byte indexing (stride 8 in both axes on a 64-wide grid,
    clamped to the blob length), so the DuckDB oracle reconstructs the
    EXACT resized byte string with substr/chr and both engines md5 it —
    the whole operator path is hash-verified, with only the codec itself
    stubbed (operators/multimodal.py)."""
    from ..operators.multimodal import media_repartition, resize_images

    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode("text", "UTF-8").alias("content"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(0).alias("duration_ms"),
        ).alias("meta"),
    )
    resized = resize_images(media_repartition(media))
    return resized.select(
        "media_id", "width", "height", F.md5("content").alias("content_md5")
    )


# 44-byte PCM WAV header for fixed mono/8kHz/16-bit/8192-data-byte blobs —
# a pure constant because every size field is fixed by construction
_WAV_HEADER_HEX = (
    "524946462420000057415645666D74201000000001000100401F0000"
    "803E00000200100064617461" "00200000"
)
_PPM_HEADER = "P6\n64 64\n255\n"
_PPM_DATA = 64 * 64 * 3  # 12288 raw RGB bytes
_WAV_DATA = 8192  # 4096 int16 samples

# the repeated-document byte stream both engines slice blobs from
_PPM_D_SQL = (
    f"substr(repeat(text, CAST(ceil({_PPM_DATA}.0 / length(text)) AS INT))"
    f", 1, {_PPM_DATA})"
)
_WAV_D_SQL = (
    f"substr(repeat(text, CAST(ceil({_WAV_DATA}.0 / length(text)) AS INT))"
    f", 1, {_WAV_DATA})"
)


def _real_codec_oracle() -> str:
    # float32 quantization parity: every feature rides CAST(x AS REAL)
    # because the kernel's output schema is float32 — DuckDB's REAL cast
    # is the same IEEE double→float32 nearest rounding Spark applies.
    f32 = "round(CAST(CAST({v} AS REAL) AS DOUBLE), 4)"
    ppm_feats = []
    for c in range(3):  # channel means: exact sum / 4096 (power of two)
        ppm_feats.append(f32.format(v=f"list_sum(ch{c}) / 4096.0"))
    for c in range(3):
        ppm_feats.append(f32.format(v=f"list_min(ch{c})"))
    for c in range(3):
        ppm_feats.append(f32.format(v=f"list_max(ch{c})"))
    for b in range(4):
        ppm_feats.append(f32.format(v=f"len(list_filter(gray, g -> g // 64 = {b}))"))
    ppm_csv = " || ',' || ".join(
        [f32.format(v="64.0"), f32.format(v="64.0")] + ppm_feats + ["'0.0'"]
    )
    wav_feats = [
        f32.format(v="4096.0"),
        f32.format(v="list_sum(s) / 4096.0"),  # samples are all positive here
        f32.format(v="sqrt(list_sum(list_transform(s, x -> CAST(x AS DOUBLE) * x)) / 4096.0)"),
        f32.format(v="len(list_filter(range(2, 4097), i -> (s[i] >= 0) <> (s[i-1] >= 0)))"),
        f32.format(v="list_min(s)"),
        f32.format(v="list_max(s)"),
    ]
    wav_csv = " || ',' || ".join(wav_feats + ["'0.0'"] * 10)
    return f"""
    WITH ppm AS (
        SELECT doc_id, d,
               list_transform(range(0, 4096), i -> ascii(substr(d, 3*i + 1, 1))) AS ch0,
               list_transform(range(0, 4096), i -> ascii(substr(d, 3*i + 2, 1))) AS ch1,
               list_transform(range(0, 4096), i -> ascii(substr(d, 3*i + 3, 1))) AS ch2
        FROM (SELECT doc_id, {_PPM_D_SQL} AS d FROM documents WHERE doc_id % 2 = 0)
    ),
    ppm2 AS (
        SELECT *, list_transform(range(1, 4097),
                      i -> (ch0[i] + ch1[i] + ch2[i]) // 3) AS gray
        FROM ppm
    ),
    wav AS (
        SELECT doc_id,
               list_transform(range(0, 4096),
                   i -> ascii(substr(d, 2*i + 1, 1))
                        + 256 * ascii(substr(d, 2*i + 2, 1))) AS s
        FROM (SELECT doc_id, {_WAV_D_SQL} AS d FROM documents WHERE doc_id % 2 = 1)
    )
    SELECT doc_id AS media_id, 'image' AS kind,
           CAST({13 + _PPM_DATA} AS INT) AS n_bytes,
           CAST({ppm_csv} AS VARCHAR) AS feature_csv
    FROM ppm2
    UNION ALL
    SELECT doc_id, 'audio', CAST({44 + _WAV_DATA} AS INT),
           CAST({wav_csv} AS VARCHAR)
    FROM wav
    """


@query("multimodal_real_codecs", oracle=_real_codec_oracle())
def multimodal_real_codecs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL media decode end-to-end — no fake kernel anywhere in this
    path: even documents become valid binary P6 PPM images (13-byte
    header + 12288 raw RGB bytes cycled from the document), odd ones
    valid 16-bit PCM WAV files (constant 44-byte header via unhex — the
    byte-rate field is 0x80, unreachable through UTF-8 string encoding);
    ``decoder="real"`` then actually PARSES both formats in the
    mapInPandas kernel (numpy header-walk + frombuffer for PPM, stdlib
    ``wave`` for WAV) and extracts real signal features. Closes the
    VERDICT "real media codec kernels" gap for every format decodable
    without external libs; compressed codecs still raise (no PIL/ffmpeg
    in the container, by documented design).

    Oracle exactness: all features are integers or sums over power-of-two
    counts (4096 pixels / samples), so both engines compute identical
    doubles; the one sqrt (rms) is taken of an exact ratio; and every
    value passes through the SAME float32 quantization (the kernel's
    Arrow schema vs DuckDB's CAST AS REAL) before 4-dp rounding. The
    Spark plumbing is the production shape: byte-aware repartition, one
    Arrow-batched decode pass, no shuffle after the scan."""
    from ..operators.multimodal import (
        PPM_MIME,
        WAV_MIME,
        extract_features,
        media_repartition,
    )

    docs = read_table(spark, sf_dir, "documents")
    is_img = F.col("doc_id") % 2 == 0
    ppm_blob = F.concat(
        F.encode(F.lit(_PPM_HEADER), "UTF-8"),
        F.encode(F.expr(_PPM_D_SQL), "UTF-8"),
    )
    wav_blob = F.concat(
        F.unhex(F.lit(_WAV_HEADER_HEX)),
        F.encode(F.expr(_WAV_D_SQL), "UTF-8"),
    )
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(is_img, "image").otherwise("audio").alias("kind"),
        F.when(is_img, ppm_blob).otherwise(wav_blob).alias("content"),
        F.struct(
            F.when(is_img, PPM_MIME).otherwise(WAV_MIME).alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(512).alias("duration_ms"),
        ).alias("meta"),
    )
    feats = extract_features(media_repartition(media), decoder="real")
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        F.concat_ws(
            ",",
            F.transform(
                "feature", lambda x: F.round(x.cast("double"), 4).cast("string")
            ),
        ).alias("feature_csv"),
    )


def _real_resize_oracle() -> str:
    return f"""
    WITH px AS (
        SELECT doc_id,
               list_transform(range(0, 4096),
                   i -> (ascii(substr(d, 3*i + 1, 1)) + ascii(substr(d, 3*i + 2, 1))
                         + ascii(substr(d, 3*i + 3, 1))) // 3) AS gray
        FROM (SELECT doc_id, {_PPM_D_SQL} AS d FROM documents)
    )
    SELECT doc_id AS media_id, 8 AS width, 8 AS height,
           md5(array_to_string(
               flatten(list_transform(range(0, 8), j ->
                   list_transform(range(0, 8), i ->
                       chr(CAST(list_sum(list_transform(flatten(
                           list_transform(range(0, 8), bj ->
                               list_transform(range(0, 8), bi ->
                                   (j*8 + bj) * 64 + i*8 + bi))),
                           p -> gray[p + 1])) // 64 AS INT))))), '')) AS content_md5
    FROM px
    """


@query("multimodal_real_resize", oracle=_real_resize_oracle())
def multimodal_real_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: valid P6 PPM blobs (cycled document bytes as
    pixels) through ``resizer="real"`` — an actual numpy decode +
    integer grayscale area-mean pooling (gray=(r+g+b)//3 per pixel,
    8×8 block-sum // 64), nothing faked. Every step is exact integer
    arithmetic, so the DuckDB oracle reconstructs the pooled output
    bytes and both engines md5 them — the full decode→resize path is
    hash-verified. Same scale plumbing as the fake-kernel twin
    (byte-aware repartition, Arrow batching, map-only)."""
    from ..operators.multimodal import PPM_MIME, media_repartition, resize_images

    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.concat(
            F.encode(F.lit(_PPM_HEADER), "UTF-8"),
            F.encode(F.expr(_PPM_D_SQL), "UTF-8"),
        ).alias("content"),
        F.struct(
            F.lit(PPM_MIME).alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(0).alias("duration_ms"),
        ).alias("meta"),
    )
    resized = resize_images(media_repartition(media), resizer="real")
    return resized.select(
        "media_id", "width", "height", F.md5("content").alias("content_md5")
    )


def _rolling_fp_oracle(k: int = 8, window: int = 4) -> str:
    """DuckDB twin of operators.text.rolling_hash_fingerprints: replay the
    Rabin–Karp polynomial hash (list_reduce with a BIGINT accumulator — the
    INT32 path overflows at B=257) and the winnowing window minima, then md5
    the comma-joined sorted-distinct fingerprint set on both sides.
    DuckDB's list_slice is inclusive-of-end, vs Spark's slice(start, len)."""
    b, m = 257, 2_147_483_647
    return f"""
    WITH codes AS (
        SELECT doc_id,
               list_transform(range(1, length(text) + 1),
                   p -> CAST(ascii(substr(text, CAST(p AS INT), 1)) AS BIGINT)) AS cs
        FROM documents
        WHERE length(text) >= {k + window - 1}
    ),
    grams AS (
        SELECT doc_id,
               list_transform(range(1, len(cs) - {k - 1} + 1),
                   i -> list_reduce(
                            list_prepend(CAST(0 AS BIGINT),
                                list_slice(cs, CAST(i AS INT), CAST(i + {k - 1} AS INT))),
                            (acc, x) -> (acc * {b} + x) % {m})) AS gh
        FROM codes
    ),
    wins AS (
        SELECT doc_id, len(gh) AS n_grams,
               list_sort(list_distinct(
                   list_transform(range(1, len(gh) - {window - 1} + 1),
                       i -> list_min(list_slice(gh, CAST(i AS INT),
                                                CAST(i + {window - 1} AS INT)))))) AS fps
        FROM grams
    )
    SELECT doc_id,
           CAST(n_grams AS INT) AS n_grams,
           CAST(len(fps) AS INT) AS n_fps,
           fps[1] AS fp_min,
           md5(array_to_string(fps, ',')) AS fp_md5
    FROM wins
    """


@query("rolling_hash_fingerprints", oracle=_rolling_fp_oracle())
def rolling_hash_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints over a Rabin–Karp rolling hash (operators/
    text.py:rolling_hash_fingerprints): every 8-char gram hashed with the
    B=257 / M=2^31−1 polynomial, minima over 4-gram windows, sorted distinct
    set per document. Portable modular arithmetic, so the oracle recomputes
    the exact fingerprint sets; both engines md5 the joined set so the full
    value vector is hash-verified without shipping wide rows."""
    from ..operators.text import rolling_hash_fingerprints

    docs = read_table(spark, sf_dir, "documents")
    fps = rolling_hash_fingerprints(docs, "doc_id", "text")
    return fps.select(
        "doc_id",
        "n_grams",
        F.size("fingerprints").alias("n_fps"),
        F.element_at("fingerprints", 1).alias("fp_min"),
        F.md5(F.concat_ws(",", F.transform("fingerprints", lambda h: h.cast("string")))).alias(
            "fp_md5"
        ),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(unnest(range(0, greatest(length(text) * 10, 1), 1000)) AS INT) AS frame_ms
    FROM documents
    WHERE doc_id % 3 = 2
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing (operators/multimodal.py:
    frame_sample_plan): synthesize video rows with duration_ms = 10·n_chars,
    explode a frame timeline every 1000 ms — the per-frame decode is the
    stubbed step; the explode/partition shape is the operator. Spark's
    sequence(0, d−1, 1000) is inclusive-of-end; DuckDB's range(0, d, 1000)
    is exclusive — same values, with greatest(d, 1) covering the d=0
    single-frame edge on the oracle side."""
    from ..operators.multimodal import frame_sample_plan

    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.when(F.col("doc_id") % 3 == 0, "image")
        .when(F.col("doc_id") % 3 == 1, "audio")
        .otherwise("video")
        .alias("kind"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            (F.length("text") * 10).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    return frame_sample_plan(media)


_DEDUP_CLUSTERS_ORACLE = r"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(w) >= 3
                    THEN list_distinct(list_transform(range(1, len(w) - 1),
                         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
                    ELSE [array_to_string(w, ' ')]
               END AS s
        FROM toks
    ),
    pairs AS (
        SELECT id_a, id_b FROM (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
                       / len(list_distinct(a.s || b.s)) AS jaccard
            FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ) WHERE jaccard >= 0.8
    ),
    edges AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION
        SELECT id_b AS a, id_a AS b FROM pairs
    ),
    nodes AS (SELECT DISTINCT a AS node FROM edges),
    r(node, m) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT r.node, e.b FROM r JOIN edges e ON e.a = r.m
    ),
    comp AS (SELECT node, min(m) AS canonical FROM r GROUP BY node),
    sizes AS (SELECT canonical, count(*) AS cluster_size FROM comp GROUP BY canonical)
    SELECT c.node AS doc_id, c.canonical AS canonical_id, s.cluster_size
    FROM comp c JOIN sizes s USING (canonical)
"""


# Verified near-dup pairs shared by dedup_clusters + dedup_canonical_best:
# both queries consume the IDENTICAL candidate→verify subtree (LSH
# candidates → exact Jaccard ≥ 0.8), which was ~40% of the pair's 53 s at
# sf10 when each recomputed it (VERDICT r4 item 7 / r5 item 3). The
# verified-pairs relation is tiny (near-dup pairs, not documents), so a
# lazy DISK_ONLY localCheckpoint pins it once per (application, corpus);
# deterministic, so a rebuild would produce the identical pairs — the same
# index-cache rule as advanced_ops._IVF_INDEX. Both consumers stay
# bench-ineligible per the checkpoint rule (the checkpoint would hide the
# candidate+verify phase from re-execution timers). Keyed by
# applicationId, not id(spark): a GC'd session's memory address can be
# reused by a NEW session, which would serve a DataFrame bound to a dead
# SparkContext.
_NEAR_DUP_PAIRS: dict[tuple[str, str], DataFrame] = {}


def _verified_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark import StorageLevel

    from ..operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    def _build() -> DataFrame:
        docs = read_table(spark, sf_dir, "documents")
        # chained candidate family + hashed verifier (r12) — same
        # output-preserving pipeline as ngram_jaccard_near_dups, which
        # carries the measurements and the equivalence proof.
        cand = minhash_lsh_candidates(docs, "doc_id", "text", hash_family="chained")
        near = ngram_jaccard_pairs(docs, cand).filter(F.col("jaccard") >= 0.8)
        return near.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)

    # session-scoped (identity-checked, evicting) — functions/session_cache
    return session_cache.get_df(_NEAR_DUP_PAIRS, spark, sf_dir, _build)


@query("dedup_clusters", oracle=_DEDUP_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup pipeline END: near-dup pairs (LSH candidates verified at
    exact Jaccard ≥ 0.8, same definition as ngram_jaccard_near_dups) →
    connected components (operators/graph.py large-star/small-star) →
    (doc_id, canonical_id, cluster_size) cluster assignments. A curation
    job keeps `doc_id = canonical_id` rows and drops the rest.

    The oracle recomputes the ENTIRE pipeline independently: brute-force
    all-pairs Jaccard + a recursive-CTE transitive closure with min-label
    components — so the hash match proves the distributed star-contraction
    algorithm produces exactly the textbook components. The engine side
    never materializes the O(n²) pair product nor the closure; components
    converge in O(log² n) two-aggregate rounds. The verified-pairs input
    is the checkpointed builder shared with dedup_canonical_best."""
    from ..operators.graph import dedup_cluster_assignments

    near = _verified_near_dup_pairs(spark, sf_dir)
    return dedup_cluster_assignments(near)


@query(
    "pii_redaction",
    oracle=r"""
    WITH synth AS (
        SELECT c_custkey,
               'reach ' || c_name || ' at ' || lower(replace(c_name, '#', '.'))
                   || '@example.com or call 555-' || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0')
                   || ' re account ' || CAST(floor(c_acctbal) AS INTEGER) AS raw
        FROM customer
    )
    SELECT c_custkey,
           regexp_replace(regexp_replace(raw,
               '[a-z0-9.]+@[a-z0-9.]+', '<EMAIL>', 'g'),
               '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted,
           CAST(regexp_matches(raw, '[a-z0-9.]+@[a-z0-9.]+') AS INT) AS had_email,
           CAST(regexp_matches(raw, '[0-9]{3}-[0-9]{4}') AS INT)      AS had_phone
    FROM synth
    """,
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training-data pipelines: regexp_replace-based
    email/phone redaction plus per-row detection flags. Runs on text
    synthesized deterministically from the customer table (the synthetic
    documents corpus carries no PII-shaped strings), so the oracle
    replays the exact same redaction. Pure JVM scalar expressions — no
    UDF, fully pipelined inside one WholeStageCodegen over the scan; the
    regex patterns stay in the RE2/Java-regex common subset so both
    engines agree byte-for-byte."""
    cust = read_table(spark, sf_dir, "customer")
    raw = F.concat(
        F.lit("reach "), F.col("c_name"), F.lit(" at "),
        F.lower(F.replace(F.col("c_name"), F.lit("#"), F.lit("."))),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("c_custkey") % 10000).cast("string"), 4, "0"),
        F.lit(" re account "), F.floor("c_acctbal").cast("int").cast("string"),
    )
    email, phone = r"[a-z0-9.]+@[a-z0-9.]+", r"[0-9]{3}-[0-9]{4}"
    synth = cust.select("c_custkey", raw.alias("raw"))
    return synth.select(
        "c_custkey",
        F.regexp_replace(
            F.regexp_replace("raw", email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("redacted"),
        F.col("raw").rlike(email).cast("int").alias("had_email"),
        F.col("raw").rlike(phone).cast("int").alias("had_phone"),
    )


@query(
    "repetition_scores",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
        FROM documents
    ),
    grams AS (
        SELECT doc_id, w,
               list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS bg
        FROM toks
        WHERE len(w) >= 2
    )
    SELECT doc_id,
           CAST(len(w) AS INT) AS n_tokens,
           round(CAST(list_max(list_transform(list_distinct(w),
                     t -> len(list_filter(w, x -> x = t)))) AS DOUBLE) / len(w), 6)
               AS top_unigram_frac,
           round(CAST(list_max(list_transform(list_distinct(bg),
                     t -> len(list_filter(bg, x -> x = t)))) AS DOUBLE) / len(bg), 6)
               AS top_bigram_frac
    FROM grams
    """,
)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals: per-document fraction of
    tokens taken by the most frequent unigram and bigram (high values =
    boilerplate/degenerate text a curation pipeline drops).

    Engine shape: explode each n-gram stream once, two-level partial
    aggregate — count per (doc, gram), then max/sum per doc — so the
    shuffle carries gram counts, never documents, and skewed giant
    documents parallelize across their grams (the oracle's per-row
    quadratic list scan is exactly the non-distributed form this
    replaces). Unigram and bigram branches reuse one tokenized scan and
    rejoin on doc_id (co-partitioned: both aggregates hash on doc_id)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w")
    ).filter(F.size("w") >= 2)

    def top_frac(gram: F.Column, out: str) -> DataFrame:
        # Build the n-gram INSIDE the explode's own projection: a
        # separate pre-projection of the bigram array measured 19×
        # slower at sf10 (38 s vs 2 s — the intermediate Project
        # materializes and re-serializes the array column between
        # codegen stages); the single-select Generate form evaluates
        # the transform once per row and streams elements out.
        return (
            toks.select("doc_id", F.explode(gram).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("doc_id")
            .agg(
                F.round(
                    F.max("cnt").cast("double") / F.sum("cnt").cast("double"), 6
                ).alias(out)
            )
        )

    bigrams = F.expr(
        "transform(sequence(1, size(w) - 1),"
        " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
    )
    uni = top_frac(F.col("w"), "top_unigram_frac")
    bi = top_frac(bigrams, "top_bigram_frac")
    base = toks.select("doc_id", F.size("w").alias("n_tokens"))
    return base.join(uni, "doc_id").join(bi, "doc_id")


def _canonical_best_oracle() -> str:
    return f"""
    WITH RECURSIVE {_DEDUP_CLUSTERS_ORACLE.split('WITH RECURSIVE', 1)[1].rsplit('SELECT c.node', 1)[0].rstrip().rstrip(',')},
    assigned AS (
        SELECT c.node AS doc_id, c.canonical AS cluster_id, s.cluster_size
        FROM comp c JOIN sizes s USING (canonical)
    )
    SELECT a.cluster_id, CAST(max(a.cluster_size) AS BIGINT) AS cluster_size,
           max_by(a.doc_id, d.n_chars * 10000000 - a.doc_id) AS keep_doc_id,
           max_by(d.n_chars, d.n_chars * 10000000 - a.doc_id) AS keep_n_chars
    FROM assigned a JOIN documents d ON d.doc_id = a.doc_id
    GROUP BY a.cluster_id
    """


@query("dedup_canonical_best", oracle=_canonical_best_oracle())
def dedup_canonical_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation END of the dedup pipeline: within each near-dup
    cluster (LSH candidates → exact Jaccard ≥ 0.8 → connected
    components), KEEP the best member — here the longest document, ties
    to the smaller doc_id via an exact integral ranking key
    (n_chars·10^7 − doc_id), computed with max_by so selection is one
    aggregate over the cluster assignments, not a window sort. A 100-TB
    curation job then semi-joins the corpus on keep_doc_id. The
    verified-pairs input is the checkpointed builder shared with
    dedup_clusters."""
    from ..operators.graph import dedup_cluster_assignments

    docs = read_table(spark, sf_dir, "documents")
    near = _verified_near_dup_pairs(spark, sf_dir)
    assigned = dedup_cluster_assignments(near)
    rank = (F.col("n_chars") * 10000000 - F.col("doc_id")).cast("long")
    return (
        assigned.join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy(F.col("canonical_id").alias("cluster_id"))
        .agg(
            F.max("cluster_size").alias("cluster_size"),
            F.max_by("doc_id", rank).alias("keep_doc_id"),
            F.max_by("n_chars", rank).alias("keep_n_chars"),
        )
    )


@query(
    "distinct_ngram_diversity",
    oracle=r"""
    WITH toks AS (
        -- empty-token filter matches zipf_slope_by_source's w <> ''
        -- convention: an empty/whitespace-only doc splits to [''], which
        -- would otherwise count as a unigram (ADVICE r6)
        SELECT source, list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                                   t -> t <> '') AS w
        FROM documents
    ),
    g AS (
        SELECT source, 1 AS n, unnest(w) AS gram FROM toks
        UNION ALL
        SELECT source, 2, unnest(list_transform(range(1, len(w)),
                                 i -> w[i] || ' ' || w[i+1]))
        FROM toks WHERE len(w) >= 2
        UNION ALL
        SELECT source, 3, unnest(list_transform(range(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        FROM toks WHERE len(w) >= 3
    )
    SELECT source, n,
           CAST(count(DISTINCT gram) AS BIGINT) AS n_distinct,
           CAST(count(*) AS BIGINT) AS n_total,
           round(count(DISTINCT gram)::DOUBLE / count(*), 6) AS distinct_ratio
    FROM g GROUP BY source, n
    """,
)
def distinct_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity report: distinct-n (unique n-grams / total
    n-grams, n = 1..3) per source — the standard degenerate-generation /
    boilerplate detector for LLM training and eval corpora (low
    distinct-2/3 = repetitive or template-heavy source; the linear-cost
    stand-in for pairwise self-BLEU).

    Plan shape: ONE exploded pass tagging each n-gram with its n (the
    three gram streams are built inside the same generator projection),
    then count-distinct via two-level partial aggregation — groupBy
    (source, n, gram-hash) map-combines to unique grams before any
    shuffle, then (source, n) folds counts, so the exchange carries
    |vocab|-scale rows, never corpus-scale token streams. No windows,
    no joins.

    Gram identity is the CHAINED-xxhash64 family (the minhash fast-path
    lesson): each token is hashed ONCE, and a bigram/trigram hash chains
    the neighbouring token HASHES (multi-arg xxhash64 — the accumulated
    seed disambiguates boundaries, no ' '-joined string is ever built),
    so n-gram strings are never materialized and the distinct shuffle
    carries 8-byte longs instead of ~20-40-byte trigram strings. The
    oracle counts DISTINCT over the raw gram strings — equal counts
    absent 2^-64 hash collisions (hash values never reach the output;
    the sparse_shingle/exact-substring portability rule). r8 sf1
    anatomy of the string form: 1.66 s = tokenize 0.19 + gram-string
    build 0.39 + explode 0.20 + distinct agg 0.77 + final 0.10; the
    hash family removes most of the build and agg terms."""
    docs = read_table(spark, sf_dir, "documents")
    # empty-token filter — zipf_slope_by_source's convention, both engines
    toks = docs.select(
        "source",
        F.filter(
            F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != ""
        ).alias("w"),
    )
    hashed = toks.select(
        "source", F.expr("transform(w, t -> xxhash64(t))").alias("h")
    )
    grams = F.expr(
        "concat("
        " transform(h, x -> struct(1 AS n, x AS gh)),"
        " CASE WHEN size(h) >= 2 THEN transform(sequence(1, size(h) - 1),"
        "   i -> struct(2 AS n, xxhash64(element_at(h, i),"
        "                                element_at(h, i + 1)) AS gh))"
        "      ELSE array() END,"
        " CASE WHEN size(h) >= 3 THEN transform(sequence(1, size(h) - 2),"
        "   i -> struct(3 AS n, xxhash64(element_at(h, i),"
        "                                element_at(h, i + 1),"
        "                                element_at(h, i + 2)) AS gh))"
        "      ELSE array() END)"
    )
    exploded = hashed.select("source", F.explode(grams).alias("g")).select(
        "source", "g.n", "g.gh"
    )
    per_gram = exploded.groupBy("source", "n", "gh").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_gram.groupBy("source", "n").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("cnt").cast("long").alias("n_total"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("cnt").cast("double"), 6
        ).alias("distinct_ratio"),
    )


@query(
    "zipf_slope_by_source",
    oracle=r"""
    WITH tf AS (
        SELECT source, w AS term, count(*) AS c
        FROM (SELECT source,
                     unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS w
              FROM documents)
        WHERE w <> ''
        GROUP BY source, w
    ),
    ranked AS (
        SELECT source,
               ln(CAST(row_number() OVER (PARTITION BY source
                                          ORDER BY c DESC, term) AS DOUBLE)) AS x,
               ln(CAST(c AS DOUBLE)) AS y
        FROM tf
    ),
    m AS (SELECT source, avg(x) AS mx, avg(y) AS my,
                 CAST(count(*) AS BIGINT) AS vocab
          FROM ranked GROUP BY source
          HAVING count(*) >= 2)
    SELECT r.source, m.vocab,
           round(sum((r.x - m.mx) * (r.y - m.my)) / sum((r.x - m.mx) * (r.x - m.mx)), 6)
               AS zipf_slope
    FROM ranked r JOIN m ON m.source = r.source
    GROUP BY r.source, m.vocab
    """,
)
def zipf_slope_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per source: OLS slope of ln(frequency) over
    ln(rank) across the source's token frequency table — natural text
    sits near −1; template/generated sources drift toward flat (0) or
    cliff-like (≪−1) curves, making the slope a cheap corpus-level
    quality fingerprint (Zipf 1949; Piantadosi 2014 review).

    Plan shape: the frequency table is one exploded partial-agg pass
    (shuffle carries (source, term) counts, |vocab|-scale); ranking is a
    window over per-SOURCE partitions of vocab size — bounded by the
    vocabulary, not the corpus, so the window never sees corpus-scale
    rows (ranks tie-break on the term for determinism); the per-source
    means ride a SECOND window over the SAME source partitioning, so
    Spark plans both windows behind one exchange and the corpus-scale
    tokenize/explode subtree is evaluated ONCE — the aggregate-then-join
    form re-ran it for the means relation (the no-CSE
    twice-referenced-subtree pitfall). Single-term sources are excluded
    (vocab ≥ 2, both engines): one rank gives Sxx = 0 and 0/0 diverges
    across engines (Spark NULL vs DuckDB IEEE NaN). ln() is the only
    transcendental — 6-dp rounding on both sides absorbs libm ulps."""
    docs = read_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    tf = (
        docs.select(
            "source",
            F.explode(F.split(F.lower(F.trim("text")), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("c"), "term")
    ranked = tf.select(
        "source",
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("c").cast("double")).alias("y"),
    )
    wsrc = Window.partitionBy("source")
    centered = ranked.select(
        "source",
        "x",
        "y",
        F.avg("x").over(wsrc).alias("mx"),
        F.avg("y").over(wsrc).alias("my"),
        F.count(F.lit(1)).over(wsrc).cast("long").alias("vocab"),
    ).filter(F.col("vocab") >= 2)
    return centered.groupBy("source", "vocab").agg(
        F.round(
            F.sum((F.col("x") - F.col("mx")) * (F.col("y") - F.col("my")))
            / F.sum((F.col("x") - F.col("mx")) * (F.col("x") - F.col("mx"))),
            6,
        ).alias("zipf_slope")
    )
