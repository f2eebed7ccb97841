"""LLM-data-pipeline operators (SURVEY.md §2B ◆, BASELINE north star):
dedup, text analysis, similarity search over the driver's ``documents`` /
``embeddings`` tables.

These are first-class engine operators, not demos — each is shaped for the
100-TB case (hash-partitioned groupBys, broadcast-free band joins, no
driver-side loops); the heavy variants live in operators/dedup.py and
operators/similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table
from . import query


# cosine_topk physical-strategy crossover (the named-knob convention of
# retrieval._SPARSE_PIN_BYTES): at/below this embeddings size the
# constant-literal pure-JVM scan wins (no Python-worker round trips);
# above it interpreted-HOF cost grows with rows and the mapInArrow GEMM
# kernel takes over. Measured: const 0.060 s vs arrow 0.15 s at sf1
# (5 MB); arrow wins from ~sf10 (51 MB) where HOF interpretation
# dominates. BENCH.md r7 has the full anatomy.
_CONST_IMPL_BYTES = 32 << 20


@query(
    "dedup_exact",
    oracle="""
    SELECT min(doc_id) AS doc_id, text, count(*) AS n_copies
    FROM documents
    GROUP BY text
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: one representative (min doc_id — pinned, unlike
    dropDuplicates' arbitrary pick) per distinct text, with copy counts.
    Hash-groupBy on the text; at 100 TB group on a 128-bit hash of the text
    (md5) instead, so the shuffle moves 16-byte keys, not documents."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    ).select("doc_id", "text", "n_copies")


@query(
    "text_stats",
    oracle="""
    SELECT lang, source,
           count(*)                   AS n_docs,
           round(avg(n_chars), 4)     AS avg_chars,
           max(n_chars)               AS max_chars,
           round(avg(length(text)), 4) AS avg_len
    FROM documents
    GROUP BY lang, source
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per (lang, source) — the aggregate shape of corpus
    curation dashboards."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg(F.length("text")), 4).alias("avg_len"),
    )


@query(
    "token_counts",
    oracle="""
    SELECT doc_id,
           length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           length(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+'))
               AS n_bpe_tokens,
           length(text) AS n_chars_actual
    FROM documents
    WHERE length(trim(text)) > 0
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting per document, two estimators (SURVEY.md §2B text
    analysis ◆): whitespace split, and a GPT-2-style BPE pre-tokenizer
    regex (letter runs / digit runs / punctuation runs, each optionally
    space-prefixed) — the cheap proxy for real tokenizer counts that
    data-mixing pipelines budget with. Pure column expressions — no UDF,
    stays in codegen."""
    docs = read_table(spark, sf_dir, "documents")
    bpe = " ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+"
    return docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
        F.size(F.expr(f"regexp_extract_all(lower(text), '{bpe}', 0)")).alias(
            "n_bpe_tokens"
        ),
        F.length("text").alias("n_chars_actual"),
    )


@query(
    "quality_scores",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang,
               length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(text) AS n_chars,
               length(text) - length(replace(text, ' ', '')) AS n_spaces,
               length(regexp_split_to_array(lower(text), '\\bthe\\b')) - 1 AS n_stopword
        FROM documents WHERE length(trim(text)) > 0
    )
    SELECT doc_id, lang, n_tokens,
           round(CAST(n_chars AS DOUBLE) / nullif(n_tokens, 0), 4)   AS avg_token_len,
           round(CAST(n_stopword AS DOUBLE) / nullif(n_tokens, 0), 4) AS stopword_ratio
    FROM scored
    """,
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality scoring: token length + stopword ratio per doc
    (length/punct/stopword-ratio family, SURVEY.md §2B ◆). All built-ins."""
    from ..functions.scrub import safe_div

    docs = read_table(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    n_chars = F.length("text")
    n_stop = F.size(F.split(F.lower("text"), r"\bthe\b")) - 1
    scored = docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        n_chars.alias("n_chars"),
        n_stop.alias("n_stopword"),
    )
    return scored.select(
        "doc_id",
        "lang",
        "n_tokens",
        F.round(safe_div(F.col("n_chars").cast("double"), F.col("n_tokens")), 4).alias("avg_token_len"),
        F.round(safe_div(F.col("n_stopword").cast("double"), F.col("n_tokens")), 4).alias("stopword_ratio"),
    )


@query(
    "embedding_norms",
    oracle="""
    SELECT label,
           count(*) AS n_vectors,
           round(avg(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))), 4) AS avg_l2_norm
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norms over the embedding array column via higher-order functions
    (aggregate/transform) — JVM-side vector math, no Python UDF."""
    emb = read_table(spark, sf_dir, "embeddings")
    sq_sum = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(F.avg(F.sqrt(sq_sum)), 4).alias("avg_l2_norm"),
    )


@query(
    "cosine_topk",
    oracle="""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    sims AS (
        -- DOUBLE[] widening before the similarity: FLOAT[] would
        -- accumulate in float32, ~2 ulp off the engine's double math
        SELECT e.vec_id,
               round(list_cosine_similarity(
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv), 6) AS cosine
        FROM embeddings e, q
        WHERE e.vec_id <> 0
    )
    SELECT vec_id, cosine FROM sims
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against one query vector — the exact
    baseline; the IVF scale path is ``ivf_cosine_topk``. The query vector
    is collected ONCE per (application, corpus) into the session
    query-bank cache, so every (re-)execution is
    a SINGLE shuffle-free job; the prior form (broadcast subquery job +
    scan job per execution) was 6.7× DuckDB at sf1 purely in second-job
    dispatch. Physical strategy is size-gated like a CBO: small corpora
    inline the cached vector as a constant-literal codegen scan (no
    Python workers — 0.060 s/exec at sf1, the local dispatch floor);
    at scale the mapInArrow GEMM kernel wins (interpreted HOF cost grows
    with rows, kernel dispatch doesn't). Job count is pinned by
    tests/test_plan_shapes.py. Ranks on the 6dp-rounded score, the
    oracle's ORDER BY grid."""
    from ..operators.similarity import cosine_topk_brute
    from ..sources.tables import table_bytes, table_fingerprint

    emb = read_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    eb = table_bytes(sf_dir, "embeddings")
    # fingerprinted key: the bank pins collected DATA, so a regenerated
    # table under the same (gitignored, routinely rebuilt) path must
    # invalidate instead of silently serving the old query vector
    fp = table_fingerprint(sf_dir, "embeddings")
    out = cosine_topk_brute(
        emb.filter(F.col("vec_id") != 0),
        qv,
        k=10,
        impl="const" if 0 < eb <= _CONST_IMPL_BYTES else "arrow",
        cache_key=f"{sf_dir}::{fp}::cosine_topk",
    )
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


@query(
    "cosine_topk_batch",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id,
                      list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id < 5),
    sims AS (
        -- float32 lists must be widened BEFORE the similarity: DuckDB
        -- accumulates FLOAT[] in float32 (≈2 ulp off the engine's double
        -- math at the 6th decimal), DOUBLE[] in double
        SELECT q.query_id, e.vec_id,
               round(list_cosine_similarity(
                   list_transform(e.embedding, x -> CAST(x AS DOUBLE)), q.qv), 6) AS cosine
        FROM embeddings e, q
        WHERE e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cosine
    FROM sims
    QUALIFY row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, vec_id) <= 5
    """,
)
def cosine_topk_batch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query exact top-k for a batch of query vectors — WindowGroupLimit
    keeps the rank filter map-side (shuffle ≤ k·partitions rows/query)."""
    from ..operators.similarity import cosine_topk_batch

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    from ..sources.tables import table_fingerprint

    return cosine_topk_batch(
        emb,
        queries,
        k=5,
        cache_key=f"{sf_dir}::{table_fingerprint(sf_dir, 'embeddings')}::cosine_topk_batch",
    )


def simhash_sig_sql() -> str:
    """DuckDB CTE chain computing md5-family SimHash fingerprints
    (``fp(doc_id, simhash)``) exactly as operators/dedup.py's
    ``simhash_fingerprint``: token md5 → four 16-bit
    chunks → 64 signed bit votes → sign → ``%04x``×4 hex fingerprint."""
    chunk = lambda c: f"('0x' || substr(md5(tok), {4 * c + 1}, 4))::BIGINT AS c{c}"
    votes = ",\n               ".join(
        f"sum(CASE WHEN ((c{i // 16} >> {i % 16}) & 1) = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    keys = [
        " | ".join(f"(CASE WHEN b{16 * c + b} > 0 THEN 1 ELSE 0 END << {b})" for b in range(16))
        for c in range(4)
    ]
    return f"""
    toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
        FROM documents
    ),
    ch AS (
        SELECT doc_id, {chunk(0)}, {chunk(1)}, {chunk(2)}, {chunk(3)}
        FROM toks
    ),
    sig AS (
        SELECT doc_id,
               {votes}
        FROM ch GROUP BY doc_id
    ),
    fp AS (
        SELECT doc_id,
               printf('%04x%04x%04x%04x', {keys[0]}, {keys[1]}, {keys[2]}, {keys[3]}) AS simhash
        FROM sig
    )
    """


def _simhash_pairs_oracle() -> str:
    ham = " + ".join(
        f"bit_count(xor(('0x' || substr(a.simhash, {4 * c + 1}, 4))::BIGINT,"
        f" ('0x' || substr(b.simhash, {4 * c + 1}, 4))::BIGINT))"
        for c in range(4)
    )
    bands = "\n        UNION ALL\n".join(
        f"SELECT doc_id, simhash, {c} AS band,"
        f" ('0x' || substr(simhash, {4 * c + 1}, 4))::BIGINT AS key FROM fp"
        for c in range(4)
    )
    return f"""
    WITH {simhash_sig_sql()},
    bands AS (
        {bands}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({ham} AS INT) AS hamming
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    WHERE {ham} <= 3
    """


@query("simhash_near_dup", oracle=_simhash_pairs_oracle())
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate pairs over documents: 64-bit fingerprints,
    banded self-join blocking, exact Hamming filter (SURVEY.md §2B ◆), in
    the portable md5 hash family so the DuckDB oracle independently
    recomputes fingerprints, blocking AND the surviving pair set. The
    xxhash64 family (operators/dedup.py) stays the cheaper scale default,
    pytest-covered.

    Blocking is pigeonhole-exact: with the fingerprint split into 4×16-bit
    bands, any pair within Hamming distance 3 shares at least one whole
    band, so the self-join on (band, key) misses nothing while touching
    ~n/2^16 of the pair space per band. The fingerprint table (one short
    string per doc) is persisted so the self-join doesn't recompute the
    token pass."""
    from ..operators.dedup import simhash_fingerprint

    docs = read_table(spark, sf_dir, "documents")
    # Bucket-collect pairing (same shape as minhash's bucket_agg): bands
    # group to (band, key) buckets whose member list explodes to in-bucket
    # pairs — the fingerprint pass is consumed ONCE, so the whole query is
    # a single lazy plan with no persist/checkpoint lifecycle (an earlier
    # self-join form needed a scoped persist to avoid recomputing the
    # token pass per side). Bucket width is ~n/2^16 per band by pigeonhole,
    # so the collected lists stay small; a degenerate fingerprint cluster
    # is the same skew ceiling the minhash docstring documents.
    fp = simhash_fingerprint(docs, "doc_id", "text")
    # parse the hex fingerprint into its four 16-bit chunk INTS once per
    # document and carry those through banding — the per-PAIR Hamming then
    # costs 4 int xor+bit_counts instead of 8 conv(substring(hex)) string
    # parses. At sf10 the banded candidate set is ~2e8 pairs (correlated
    # synthetic simhashes collide heavily on 16-bit keys), so per-pair
    # constant factors are the whole game.
    withc = fp.select(
        "doc_id",
        # chunk c = hex chars 4c+1..4c+4
        *[F.conv(F.substring("simhash", 4 * i + 1, 4), 16, 10).cast("int").alias(f"c{i}") for i in range(4)],
    )
    bands = withc.select(
        "doc_id",
        *[F.col(f"c{i}") for i in range(4)],
        F.explode(
            F.array(*[F.struct(F.lit(i).alias("band"), F.col(f"c{i}").alias("key")) for i in range(4)])
        ).alias("b"),
    ).select("doc_id", "c0", "c1", "c2", "c3", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    buckets = bands.groupBy("band", "key").agg(
        F.array_sort(
            F.collect_list(F.struct("doc_id", "c0", "c1", "c2", "c3"))
        ).alias("ms")
    ).filter(F.size("ms") >= 2)
    # two-generator streaming pair expansion (same O(k)-live-memory shape
    # as minhash's bucket_agg — a flatten(transform(...)) materializes the
    # whole k² pair array per degenerate duplicate bucket and OOMs)
    pairs = (
        buckets.select(F.posexplode("ms").alias("__i", "__x"), "ms")
        .select(
            "__x",
            F.explode(F.expr("slice(ms, __i + 2, size(ms) - __i - 1)")).alias("__y"),
        )
    )
    hamming = sum(
        (
            F.bit_count(F.col(f"__x.c{i}").bitwiseXOR(F.col(f"__y.c{i}")))
            for i in range(4)
        ),
        F.lit(0),
    )
    return (
        pairs.select(
            F.col("__x.doc_id").alias("id_a"),
            F.col("__y.doc_id").alias("id_b"),
            hamming.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
    )


def _minhash_oracle(num_hashes: int = 64, bands: int = 16) -> str:
    """DuckDB twin of the FULL MinHash+LSH pipeline in the portable
    universal-hash family: shingle → 32-bit md5-prefix base → 64
    ``(a_i·x + b_i) mod (2^31−1)`` mins (minhash_coeffs constants) → md5
    band keys → band self-join → per-pair band counts."""
    from ..operators.dedup import MERSENNE31, minhash_coeffs

    r = num_hashes // bands
    mins = ",\n               ".join(
        f"min(({a} * x + {b}) % {MERSENNE31}) AS m{i}"
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    )
    band_blocks = "\n        UNION ALL\n".join(
        "SELECT doc_id, {b} AS band_idx, md5(concat_ws(',', {key})) AS band_hash FROM sig".format(
            b=b, key=", ".join(f"m{i}" for i in range(b * r, (b + 1) * r))
        )
        for b in range(bands)
    )
    return f"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS w
        FROM documents
    ),
    sh AS (
        SELECT doc_id,
               unnest(CASE WHEN len(w) >= 3
                   THEN list_transform(range(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                   ELSE [array_to_string(w, ' ')] END) AS s
        FROM toks
    ),
    hb AS (SELECT doc_id, ('0x' || substr(md5(s), 1, 8))::BIGINT AS x FROM sh),
    sig AS (SELECT doc_id,
               {mins}
            FROM hb GROUP BY doc_id),
    bands AS (
        {band_blocks}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_bands_shared
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """


@query("minhash_near_dup", oracle=_minhash_oracle())
def minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-duplicate candidate pairs over documents
    (shingle → minhash → band → bucket join; SURVEY.md §2B ◆), in the
    portable universal-hash family so the ENTIRE approximate pipeline —
    base hashes, the 64 permutation mins, band keys, the candidate set
    itself — is independently recomputed by the DuckDB oracle, at
    ~xxhash64-family cost (one md5 per shingle + codegen multiply-add-mod
    permutations). The xxhash64 default family stays available; pytest
    covers it against exact Jaccard."""
    from ..operators.dedup import minhash_lsh_candidates

    docs = read_table(spark, sf_dir, "documents")
    # bucket_agg pairing: the whole query is ONE lazy plan (signatures →
    # band buckets → in-bucket pairs, each band entry consumed once), so
    # re-executing the returned DataFrame re-runs the full pipeline — no
    # persist lifecycle, no checkpoint materialization hiding work from
    # benchmark timings. self_join (+scoped persist) remains the operator's
    # alternative for skew-prone corpora.
    return minhash_lsh_candidates(
        docs,
        id_col="doc_id",
        text_col="text",
        hash_family="portable",
        pair_strategy="bucket_agg",
    )


@query("minhash_near_dup_fast")
def minhash_near_dup_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs in the concat-free ``chained`` hash
    family — the throughput path next to ``minhash_near_dup``'s portable
    (oracle-provable) family. The honest floor of the string families is
    shingle-string materialization (~26M CONCAT allocations at sf10
    dominate; the hash choice moves <25% — NOTES r3): here each token
    hashes once and every k-window combines three cached 64-bit hashes in
    codegen, so no shingle string exists anywhere in the plan. Registered
    rows-only (fingerprints are engine-internal 64-bit mixes; pair-level
    guarantees — identical-token-sequence collision, planted-near-dup
    recall, Jaccard precision of candidates — are pinned by pytest, the
    same split text_profile_fast uses; additionally
    test_minhash_fast_family_pairs_match_portable_at_sf001 pins this
    query's candidate PAIR SET equal to the oracle-verified portable
    family's at sf0.01 — a deterministic cross-family containment
    proof)."""
    from ..operators.dedup import minhash_lsh_candidates

    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(
        docs,
        id_col="doc_id",
        text_col="text",
        hash_family="chained",
        pair_strategy="bucket_agg",
    )


def _sample_oracle() -> str:
    from ..operators.sampling import rate_threshold_hex

    thr = rate_threshold_hex(0.1)
    return f"""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS o_totalprice
    FROM orders
    WHERE substr(md5('42:' || CAST(o_orderkey AS VARCHAR)), 1, 8) < '{thr}'
    """


@query("hash_sample_orders", oracle=_sample_oracle())
def hash_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample keyed on o_orderkey: membership is a pure
    function of the key (operators/sampling.py), so the SAME rows are kept
    under any partitioning, file layout, or engine — the oracle recomputes
    membership independently in DuckDB and must select the identical rows.
    Map-only; the predicate fuses into the scan."""
    from ..operators.sampling import hash_sample

    orders = read_table(spark, sf_dir, "orders")
    return hash_sample(orders, "o_orderkey", 0.1).select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


def _stratified_oracle() -> str:
    from ..operators.sampling import rate_threshold_hex

    t_b, t_a, t_d = (rate_threshold_hex(r) for r in (0.5, 0.2, 0.05))
    return f"""
    SELECT c_mktsegment, count(*) AS n_sampled, count(DISTINCT c_custkey) AS n_keys
    FROM customer
    WHERE substr(md5('42:' || CAST(c_custkey AS VARCHAR)), 1, 8) <
          CASE c_mktsegment WHEN 'BUILDING' THEN '{t_b}'
                            WHEN 'AUTOMOBILE' THEN '{t_a}'
                            ELSE '{t_d}' END
    GROUP BY c_mktsegment
    """


@query("stratified_sample_counts", oracle=_stratified_oracle())
def stratified_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic rates (downsample dominant strata, keep
    more of rare ones) — the class-rebalancing primitive for training-data
    curation. Still one map-only filter: the threshold is a CASE over the
    strata column, no per-stratum pass."""
    from ..operators.sampling import stratified_hash_sample

    cust = read_table(spark, sf_dir, "customer")
    sampled = stratified_hash_sample(
        cust, key="c_custkey", strata="c_mktsegment",
        rates={"BUILDING": 0.5, "AUTOMOBILE": 0.2},
    )
    return sampled.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.countDistinct("c_custkey").alias("n_keys"),
    )


def _curation_oracle() -> str:
    """DuckDB twin of the corpus-curation composite: the same synthetic
    dup injection, md5-group exact dedup with min-id representatives,
    token/length quality gate, stopword-vote language ID (shared CASE from
    text_analysis), and the final per-language accounting rollup."""
    from .text_analysis import _lang_score_case

    score_exprs, case = _lang_score_case()
    return f"""
    WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000, text FROM documents WHERE doc_id % 7 = 0
    ),
    winners AS (
        SELECT md5(text) AS h, min(doc_id) AS doc_id, count(*) AS n_copies
        FROM corpus GROUP BY 1
    ),
    reps AS (
        SELECT c.doc_id, c.text, w.n_copies
        FROM corpus c JOIN winners w ON c.doc_id = w.doc_id
    ),
    scored AS (
        SELECT doc_id, n_copies,
           {score_exprs},
           length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
           length(text) AS n_chars
        FROM reps
    ),
    kept AS (
        SELECT *, {case} AS lang_detected
        FROM scored
        WHERE n_tokens >= 10
          AND CAST(n_chars AS DOUBLE) / n_tokens BETWEEN 2 AND 12
    )
    SELECT lang_detected,
           CAST(count(*) AS BIGINT)          AS n_docs,
           CAST(sum(n_copies - 1) AS BIGINT) AS n_dup_copies_collapsed,
           CAST(sum(n_tokens) AS BIGINT)     AS total_tokens,
           round(avg(CAST(n_chars AS DOUBLE) / n_tokens), 4) AS avg_token_len
    FROM kept GROUP BY 1
    """


@query("curation_pipeline", oracle=_curation_oracle())
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation as ONE lazy DAG — the composition a
    training-data pipeline actually runs, built from the engine's own
    operators: exact dedup (16-byte md5 keys shuffle, min-id winners,
    id join-back — never the corpus bytes), token/length quality gate,
    stopword-vote language ID, per-language accounting rollup.

    The testdata corpus has no exact duplicate texts, so a deterministic
    dup set is injected first (key-shifted copies of every 7th doc,
    mirrored in the oracle) — the dedup stage provably collapses
    something, rather than passing vacuously on already-unique data.

    Scale shape: the only wide shuffles are the md5-group (16-byte keys)
    and the id join-back; scoring and language ID are map-side column
    expressions; the final rollup is a partial-agg over a handful of
    language keys."""
    from ..operators.text import lang_id

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionAll(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
    )
    winners = (
        corpus.select("doc_id", F.md5("text").alias("__h"))
        .groupBy("__h")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("doc_id", "n_copies")
    )
    reps = corpus.join(winners, "doc_id")
    n_tokens = F.size(F.split(F.trim("text"), r"\s+"))
    scored = reps.select(
        "doc_id",
        "n_copies",
        lang_id("text").alias("lang_detected"),
        n_tokens.alias("n_tokens"),
        F.length("text").alias("n_chars"),
    )
    ratio = F.col("n_chars").cast("double") / F.col("n_tokens")
    kept = scored.filter((F.col("n_tokens") >= 10) & (ratio >= 2) & (ratio <= 12))
    return kept.groupBy("lang_detected").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_copies") - 1).alias("n_dup_copies_collapsed"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg(F.col("n_chars").cast("double") / F.col("n_tokens")), 4).alias(
            "avg_token_len"
        ),
    )


@query(
    "embedding_quantize",
    oracle="""
    WITH v AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
        FROM embeddings
    ),
    rng AS (
        SELECT vec_id, ve, list_min(ve) AS lo,
               (list_max(ve) - list_min(ve)) / 255.0 AS scale
        FROM v
    ),
    q AS (
        SELECT vec_id, lo, scale,
               list_transform(ve, x -> CAST(floor((x - lo) / scale + 0.5) AS BIGINT)) AS qv,
               ve
        FROM rng
    )
    SELECT vec_id,
           round(lo, 6) AS q_min,
           round(scale, 8) AS q_scale,
           md5(array_to_string(qv, ',')) AS codes_md5,
           round(sqrt(list_sum(list_transform(
                     list_zip(ve, qv),
                     p -> pow(p[1] - (lo + p[2] * scale), 2))) / len(ve)), 8)
               AS rmse
    FROM q
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of embedding vectors (the storage/ANN
    compression step of a 100-TB vector pipeline: 4 bytes/dim float32 →
    1 byte/dim + two floats per vector). Per-vector min/max range, code
    = floor((x−min)/scale + 0.5) (explicit half-up — Spark round() and
    DuckDB round() disagree on .5 ties), md5 over the code string so the
    full code vector is hash-verified, plus reconstruction RMSE. All JVM
    higher-order functions (transform/aggregate/zip_with) — map-only, no
    shuffle, no Python in the row path."""
    emb = read_table(spark, sf_dir, "embeddings")
    ve = F.transform("embedding", lambda x: x.cast("double"))
    v = emb.select("vec_id", ve.alias("ve"))
    rng = v.select(
        "vec_id",
        "ve",
        F.array_min("ve").alias("lo"),
        ((F.array_max("ve") - F.array_min("ve")) / F.lit(255.0)).alias("scale"),
    )
    q = rng.select(
        "vec_id",
        "lo",
        "scale",
        "ve",
        F.transform(
            "ve", lambda x: F.floor((x - F.col("lo")) / F.col("scale") + 0.5).cast("long")
        ).alias("qv"),
    )
    sq_err = F.zip_with(
        "ve",
        "qv",
        lambda x, c: F.pow(x - (F.col("lo") + c * F.col("scale")), F.lit(2)),
    )
    return q.select(
        "vec_id",
        F.round("lo", 6).alias("q_min"),
        F.round("scale", 8).alias("q_scale"),
        F.md5(F.concat_ws(",", F.transform("qv", lambda c: c.cast("string")))).alias(
            "codes_md5"
        ),
        F.round(
            F.sqrt(
                F.aggregate(sq_err, F.lit(0.0), lambda acc, x: acc + x)
                / F.size("ve").cast("double")
            ),
            8,
        ).alias("rmse"),
    )
