"""Training-data preparation ops: document chunking and sequence packing
(SURVEY.md §2B LLM-data-pipeline ◆, round-2 widening).

Two ops every LLM pre-training pipeline runs between curation and the
tokenizer, both expressed as pure column/window plans (no UDFs, no
driver loops) with full DuckDB oracles:

- ``chunk_documents``: split each document into fixed-size overlapping
  character chunks (the context-window pre-split).
- ``pack_sequences``: assign documents to fixed-token-budget training
  sequences (bin packing) without any global coordination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table
from . import query

CHUNK_CHARS = 500
CHUNK_STRIDE = 450  # 50-char overlap between consecutive chunks
PACK_BUCKETS = 16
PACK_CAPACITY = 2048  # whitespace-token budget per packed sequence


@query(
    "chunk_documents",
    oracle=f"""
    SELECT d.doc_id,
           CAST(t.i AS INT) AS chunk_idx,
           length(substring(d.text, 1 + CAST(t.i AS INT) * {CHUNK_STRIDE}, {CHUNK_CHARS}))
               AS chunk_chars,
           md5(substring(d.text, 1 + CAST(t.i AS INT) * {CHUNK_STRIDE}, {CHUNK_CHARS}))
               AS chunk_md5
    FROM documents d, LATERAL unnest(generate_series(0,
         GREATEST(0, CAST(ceil((length(d.text) - {CHUNK_CHARS}) / {CHUNK_STRIDE}.0) AS INT))
    )) AS t(i)
    """,
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size overlapping character chunking: {CHUNK_CHARS}-char chunks
    every {CHUNK_STRIDE} chars (50-char overlap so no boundary-spanning
    passage is lost), the standard pre-split before tokenization /
    embedding. Chunk count and content are a pure function of the text, so
    the op is map-only: sequence() builds the per-doc index array
    (pre-projected, then exploded — Generate does not CSE its child),
    substring slices, and the identical arithmetic runs in the oracle.
    Chunks are emitted as (length, md5) rather than raw text so the
    result stays compact; at 100 TB this plan is a single Generate+Project
    over the scan — no shuffle, no state, linear in input bytes."""
    docs = read_table(spark, sf_dir, "documents")
    n_last = F.greatest(
        F.lit(0),
        F.ceil((F.length("text") - F.lit(CHUNK_CHARS)) / F.lit(float(CHUNK_STRIDE))).cast("int"),
    )
    pre = docs.select("doc_id", "text", F.sequence(F.lit(0), n_last).alias("__idxs"))
    chunk = F.expr(f"substring(text, 1 + chunk_idx * {CHUNK_STRIDE}, {CHUNK_CHARS})")
    return (
        pre.select("doc_id", "text", F.explode("__idxs").alias("chunk_idx"))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            F.length(chunk).alias("chunk_chars"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


@query(
    "pack_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id,
               CAST(doc_id % {PACK_BUCKETS} AS INT) AS bucket,
               CAST(length(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) AS n_tokens
        FROM documents
        WHERE length(trim(text)) > 0
    )
    SELECT doc_id, bucket, n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (
                PARTITION BY bucket ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS tokens_before,
           CAST(floor(coalesce(sum(n_tokens) OVER (
                PARTITION BY bucket ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {PACK_CAPACITY}.0)
                AS BIGINT) AS seq_id
    FROM t
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: assign each document to a fixed-token-budget
    training sequence ({PACK_CAPACITY} whitespace tokens) by contiguous
    fill — documents are streamed in deterministic order and a running
    token total maps each to seq_id = floor(tokens_before / capacity).
    A document straddling a boundary opens the next sequence (contiguous
    packing semantics; the trainer truncates or spans — either way the
    assignment is reproducible).

    Scale: packing needs a per-stream cumulative sum, which would be a
    single global-window task if run over one ordered stream. Instead
    documents are first split into {PACK_BUCKETS} independent hash
    buckets (doc_id mod — document order carries no meaning for packing,
    only determinism does) and each bucket packs in parallel under its
    own window; bucket count scales with the cluster, so no task ever
    sees more than 1/N of the corpus. The oracle mirrors the identical
    bucket + window arithmetic."""
    docs = read_table(spark, sf_dir, "documents")
    t = docs.filter(F.length(F.trim("text")) > 0).select(
        "doc_id",
        (F.col("doc_id") % PACK_BUCKETS).cast("int").alias("bucket"),
        F.size(F.split(F.trim("text"), r"\s+")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
    return t.select(
        "doc_id",
        "bucket",
        "n_tokens",
        before.alias("tokens_before"),
        F.floor(before / float(PACK_CAPACITY)).cast("long").alias("seq_id"),
    )


VOCAB_K = 20  # < distinct-word count at sf0.01 so the cut + tie-break genuinely bind


@query(
    "vocab_top_terms",
    oracle=f"""
    WITH w AS (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
        FROM documents WHERE length(trim(text)) > 0
    ),
    c AS (SELECT word, count(*) AS n FROM w WHERE word <> '' GROUP BY word)
    SELECT word, CAST(n AS BIGINT) AS n,
           CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rank
    FROM c ORDER BY n DESC, word LIMIT {VOCAB_K}
    """,
)
def vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction: the top-{VOCAB_K} corpus terms by frequency
    with dense ids — the first step of any tokenizer/vocab build. Counting
    is explode (pre-projected split array) + one map-side-combined groupBy
    on the word; the global top-k plans as TakeOrderedAndProject
    (per-partition k-heaps, only k rows reach the driver-side merge), and
    the id assignment is a row_number over the ALREADY-limited k rows —
    a single-partition window over {VOCAB_K} rows, never over the
    unbounded vocabulary. Ties at the cut break lexicographically so the
    selected set is deterministic."""
    docs = read_table(spark, sf_dir, "documents")
    pre = docs.filter(F.length(F.trim("text")) > 0).select(
        F.split(F.lower(F.trim("text")), r"\s+").alias("__words")
    )
    counts = (
        pre.select(F.explode("__words").alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), "word").limit(VOCAB_K)
    w = Window.orderBy(F.col("n").desc(), "word")
    return top.select("word", "n", F.row_number().over(w).cast("int").alias("rank"))


_FH_BUCKET_HEX = 2  # 2 hex chars → 256 hashing-trick buckets (string keys)


@query(
    "feature_hashing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, w
        FROM (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
              FROM documents)
        WHERE w <> ''
    ),
    hashed AS (
        SELECT doc_id,
               substr(md5(w), 1, {_FH_BUCKET_HEX}) AS bucket,
               CASE WHEN strpos('02468ace', substr(md5(w), {_FH_BUCKET_HEX + 1}, 1)) > 0
                    THEN 1 ELSE -1 END AS sign
        FROM toks
    )
    SELECT bucket,
           CAST(sum(sign) AS BIGINT) AS total_weight,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_tokens
    FROM hashed GROUP BY bucket
    """,
)
def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al. 2009): project an unbounded
    token vocabulary into 256 fixed buckets via md5, with a ±1 sign bit
    from the next hash character so collisions cancel in expectation —
    the vocabulary-free featurizer linear-model pipelines use when a
    vocab build is a luxury. Reports the corpus-level signed weight,
    document frequency, and token mass per bucket.

    Parity discipline: buckets are 2-hex-char STRING keys (the dsir
    precedent — string keys sidestep every hex→int conversion trap) and
    the sign is an even/odd test on one hex character; weights are
    integer sums, so the result is engine-exact with no float in sight.

    Plan shape: explode → map-side scalar hash → ONE map-combinable
    groupBy over 256 keys. The count(DISTINCT doc_id) expands to
    Spark's two-phase distinct aggregate, partial-combined on
    (bucket, doc_id) before the 256-key shuffle — nothing corpus-scale
    moves. At 100 TB this is an embarrassingly parallel scan; the output
    is 256 rows regardless of corpus size."""
    from ..operators.text import tokens

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(tokens("text")).alias("w")
    ).filter(F.col("w") != "")
    h = F.md5(F.col("w"))
    hashed = toks.select(
        "doc_id",
        F.substring(h, 1, _FH_BUCKET_HEX).alias("bucket"),
        F.when(
            F.instr(F.lit("02468ace"), F.substring(h, _FH_BUCKET_HEX + 1, 1)) > 0, 1
        ).otherwise(-1).alias("sign"),
    )
    return hashed.groupBy("bucket").agg(
        F.sum("sign").cast("long").alias("total_weight"),
        F.countDistinct("doc_id").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )


@query(
    "target_encoding_loo",
    oracle="""
    WITH y AS (
        SELECT o_orderkey, o_orderpriority AS cat,
               CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
    ),
    agg AS (
        SELECT cat, sum(cents) AS s, CAST(count(*) AS BIGINT) AS n
        FROM y GROUP BY cat
    )
    SELECT y.o_orderkey, y.cat, y.cents,
           CAST(((agg.s - y.cents) * 100) // (agg.n - 1) AS BIGINT) AS loo_enc_e4
    FROM y JOIN agg USING (cat)
    ORDER BY y.o_orderkey LIMIT 20
    """,
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of a categorical feature (the
    supervised featurizer gradient-boosting pipelines run): encode each
    order's priority class as the mean target of all OTHER rows in the
    class — (Σ_cat − yᵢ)/(n_cat − 1) — which kills the self-leakage that
    plain mean encoding injects. Target = order total in cents (exact
    int64); the encoding is emitted in integer 1e-4-dollar units via
    int64 division — the multiplier is 100, not 1e6, because a class sum
    at 100-TB scale is ~1e14 cents and Σ·1e6 would overflow int64 (ANSI
    mode would raise); Σ·100 keeps three orders of headroom at sf100. Shown
    for the first 20 orderkeys (TakeOrderedAndProject).

    Plan shape: one map-combinable per-class aggregate (|classes| rows ≈
    5) broadcast back onto the scan — the per-row encoding is then a
    map-only expression. No window, no per-row shuffle: the classic
    "aggregate once, broadcast, subtract self" pattern that scales to
    any corpus (contrast the naive per-row correlated subquery, which is
    a corpus² join)."""
    orders = read_table(spark, sf_dir, "orders")
    y = orders.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    agg = y.groupBy("cat").agg(
        F.sum("cents").alias("s"), F.count(F.lit(1)).cast("long").alias("n")
    )
    return (
        y.join(F.broadcast(agg), "cat")
        .select(
            "o_orderkey",
            "cat",
            "cents",
            F.expr("CAST(((s - cents) * 100L) div (n - 1) AS BIGINT)").alias(
                "loo_enc_e4"
            ),
        )
        .orderBy("o_orderkey")
        .limit(20)
    )


@query(
    "epoch_shuffle_order",
    oracle="""
    WITH e AS (SELECT doc_id, unnest([0, 1]) AS epoch FROM documents),
    k AS (
        SELECT doc_id, epoch,
               md5(doc_id::VARCHAR || ':' || epoch::VARCHAR) AS key
        FROM e
    ),
    s AS (
        SELECT doc_id, epoch,
               CAST(('0x' || substr(key, 1, 1))::BIGINT AS INT) AS shard, key
        FROM k
    )
    SELECT CAST(epoch AS INT) AS epoch, shard, doc_id,
           CAST(row_number() OVER (PARTITION BY epoch, shard
                                   ORDER BY key, doc_id) AS BIGINT) AS pos
    FROM s
    """,
)
def epoch_shuffle_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch GLOBAL shuffle of the training corpus — the
    "re-shuffle the data every epoch" step of every pre-training run,
    expressed without any single-reducer sort: the shuffle key is
    ``md5(doc_id:epoch)`` (portable — the oracle recomputes it), the
    shard is the key's first nibble, and the position is a row_number
    within the (epoch, shard) partition ordered by key. Because shards
    are the hash's leading nibble, ``(shard ASC, pos ASC)`` IS the global
    md5 order — a total shuffle order materialized with |shards|-way
    parallel windows instead of one global ORDER BY (at 100 TB, widen the
    nibble to 2-3 hex chars for 256-4096 shards and write each shard as
    one range-partitioned file run: this is exactly a distributed
    shuffle-write). Epochs re-key everything, so consecutive epochs are
    independent permutations; integer-exact, no RNG state anywhere."""
    docs = read_table(spark, sf_dir, "documents")
    e = docs.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1))).alias("epoch")
    )
    k = e.select(
        "doc_id",
        "epoch",
        F.md5(
            F.concat_ws(
                ":", F.col("doc_id").cast("string"), F.col("epoch").cast("string")
            )
        ).alias("key"),
    )
    s = k.select(
        "doc_id",
        "epoch",
        F.expr("CAST(conv(substring(key, 1, 1), 16, 10) AS INT)").alias("shard"),
        "key",
    )
    w = Window.partitionBy("epoch", "shard").orderBy("key", "doc_id")
    return s.select(
        F.col("epoch").cast("int").alias("epoch"),
        "shard",
        "doc_id",
        F.row_number().over(w).cast("long").alias("pos"),
    )


@query(
    "contrastive_negative_samples",
    oracle="""
    WITH p AS (SELECT max(p_partkey) AS maxp FROM part),
    all_pos AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    anchors AS (
        SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS pos_part
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey % 100 = 0
    ),
    cand AS (
        SELECT a.cust, a.pos_part, j,
               1 + ('0x' || substr(md5(a.cust::VARCHAR || ':' ||
                        a.pos_part::VARCHAR || ':' || j::VARCHAR), 1, 8))::BIGINT
                   % p.maxp AS neg_part
        FROM anchors a CROSS JOIN p, unnest([1, 2, 3, 4]) AS t(j)
    ),
    valid AS (
        SELECT c.* FROM cand c
        WHERE NOT EXISTS (SELECT 1 FROM all_pos ap
                          WHERE ap.cust = c.cust AND ap.part = c.neg_part)
    )
    SELECT cust, pos_part, neg_part, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY cust, pos_part
                                       ORDER BY j) AS rk
          FROM valid)
    WHERE rk <= 2
    """,
)
def contrastive_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic NEGATIVE SAMPLING for contrastive/two-tower training:
    for each anchor (customer, purchased part) in a 1%-of-orders sample,
    propose 4 hash-derived candidate parts (md5(cust:part:j) mod |parts| —
    reproducible across runs and engines, no RNG state), reject any the
    customer actually bought (anti-join against the customer's FULL
    purchase history, which also rejects the anchor itself), and keep the
    first 2 survivors per anchor in j order.

    Scale shape: candidate generation is map-only (4 rows per anchor, the
    part-count modulus is one broadcast scalar); the validity check is
    ONE big-big LEFT ANTI join hash-partitioned on (cust, part) — the
    probe side carries 4·|anchors| rows, the build side the distinct
    purchase pairs; the final keep-2 window runs over ≤4-row partitions.
    With expected |positives per customer| ≪ |parts|, rejection is rare
    and 4 candidates almost always yield 2 negatives — the standard
    oversample-then-filter trade, all integer-exact."""
    orders = read_table(spark, sf_dir, "orders")
    lineitem = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    maxp = part.agg(F.max("p_partkey").alias("maxp"))
    anchors = (
        orders.filter(F.col("o_orderkey") % 100 == 0)
        .join(lineitem, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("pos_part"))
        .distinct()
    )
    # the anti-join only ever probes ANCHOR customers' rows, so the full
    # purchase-history build side is semi-join-pruned to those customers
    # BEFORE its corpus-scale distinct (1% of orders → ~1% of history;
    # measured 31.4 → 16.1 s fresh-cold at sf10). Same result by definition.
    anchor_custs = anchors.select("cust").distinct()
    all_pos = (
        orders.join(lineitem, lineitem["l_orderkey"] == orders["o_orderkey"])
        .select(F.col("o_custkey").alias("cust"), F.col("l_partkey").alias("part"))
        .join(anchor_custs, "cust", "left_semi")
        .distinct()
    )
    cand = (
        anchors.join(F.broadcast(maxp))
        .select(
            "cust",
            "pos_part",
            F.explode(F.array(*[F.lit(j) for j in (1, 2, 3, 4)])).alias("j"),
            "maxp",
        )
        .withColumn(
            "neg_part",
            F.lit(1)
            + F.expr(
                "CAST(conv(substring(md5(concat_ws(':', CAST(cust AS STRING),"
                " CAST(pos_part AS STRING), CAST(j AS STRING))), 1, 8), 16, 10)"
                " AS BIGINT)"
            )
            % F.col("maxp"),
        )
    )
    valid = cand.join(
        all_pos,
        (cand["cust"] == all_pos["cust"]) & (cand["neg_part"] == all_pos["part"]),
        "left_anti",
    )
    w = Window.partitionBy("cust", "pos_part").orderBy("j")
    return (
        valid.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 2)
        .select("cust", "pos_part", "neg_part", "rk")
    )
