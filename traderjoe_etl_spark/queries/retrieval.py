"""Retrieval & corpus-curation queries (north-star LLM-pipeline surface).

The retrieval family a training-data platform runs next to dedup/quality:
term statistics (TF-IDF), ranked retrieval (BM25), the inverted index
those are served from, exact-substring duplication (the Lee et al.
"Deduplicating Training Data" signal, as shared long-token-span
detection), and per-source quota curation. Every query is pure DataFrame
composition over the shared tokenizer (operators/text.tokens — identical
to the DuckDB oracles' regexp_split_to_array) and each carries a full SQL
oracle.

Scale notes (the shapes, not the constants, are what matter at 100 TB):
- term stats flow through ONE (doc, term) partial-aggregated shuffle;
  document frequencies ride a second |vocab|-sized aggregate — never a
  per-row join against the corpus;
- BM25 broadcasts the (tiny) query-term stats and the two scalar corpus
  aggregates; the corpus is scanned once;
- the inverted index caps posting samples with slice() AFTER array_sort,
  so the shuffle carries per-term sets, not per-row pairs;
- exact-substring pairs reuse the streaming two-generator in-bucket
  expansion (see operators/dedup.py) — a degenerate boilerplate span
  shared by k docs streams its k² pairs instead of materializing them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import tokens
from ..sources.tables import read_table
from . import query

_TOK_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"


def _term_freqs(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf) — one exploded pass, partial-aggregated."""
    return (
        docs.select("doc_id", F.explode(tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, w AS term, count(*) AS tf
        FROM (SELECT doc_id, unnest({_TOK_SQL}) AS w FROM documents)
        WHERE w <> ''
        GROUP BY doc_id, w
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term, tf.tf, df.df,
               tf.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS s
        FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, round(s, 6) AS score, rk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY s DESC, term) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf, sklearn's
    ``ln((N+1)/(df+1)) + 1`` form). Term frequencies come from one
    exploded corpus pass; document frequencies from a second
    distinct-terms pass that partial-aggregates to |vocab| rows and
    broadcasts back (no per-term window — see the inline scale note);
    N is a broadcast 1-row scalar. Ties (ubiquitous on a small
    vocabulary) break on the term itself, so the result set is
    deterministic; ln() is the only transcendental and both engines round
    it away at 6 dp."""
    docs = read_table(spark, sf_dir, "documents")
    tf = _term_freqs(docs)
    # Document frequency rides its OWN partial-aggregated pass: explode
    # array_distinct(tokens) -> groupBy(term).count(). Map-side combine
    # collapses each task's contribution to <=|vocab| rows before the
    # shuffle, so no single task ever holds a stopword's full posting
    # partition — the r3 window-over-term form (count(*) OVER (PARTITION BY
    # term)) shipped every (doc, term) row of a term to ONE task, which at
    # 100 TB is |docs-containing-the-stopword| rows on one core. The df
    # relation is |vocab|-sized and broadcasts back onto tf. Cost of the
    # second tokenize scan at sf10: none measured (window 4.66 s vs this
    # form 4.64 s, min-of-4); chosen over persist()ing tf because a
    # corpus-scale cache write+read is dearer than a second
    # embarrassingly-parallel scan, and a persisted relation leaks across
    # a long-lived registry session.
    df = (
        docs.select(
            F.explode(
                F.array_distinct(F.filter(tokens("text"), lambda t: t != ""))
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(F.broadcast(n))
        .withColumn(
            "s",
            F.col("tf") * (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0)),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "term", "tf", "df", F.round("s", 6).alias("score"), "rk")
    )


_BM25_TERMS = ("spark", "hash", "vector")
_BM25_K1 = 1.2
_BM25_B = 0.75


@query(
    "bm25_search",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK_SQL} AS w FROM documents),
    dl AS (SELECT doc_id, len(w) AS dl FROM toks),
    stats AS (SELECT count(*) AS n_docs, avg(len(w)) AS avgdl FROM toks),
    tf AS (
        SELECT doc_id, u AS term, count(*) AS tf
        FROM (SELECT doc_id, unnest(w) AS u FROM toks)
        WHERE u IN {_BM25_TERMS!r}
        GROUP BY doc_id, u
    ),
    df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    scored AS (
        SELECT tf.doc_id,
               sum(ln(1.0 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({_BM25_K1} + 1.0)
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                       + {_BM25_B} * dl.dl / stats.avgdl))) AS s
        FROM tf JOIN df USING (term)
                JOIN dl USING (doc_id)
                CROSS JOIN stats
        GROUP BY tf.doc_id
    )
    SELECT doc_id, round(s, 6) AS score, rk
    FROM (SELECT *, row_number() OVER (ORDER BY s DESC, doc_id) AS rk FROM scored)
    WHERE rk <= 20
    """,
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed query-term set,
    top-20 documents. The per-term document frequencies and the two corpus
    scalars (N, avgdl) are broadcast; the corpus contributes one exploded
    pass pre-filtered to the query terms — at 100 TB that filter sits on
    the scan and the whole score pipeline shuffles |matching (doc, term)|
    rows, not the corpus. Per-term partials sum per doc (BM25 is additive
    over query terms); ties break on doc_id."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("w"))
    dl = toks.select("doc_id", F.size("w").alias("dl"))
    stats = toks.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg(F.size("w")).alias("avgdl")
    )
    tf = (
        toks.select("doc_id", F.explode("w").alias("term"))
        .filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    contrib = (
        F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5)))
        * F.col("tf") * (k1 + F.lit(1.0))
        / (F.col("tf") + k1 * (F.lit(1.0) - b + b * F.col("dl") / F.col("avgdl")))
    )
    # df per query term from its own partial-aggregated pass over the
    # per-doc DISTINCT query-term hits — the same window-free shape as
    # tfidf_top_terms (a query term matching billions of docs would make
    # a PARTITION BY term window single-task); |query terms| rows,
    # broadcast back.
    df = (
        toks.select(
            F.explode(
                F.array_intersect(
                    F.array_distinct("w"),
                    F.array(*[F.lit(t) for t in _BM25_TERMS]),
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.sum(contrib).alias("s"))
    )
    # limit-then-rank: TakeOrderedAndProject cut (per-partition k-heaps),
    # rank window over the already-limited 20 rows — a global window gets
    # no WindowGroupLimit prune and would rank every scored doc in ONE
    # task at scale.
    top = scored.orderBy(F.desc("s"), "doc_id").limit(20)
    w = Window.orderBy(F.desc("s"), "doc_id")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", F.round("s", 6).alias("score"), "rk"
    )


@query(
    "inverted_index_postings",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, w AS term, count(*) AS tf
        FROM (SELECT doc_id, unnest({_TOK_SQL}) AS w FROM documents)
        WHERE w <> ''
        GROUP BY doc_id, w
    )
    SELECT term,
           count(*) AS df,
           CAST(sum(tf) AS BIGINT) AS total_tf,
           array_to_string(list_sort(list(doc_id))[1:5], ',') AS posting_head
    FROM tf
    GROUP BY term
    HAVING count(*) >= 2
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term → document frequency, total term count,
    and the first 5 doc ids of the sorted posting list. The posting-head
    cap (slice AFTER array_sort) bounds what leaves the aggregate — the
    full posting list for a stopword-like term at 100 TB is the corpus
    itself, so an indexer materializes postings to a sink in shards; this
    query is the per-term statistics + head-sample form of that build."""
    docs = read_table(spark, sf_dir, "documents")
    tf = _term_freqs(docs)
    return (
        tf.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.sum("tf").alias("total_tf"),
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.array_sort(F.collect_list("doc_id")), 1, 5),
                    lambda x: x.cast("string"),
                ),
            ).alias("posting_head"),
        )
        .filter(F.col("df") >= 2)
    )


_SPAN_K = 16
_THIN_P = 8  # winnowing window (spans); recall guaranteed for runs >= K+P-1
_H_MOD = (1 << 31) - 1
_H_B1 = 1000003
_H_B2 = 999983


@query(
    "exact_substring_dups",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOK_SQL} AS w FROM documents
    ),
    xs AS (
        SELECT doc_id,
               list_transform(w, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS x
        FROM toks WHERE len(w) >= {_SPAN_K}
    ),
    sh AS (
        SELECT doc_id,
               list_transform(range(1, len(x) - {_SPAN_K - 2}), i ->
                   list_reduce(list_prepend(0, x[i:i+{_SPAN_K - 1}]),
                               (acc, v) -> (acc * {_H_B1} + v) % {_H_MOD}) * {1 << 31}
                 + list_reduce(list_prepend(0, x[i:i+{_SPAN_K - 1}]),
                               (acc, v) -> (acc * {_H_B2} + v) % {_H_MOD})) AS sh
        FROM xs
    ),
    spans AS (SELECT DISTINCT doc_id, unnest(sh) AS h FROM sh)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_spans
    FROM spans a JOIN spans b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def exact_substring_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication between documents: pairs sharing at
    least one identical 16-token span (the long-n-gram signal behind
    suffix-array training-data dedup — arXiv:2107.06499 — expressed as
    span-hash collision instead of a suffix array). Distinct (doc, span
    hash) pairs stream through ONE shuffle; pair expansion uses the
    two-generator in-bucket stream so a boilerplate span shared by k
    documents never materializes its k² pairs in memory. n_shared_spans
    counts distinct shared spans per pair.

    Span hashing is the shared polynomial family (per-token md5 values +
    double Horner fold into a 62-bit BIGINT in a numpy kernel — see
    :func:`_selected_span_fingerprints` with window=1, i.e. every span
    kept): r3's md5-of-concat form paid
    ~100-char CONCAT + md5 per span AND shuffled 32-char strings; the
    62-bit longs shuffle 4× smaller (24.7 → ~9 s at sf10). Collision
    risk at 62 bits is ~1e-4 expected pairs on 26M spans, and the
    oracle replays the identical hashes."""
    docs = read_table(spark, sf_dir, "documents")
    spans = _selected_span_fingerprints(docs, window=1)
    buckets = (
        spans.groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = (
        buckets.select(F.posexplode("ids").alias("__i", "id_a"), "ids")
        .select(
            "id_a",
            F.explode(F.expr("slice(ids, __i + 2, size(ids) - __i - 1)")).alias("id_b"),
        )
    )
    return pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("n_shared_spans"))


def _token_values(docs: DataFrame) -> DataFrame:
    """(doc_id, __x array<long>): 32-bit md5-prefix value per token, for
    documents long enough to hold at least one span. JVM-side — md5 stays
    in codegen; only the already-hashed longs cross into any kernel."""
    toks = docs.select("doc_id", tokens("text").alias("w")).filter(
        F.size("w") >= _SPAN_K
    )
    return toks.select(
        "doc_id",
        F.transform(
            "w", lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
        ).alias("__x"),
    )


def _selected_span_fingerprints(docs: DataFrame, window: int = _THIN_P) -> DataFrame:
    """(doc_id, h): the winnowing-selected span fingerprints of each
    document, distinct per document; ``window=1`` keeps EVERY span (the
    un-thinned exact form — the min over a 1-window is the span itself).
    One ``mapInPandas`` kernel folds the two Horner passes and the
    sliding minima as whole-array numpy int64 ops over the JVM-computed
    token values — the same integers as a per-span Horner fold (pinned by
    a pure-Python replay in pytest), ~6× faster at sf10 than that fold as
    JVM higher-order functions, whose lambdas interpret per element."""
    import numpy as np
    import pandas as pd

    k, p, m, b1, b2 = _SPAN_K, window, _H_MOD, _H_B1, _H_B2

    def kernel(batches):
        for pdf in batches:
            out_id: list = []
            out_h: list = []
            for did, x in zip(pdf["doc_id"], pdf["__x"]):
                x = np.asarray(x, dtype=np.int64)
                ng = len(x) - k + 1
                h1 = np.zeros(ng, dtype=np.int64)
                h2 = np.zeros(ng, dtype=np.int64)
                for j in range(k):
                    xv = x[j : j + ng]
                    h1 *= b1
                    h1 += xv
                    h1 %= m
                    h2 *= b2
                    h2 += xv
                    h2 %= m
                sh = h1 * (1 << 31) + h2
                if p == 1:
                    wm = sh
                elif ng >= p:
                    nw = ng - p + 1
                    wm = sh[:nw].copy()
                    for j in range(1, p):
                        np.minimum(wm, sh[j : j + nw], out=wm)
                else:
                    wm = sh.min(keepdims=True)
                sel = np.unique(wm)
                out_id.append(np.full(sel.size, did, dtype=np.int64))
                out_h.append(sel)
            if out_id:
                yield pd.DataFrame(
                    {"doc_id": np.concatenate(out_id), "h": np.concatenate(out_h)}
                )

    return _token_values(docs).mapInPandas(kernel, "doc_id long, h long")


@query(
    "exact_substring_dups_thinned",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_TOK_SQL} AS w FROM documents
    ),
    xs AS (
        SELECT doc_id,
               list_transform(w, t -> ('0x' || substr(md5(t), 1, 8))::BIGINT) AS x
        FROM toks WHERE len(w) >= {_SPAN_K}
    ),
    sh AS (
        SELECT doc_id,
               list_transform(range(1, len(x) - {_SPAN_K - 2}), i ->
                   list_reduce(list_prepend(0, x[i:i+{_SPAN_K - 1}]),
                               (acc, v) -> (acc * {_H_B1} + v) % {_H_MOD}) * {1 << 31}
                 + list_reduce(list_prepend(0, x[i:i+{_SPAN_K - 1}]),
                               (acc, v) -> (acc * {_H_B2} + v) % {_H_MOD})) AS sh
        FROM xs
    ),
    sel AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len(sh) >= {_THIN_P}
                   THEN list_transform(range(1, len(sh) - {_THIN_P - 2}),
                                       i -> list_min(sh[i:i+{_THIN_P - 1}]))
                   ELSE [list_min(sh)] END) AS h
        FROM sh
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_fingerprints
    FROM sel a JOIN sel b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    """,
)
def exact_substring_dups_thinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-thinned exact-substring duplication — the scale form of
    :func:`exact_substring_dups`. Two cost cuts, one recall contract:

    - **span hash without concat strings**: per-token 32-bit md5-prefix
      values are computed once, and each 16-token span hashes as a pair
      of Horner polynomial folds mod 2^31−1 (bases 1000003/999983,
      packed into one 62-bit BIGINT) — pure integer codegen both engines
      replay exactly, vs one ~100-char CONCAT + md5 per span;
    - **winnowing selection** (Schleimer et al., SIGMOD'03): per document
      only the MINIMUM span hash of every P=8-span window is kept
      (~2/(P+1) ≈ 22% density vs every span). Selection depends only on
      hash VALUES, so two documents sharing any token run of
      **≥ K+P−1 = 23 tokens** share a full P-window of span hashes and
      therefore select at least one common fingerprint — guaranteed
      recall above that length, no guarantee for shorter overlaps (an
      isolated exact 16-token match may thin away; the unthinned query
      is the tool when that matters).

    n_shared_fingerprints counts shared SELECTED fingerprints (a thinned
    proxy for shared-span count). Pair expansion reuses the streaming
    two-generator in-bucket form.

    Execution split (pinned against a pure-Python replay by pytest): the
    per-token md5 base values stay in JVM codegen (one HOF pass); the
    polynomial folds and sliding minima run as whole-array numpy int64
    ops in a ``mapInPandas`` kernel — an interpreted-HOF Horner form
    costs ~12 s at sf10 (32 lambda steps × 26M spans), the kernel ~2 s,
    identical values (the scheme defines the integers, not the loop
    shape)."""
    docs = read_table(spark, sf_dir, "documents")
    sel = _selected_span_fingerprints(docs)
    buckets = (
        sel.groupBy("h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = buckets.select(F.posexplode("ids").alias("__i", "id_a"), "ids").select(
        "id_a",
        F.explode(F.expr("slice(ids, __i + 2, size(ids) - __i - 1)")).alias("id_b"),
    )
    return pairs.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("n_shared_fingerprints")
    )


@query(
    "source_quota_sample",
    oracle="""
    WITH q AS (
        SELECT doc_id, source,
               round((CASE WHEN length(text) BETWEEN 20 AND 100000 THEN 1.0 ELSE 0.3 END)
               * (CASE WHEN CAST(length(text) AS DOUBLE)
                         / nullif(len(regexp_split_to_array(lower(trim(text)), '\\s+')), 0)
                       BETWEEN 2 AND 12 THEN 1.0 ELSE 0.5 END)
               * coalesce((length(text) -
                   length(regexp_replace(text, '[A-Za-z \\t\\n\\x0b\\f\\r]', '', 'g')))
                   / CAST(nullif(length(text), 0) AS DOUBLE), 0.0), 6) AS qs
        FROM documents
    )
    SELECT source, doc_id, round(qs, 6) AS quality, rk
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY qs DESC, doc_id) AS rk
          FROM q)
    WHERE rk <= 3
    """,
)
def source_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation quota: keep the 3 highest-quality documents per
    source (crawl-domain balancing — the 'no domain may dominate the mix'
    curation rule). quality_score is the shared heuristic from
    operators/text.py; ranking is a per-source window over the scored
    scan, so the shuffle carries (source, doc, score) and each source's
    quota resolves independently — domain-parallel at any scale. Ties
    break on doc_id."""
    from ..operators.text import quality_score

    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "source", quality_score("text").alias("qs"))
    w = Window.partitionBy("source").orderBy(F.desc("qs"), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("source", "doc_id", F.round("qs", 6).alias("quality"), "rk")
    )


@query(
    "corpus_version_diff",
    oracle="""
    WITH v1 AS (SELECT doc_id, md5(text) AS h FROM documents),
    v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % 7 = 0 THEN md5(text || ' v2edit')
                    ELSE md5(text) END AS h
        FROM documents WHERE doc_id % 10 <> 0
        UNION ALL
        SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents) AS doc_id,
               md5(text || ' v2new') AS h
        FROM documents WHERE doc_id % 13 = 0
    )
    SELECT coalesce(v1.doc_id, v2.doc_id) AS doc_id,
           CASE WHEN v1.doc_id IS NULL THEN 'added'
                WHEN v2.doc_id IS NULL THEN 'removed'
                WHEN v1.h <> v2.h THEN 'changed'
                ELSE 'unchanged' END AS status
    FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
    """,
)
def corpus_version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-version CDC: classify every document across two crawl
    versions as added / removed / changed / unchanged by comparing content
    fingerprints under a FULL OUTER join on doc_id — the dataset-versioning
    diff a pipeline runs between crawls before deciding what to reprocess.
    Version 2 is derived deterministically from the driver corpus (10%
    deletions, 1-in-7 edits, 1-in-13 additions) so the oracle replays the
    identical derivation. Fingerprints (16-byte md5) ride the shuffle, not
    document text — at 100 TB the diff moves hashes, and only the
    'changed'/'added' partitions are re-read downstream."""
    docs = read_table(spark, sf_dir, "documents")
    v1 = docs.select("doc_id", F.md5("text").alias("h"))
    max_id = docs.agg((F.max("doc_id") + 1).alias("m"))
    v2 = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 7 == 0, F.md5(F.concat("text", F.lit(" v2edit"))))
            .otherwise(F.md5("text"))
            .alias("h"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 13 == 0)
            .join(F.broadcast(max_id))
            .select(
                (F.col("doc_id") + F.col("m")).alias("doc_id"),
                F.md5(F.concat("text", F.lit(" v2new"))).alias("h"),
            )
        )
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.doc_id") == F.col("b.doc_id"), "full_outer")
    return j.select(
        F.coalesce(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_id"),
        F.when(F.col("a.doc_id").isNull(), F.lit("added"))
        .when(F.col("b.doc_id").isNull(), F.lit("removed"))
        .when(F.col("a.h") != F.col("b.h"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
    )


@query(
    "quality_weighted_sample",
    oracle="""
    WITH q AS (
        SELECT doc_id, source,
               round((CASE WHEN length(text) BETWEEN 20 AND 100000 THEN 1.0 ELSE 0.3 END)
               * (CASE WHEN CAST(length(text) AS DOUBLE)
                         / nullif(len(regexp_split_to_array(lower(trim(text)), '\\s+')), 0)
                       BETWEEN 2 AND 12 THEN 1.0 ELSE 0.5 END)
               * coalesce((length(text) -
                   length(regexp_replace(text, '[A-Za-z \\t\\n\\x0b\\f\\r]', '', 'g')))
                   / CAST(nullif(length(text), 0) AS DOUBLE), 0.0), 6) + 0.05 AS w
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, source, w,
               pow((CAST(('0x' || substr(md5('42:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT AS DOUBLE) + 1.0)
                   / 4294967297.0, 1.0 / w) AS sk
        FROM q
    )
    SELECT source, doc_id, round(w, 6) AS weight, rk
    FROM (SELECT *, row_number() OVER (PARTITION BY source
                                       ORDER BY sk DESC, doc_id) AS rk
          FROM keyed)
    WHERE rk <= 5
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-WEIGHTED without-replacement sampling, 5 docs per source
    (Efraimidis–Spirakis A-Res via operators/sampling.weighted_sample_key):
    selection probability proportional to quality (+0.05 floor so
    zero-quality docs stay sampleable), membership a pure function of
    (seed, doc_id) — the same rows come back under any partitioning or
    engine, which is what makes the DuckDB oracle replay the full draw.
    Map-only scoring + a per-source WindowGroupLimit top-k; contrast with
    source_quota_sample (deterministic best-k) and hash_sample_orders
    (unweighted rate)."""
    from ..operators.sampling import weighted_sample_key
    from ..operators.text import quality_score

    docs = read_table(spark, sf_dir, "documents")
    # round the quality term to 6 dp BEFORE the floor, exactly like the
    # oracle's weight expression: the E-S sort key u^(1/w) is continuous
    # in w, so a full-precision w here vs a rounded w there makes
    # near-tied keys rank differently across engines (ADVICE r03). Both
    # sides now derive sk from the identical 1e-6-grid w.
    scored = docs.select(
        "doc_id", "source", (F.round(quality_score("text"), 6) + F.lit(0.05)).alias("w")
    )
    keyed = scored.withColumn("sk", weighted_sample_key("doc_id", F.col("w")))
    win = Window.partitionBy("source").orderBy(F.desc("sk"), "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 5)
        .select("source", "doc_id", F.round("w", 6).alias("weight"), "rk")
    )


_SPARSE_DF_CAP = 16
_SPARSE_COS_T = 0.4
# below this documents-table size the merge pins / explicit repartitions
# are pure overhead (~1.5 s of scheduling floor on 5k-doc inputs) and AQE's
# broadcast plans are both safe and faster; above it the exploded postings
# defeat AQE's size estimates (driver broadcast OOM at sf10) and the pins
# are load-bearing. 32 MB sits between sf1 (6 MB) and sf10 (67 MB).
_SPARSE_PIN_BYTES = 32 << 20
_SH3_SQL = (
    "list_transform(range(1, len(w) - 1), i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])"
)


@query(
    "sparse_shingle_cosine_pairs",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK_SQL} AS w FROM documents),
    sh AS (
        SELECT doc_id, s AS sk, count(*) AS tf FROM (
            SELECT doc_id, unnest({_SH3_SQL}) AS s
            FROM toks WHERE len(w) >= 3
        ) GROUP BY doc_id, s
    ),
    df AS (SELECT sk, count(*) AS df FROM sh GROUP BY sk),
    n AS (SELECT count(*) AS n_docs FROM documents),
    w AS (
        SELECT sh.doc_id, sh.sk,
               sh.tf * (ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0) AS wt
        FROM sh JOIN df USING (sk) CROSS JOIN n
        WHERE df.df <= {_SPARSE_DF_CAP}
    ),
    nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nm FROM w GROUP BY doc_id),
    dot AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.wt * b.wt) AS d
        FROM w a JOIN w b ON a.sk = b.sk AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT dot.id_a, dot.id_b,
           round(dot.d / (na.nm * nb.nm), 6) AS cosine
    FROM dot
    JOIN nrm na ON na.doc_id = dot.id_a
    JOIN nrm nb ON nb.doc_id = dot.id_b
    WHERE round(dot.d / (na.nm * nb.nm), 6) >= {_SPARSE_COS_T}
    """,
)
def sparse_shingle_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPARSE-vector document similarity via an inverted-index join — the
    weighted (bag + idf) complement of ngram_jaccard's set semantics and
    of the dense embedding-cosine family: tf-idf over 3-token shingles,
    all pairs with cosine ≥ 0.4 in the DISCRIMINATIVE subspace (shingles
    with df ≤ 16; higher-df shingles are boilerplate by definition and are
    excluded from both the dot products and the norms, so the score is
    exactly the cosine of the df-capped tf-idf vectors). Engine-side the
    shingle is FEATURE-HASHED to xxhash64 before any shuffle — the key
    never reaches the output, so the oracle keys on the raw string and
    still compares exactly: grouping by hash(s) equals grouping by s
    unless two distinct shingles collide in 64 bits (P ≈ n²/2^65 —
    ~1e-11 at oracle scale; at larger corpora a collision merges two
    shingles' counts, noise far below the df-cap's own approximation).
    A portable-md5 key was tried and rejected: Spark's
    conv(substring(md5)) chain cost ~0.9 s/5k docs where xxhash64 is
    codegen-free, and cross-engine hash-value replay buys nothing when
    the hash is internal.

    Scale shape (the df-cut member of the AllPairs/prefix-filter family,
    Bayardo et al. WWW'07): ONE postings self-join on the shingle, so
    total pair-posting volume is Σ_(df≤cap) df² ≤ cap·|postings| — linear
    in corpus size with a cap-sized constant — where an uncapped join
    carries the Σ df² quadratic blowup of every boilerplate shingle
    (measured: the uncapped per-pair rescoring variant OOM'd AQE's
    broadcast planner at sf10; this form is one bounded hash join). The
    join streams pairs row-by-row (no per-bucket arrays), partial
    aggregation reduces to one row per colliding pair, and norms are one
    pass over the capped postings.

    r11 single-exchange rewrite (optimization guide §2.4 — remove
    shuffles outright): the RAW postings are repartitioned by sk ONCE,
    directly after the explode, and every downstream operator is keyed so
    HashPartitioning(sk) satisfies its required distribution — groupBy
    (doc_id, sk) (sk ⊆ keys), the df = groupBy(sk) reduction, the sh⋈df
    attach, and the w⋈w pair join all run WITHOUT further exchanges. The
    STATIC plan still duplicates the postings subtree per branch (Spark
    does not CSE), but now every copy bottoms out in the byte-identical
    ``Exchange hashpartitioning(sk)`` over the same Generate pipeline, so
    AQE's shuffle-stage reuse materializes the tokenize→explode→hash
    shuffle exactly ONCE at runtime (r12: the explicit isnotnull(doc_id)
    filter below collapses what had been two canonical forms — sh-side
    copies with an optimizer-inferred isnotnull vs df-side without — into
    one; see the plan-shape pin test); the pre-r11
    shape hung the df branch
    and the weights branch off DIFFERENT exchanges — (doc_id, sk) vs a
    post-agg (sk) with diverging pruned projections — so no copy was
    canonical with any other and the explode pipeline re-ran per branch
    (up to 8× per execution, ~10 broadcast/shuffle jobs of scheduling).
    Measured sf0.1 (min-of-4, one box): 3.35 s → 1.13 s. Joins are pinned
    sort-merge UNCONDITIONALLY now: with both sides clustered by sk the
    merge adds no exchange (just the two in-partition sorts), while an
    AQE broadcast of df / the b-side would re-materialize that subtree
    as a separate broadcast job per occurrence.

    Two further sf100 lessons baked in: (1) carrying the shingle STRING
    through the shuffles put ~30-char keys in every sort row — 32
    concurrent sort-merge tasks exhausted the execution-memory pool
    (UNABLE_TO_ACQUIRE_MEMORY at 64 KB granularity); the 8-byte hashed
    key shrinks every exchanged row ~4×. (2) The single postings exchange
    keeps the CORPUS-SCALED width (one partition per ~1 MB of documents,
    32..1024): at 160 GB the session's 32 shuffle partitions give
    ~8M-posting sort tasks and 32 of those sorting concurrently in one
    stage thrash the pool, while a blanket 256-way tripled the sf0.1
    bench time in scheduling overhead — the width must follow the data.
    Below _SPARSE_PIN_BYTES the repartition takes the session width (the
    exchange is the plan's one required shuffle anyway; a forced 32-way
    would only add task dispatch at 5k-doc scale)."""
    docs = read_table(spark, sf_dir, "documents")
    # postings-exchange width scales with the corpus via a FILESYSTEM
    # stat (no Spark job — the plan stays fully lazy, preserving bench
    # headline eligibility; an eager docs.count() at build was hidden
    # work the prepared-statement timer never saw): 32-way is fine to
    # ~100k docs but 32 concurrent ~8M-posting sort tasks exhaust the
    # execution-memory pool at 5M docs.
    from ..sources.tables import corpus_width, table_bytes

    doc_bytes = table_bytes(sf_dir, "documents")
    at_scale = doc_bytes == 0 or doc_bytes > _SPARSE_PIN_BYTES
    join_parts = corpus_width(sf_dir, "documents", bytes_per_part=1 << 20)

    # r12: doc_id is filtered non-null EXPLICITLY before the postings
    # exchange. Without this, the optimizer infers isnotnull(doc_id) on the
    # sh-side branch copies only (doc_id is a join key downstream) and not
    # on the df-side copies, splitting the canonical postings exchange into
    # TWO forms that AQE materialized separately — the r11 plan's residual
    # double explode. With the filter on every copy, ALL branch exchanges
    # are canonically identical and AQE stage reuse materializes the
    # tokenize→explode→hash shuffle exactly ONCE per execution. Semantics:
    # null-doc_id rows could previously count into df (never into output —
    # the pair join and norm attaches are null-rejecting); the corpus
    # schema has no null doc_ids, the oracle sweep hash-passes, and a
    # null-keyed corpus would now get the strictly-more-sensible df
    # (documents, not ghost rows) — accepted, same convention as q16's
    # null-mask note.
    toks = docs.select(
        "doc_id", F.split(F.lower(F.trim("text")), r"\s+").alias("w")
    ).filter((F.size("w") >= 3) & F.col("doc_id").isNotNull())
    posts = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(w) - 2),"
                " i -> concat(element_at(w, i), ' ', element_at(w, i + 1),"
                "             ' ', element_at(w, i + 2)))"
            )
        ).alias("s"),
    ).select("doc_id", F.xxhash64("s").alias("sk"))
    # THE one exchange: everything below is clustered by sk. Map-side
    # combine before it would buy nothing (shingles are mostly unique
    # per document, tf ≈ 1), and aggregating reduce-side in
    # corpus-scaled tasks is what kept sf100 out of
    # UNABLE_TO_ACQUIRE_MEMORY.
    posts = (
        posts.repartition(join_parts, "sk") if at_scale else posts.repartition("sk")
    )
    sh = posts.groupBy("doc_id", "sk").agg(F.count(F.lit(1)).alias("tf"))
    df = sh.groupBy("sk").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        sh.join(df.hint("merge"), "sk")
        .filter(F.col("df") <= _SPARSE_DF_CAP)
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "sk",
            (
                F.col("tf")
                * (F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("df") + F.lit(1.0))) + F.lit(1.0))
            ).alias("wt"),
        )
    )
    nrm = w.groupBy("doc_id").agg(F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("nm"))
    dot = (
        w.alias("a")
        .join(w.alias("b").hint("merge"), "sk")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.sum(F.col("a.wt") * F.col("b.wt")).alias("d"))
    )
    na = nrm.select(F.col("doc_id").alias("id_a"), F.col("nm").alias("nm_a"))
    nb = nrm.select(F.col("doc_id").alias("id_b"), F.col("nm").alias("nm_b"))
    cos = F.col("d") / (F.col("nm_a") * F.col("nm_b"))
    # threshold on the 6dp-ROUNDED cosine (both engines): float-sum
    # reassociation differs across engines, so a pair within an ulp of
    # 0.4 raw could otherwise appear in one engine's output only — the
    # rounding puts the filter and the emitted value on one grid.
    # the two norm attaches stay unpinned: nrm is |docs|-scale (doc_id,
    # nm) — tiny next to the pair stream — and both copies bottom out in
    # the same norms-agg exchange, so AQE builds it once either way.
    return (
        dot.join(na, "id_a")
        .join(nb, "id_b")
        .filter(F.round(cos, 6) >= _SPARSE_COS_T)
        .select("id_a", "id_b", F.round(cos, 6).alias("cosine"))
    )
