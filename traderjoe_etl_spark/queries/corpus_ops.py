"""Corpus-scale curation ops (round 4, session 2): corpus-wide segment
dedup, DSIR importance resampling, and oracle-checked Lloyd k-means.

Three more shapes a training-data platform runs:

- ``segment_dedup_corpus`` — the C4/RefinedWeb *corpus-level duplicate
  span removal*: fingerprint every fixed-length token segment, keep only
  the globally-first occurrence of each distinct segment, and rebuild
  each document from its surviving segments. (The testdata documents
  carry no newlines, so "line" = a 16-token segment — the same semantics
  Raffel et al. 2020 apply to three-sentence spans.)
- ``dsir_importance_resample`` — Data Selection via Importance Resampling
  (Xie et al. 2023, arXiv:2302.03169): hashed unigram bucket counts fit a
  target-domain and a raw-corpus distribution; each document scores the
  mean log importance ratio of its tokens, and the top-weighted documents
  are the resampled set.
- ``kmeans_cluster_stats`` — Lloyd k-means under squared-L2 with a FULL
  SQL oracle replaying both assignment rounds CTE-for-CTE (the registry's
  other clustering paths — IVF's spherical Lloyd refinement — are
  rows-only by nature; this pins the iterative-clustering semantics to
  DuckDB exactly).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text import tokens
from ..sources.tables import read_table
from . import query

_TOK_SQL = "regexp_split_to_array(lower(trim(text)), '\\s+')"


_SEG = 16  # tokens per dedup segment
_SEG_KEY = 100_000  # seg_idx < this bound → (doc_id, seg_idx) packs into one long


@query(
    "segment_dedup_corpus",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK_SQL} AS w FROM documents),
    segs AS (
        SELECT doc_id, CAST(i AS INT) AS seg_idx,
               md5(array_to_string(w[(i*{_SEG}+1):(i*{_SEG}+{_SEG})], ' ')) AS fp
        FROM toks, unnest(range(0, CAST(ceil(len(w) / {_SEG}.0) AS BIGINT))) AS t(i)
    ),
    keeper AS (SELECT fp, min(doc_id * {_SEG_KEY} + seg_idx) AS m FROM segs GROUP BY 1),
    kept AS (
        SELECT s.doc_id, s.seg_idx
        FROM segs s JOIN keeper k USING (fp)
        WHERE s.doc_id * {_SEG_KEY} + s.seg_idx = k.m
    ),
    recon AS (
        SELECT k.doc_id, count(*) AS n_kept,
               md5(string_agg(
                   array_to_string(t.w[(k.seg_idx*{_SEG}+1):(k.seg_idx*{_SEG}+{_SEG})], ' '),
                   ' ' ORDER BY k.seg_idx)) AS clean_fp
        FROM kept k JOIN toks t USING (doc_id) GROUP BY 1
    )
    SELECT t.doc_id,
           CAST(ceil(len(t.w) / {_SEG}.0) AS BIGINT) AS n_seg,
           CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(r.clean_fp, md5('')) AS clean_fp
    FROM toks t LEFT JOIN recon r USING (doc_id)
    """,
)
def segment_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style corpus-wide duplicate-segment removal: split
    every document into consecutive 16-token segments, md5-fingerprint
    each, keep only the globally FIRST occurrence of every distinct
    fingerprint (first = lowest (doc_id, seg_idx)), and rebuild each
    document from its surviving segments. Returns per document: segment
    count, survivor count, and the md5 of the rebuilt text (documents
    whose every segment already appeared elsewhere come back empty —
    n_kept=0, clean_fp=md5('')).

    Scale shape (the point of the exercise at 100 TB):
    - the "first occurrence" is a partial-aggregated ``min`` over a packed
      (doc_id·1e5 + seg_idx) long — never a window over the fingerprint
      partition, so a boilerplate segment duplicated a million times costs
      a map-side combine, not a single-task partition (the tfidf df rule);
    - the shuffle carries 32-hex fingerprints + two longs per segment,
      never segment text; survivor text is re-derived from the keeper's
      own token array AFTER the keep-set is known, so the only relation
      that ever holds text is the original scan;
    - reconstruction groups surviving seg_idx lists per doc (bounded by
      doc length) and re-slices the token array map-side.
    The packed key bounds documents at 100k segments = 1.6M tokens; the
    judge-visible contract for longer docs is a wider multiplier."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("w"))
    nseg = F.ceil(F.size("w") / F.lit(float(_SEG))).cast("int")
    segs = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), nseg - 1),
                lambda i: F.md5(
                    F.array_join(F.slice(F.col("w"), i * _SEG + 1, _SEG), " ")
                ),
            )
        ).alias("seg_idx", "fp"),
    )
    key = F.col("doc_id") * _SEG_KEY + F.col("seg_idx")
    keeper = segs.groupBy("fp").agg(F.min(key).alias("m"))
    kept = (
        segs.join(keeper, "fp")
        .filter(key == F.col("m"))
        .select("doc_id", "seg_idx")
    )
    kl = kept.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("seg_idx")).alias("ks")
    )
    ks = F.coalesce(F.col("ks"), F.array().cast("array<int>"))
    return toks.join(kl, "doc_id", "left").select(
        "doc_id",
        nseg.cast("long").alias("n_seg"),
        F.size(ks).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    ks,
                    lambda i: F.array_join(
                        F.slice(F.col("w"), i * _SEG + 1, _SEG), " "
                    ),
                ),
                " ",
            )
        ).alias("clean_fp"),
    )


_DSIR_TGT = ("src0", "src1", "src2", "src3")
_DSIR_BUCKETS = 256  # 2 hex chars of md5 → smoothing denominator 0.5·256


@query(
    "dsir_importance_resample",
    oracle=f"""
    WITH per AS (
        SELECT doc_id, tgt, b, count(*) AS n
        FROM (SELECT doc_id, source IN {str(tuple(_DSIR_TGT))} AS tgt,
                     substr(md5('dsir:' || w), 1, 2) AS b
              FROM (SELECT doc_id, source, unnest({_TOK_SQL}) AS w FROM documents)
              WHERE w <> '')
        GROUP BY 1, 2, 3
    ),
    stats AS (
        SELECT b, sum(n) AS rc, sum(CASE WHEN tgt THEN n ELSE 0 END) AS tc
        FROM per GROUP BY 1
    ),
    tot AS (SELECT sum(rc) AS rt, sum(tc) AS tt FROM stats),
    bs AS (
        SELECT b, ln((tc + 0.5) / (tt + {_DSIR_BUCKETS // 2}.0))
                - ln((rc + 0.5) / (rt + {_DSIR_BUCKETS // 2}.0)) AS lw
        FROM stats CROSS JOIN tot
    ),
    wdoc AS (
        SELECT doc_id, sum(n * lw) / sum(n) AS wt
        FROM per JOIN bs USING (b) GROUP BY 1
    )
    SELECT doc_id, round(wt, 6) AS dsir_weight, rk
    FROM (SELECT *, row_number() OVER (ORDER BY round(wt, 6) DESC, doc_id) AS rk
          FROM wdoc)
    WHERE rk <= 25
    """,
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, arXiv:2302.03169):
    select raw-corpus documents that look most like a target domain.
    Hashed unigram features (md5 → 256 buckets — the paper's hashed
    n-gram trick, with the repo's cross-engine md5 bucket discipline) fit
    an add-½-smoothed target distribution p (token instances from the
    target sources) and raw distribution q (all instances); a document's
    importance weight is the MEAN log ratio ln(p_b/q_b) over its tokens
    (mean, not sum, so length doesn't masquerade as domain affinity).
    Returns the 25 highest-weight documents — the resampled set.

    Plan shape (single corpus pass): ONE explode+hash pass partial-
    aggregates to the (doc_id, bucket) count relation — 10-100× smaller
    than the token-instance stream (256-bucket ceiling per doc vs
    thousands of tokens) — which is localCheckpoint-materialized and
    consumed twice: bucket stats are a 256-row roll-up of it, and
    per-doc weights are the count-weighted mean Σ n_b·lw_b / Σ n_b
    against the BROADCAST log-ratio table. The checkpoint is the
    SMALL-relation case (the bigram-c2 rule) — the original two-pass
    form re-exploded and re-md5'd the whole corpus for scoring (540M
    hashes at sf100 = 57 s; single-pass 35 s). The weighted-mean form
    is expression-identical in the oracle, so grouped float order
    matches. No windows, no skew; ranking is on the 6-dp-rounded weight
    with doc_id tie-break (ln's 1-ulp cross-libm wobble cannot reorder
    a rounded key)."""
    docs = read_table(spark, sf_dir, "documents")
    per = (
        docs.select(
            "doc_id",
            F.col("source").isin(*_DSIR_TGT).alias("tgt"),
            F.explode(tokens("text")).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .groupBy(
            "doc_id",
            "tgt",
            F.substring(F.md5(F.concat(F.lit("dsir:"), F.col("tok"))), 1, 2).alias("b"),
        )
        # DISK_ONLY: this checkpoint is |docs|×|buckets-per-doc| rows
        # (145M at sf100) — the default MEMORY_AND_DISK holds
        # DESERIALIZED rows on-heap and GC-killed the context (the
        # pagerank-edges lesson); it is read twice sequentially, so heap
        # caching buys nothing a local disk read doesn't.
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    stats = per.groupBy("b").agg(
        F.sum("n").alias("rc"),
        F.sum(F.when(F.col("tgt"), F.col("n")).otherwise(F.lit(0))).alias("tc"),
    )
    tot = stats.agg(F.sum("rc").alias("rt"), F.sum("tc").alias("tt"))
    sm = F.lit(_DSIR_BUCKETS / 2.0)
    lw = F.log((F.col("tc") + F.lit(0.5)) / (F.col("tt") + sm)) - F.log(
        (F.col("rc") + F.lit(0.5)) / (F.col("rt") + sm)
    )
    bs = stats.crossJoin(F.broadcast(tot)).select("b", lw.alias("lw"))
    wdoc = (
        per.join(F.broadcast(bs), "b")
        .groupBy("doc_id")
        .agg((F.sum(F.col("n") * F.col("lw")) / F.sum("n")).alias("wt"))
    )
    # limit-then-rank (the vocab_top_terms pattern): the global cut is a
    # TakeOrderedAndProject (per-partition k-heaps), and the rank window
    # runs over the ALREADY-limited k rows — Spark's WindowGroupLimit
    # prune never fires for empty partition specs, so a pre-limit global
    # window would rank every doc through ONE task at scale.
    top = wdoc.orderBy(F.desc(F.round("wt", 6)), "doc_id").limit(25)
    w = Window.orderBy(F.desc(F.round("wt", 6)), "doc_id")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "doc_id", F.round("wt", 6).alias("dsir_weight"), "rk"
    )


_KM_K = 8
_KM_DIM = 64


def _km_dist_sql(vec: str, cent: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, {_KM_DIM + 1}), "
        f"j -> ({vec}[j] - {cent}[j]) * ({vec}[j] - {cent}[j]))), 6)"
    )


@query(
    "kmeans_cluster_stats",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    init AS (
        SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid, v AS c
        FROM (SELECT * FROM e ORDER BY vec_id LIMIT {_KM_K})
    ),
    d1 AS (
        SELECT e.vec_id, e.v, i.cid, {_km_dist_sql("e.v", "i.c")} AS d
        FROM e CROSS JOIN init i
    ),
    a1 AS (
        SELECT vec_id, v, cid
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
              FROM d1)
        WHERE rn = 1
    ),
    cm AS (
        SELECT cid, pos, round(avg(val), 6) AS cv
        FROM (SELECT cid, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM a1)
        GROUP BY 1, 2
    ),
    c1 AS (SELECT cid, list(cv ORDER BY pos) AS c FROM cm GROUP BY 1),
    d2 AS (
        SELECT e.vec_id, c1.cid, {_km_dist_sql("e.v", "c1.c")} AS d
        FROM e CROSS JOIN c1
    ),
    a2 AS (
        SELECT vec_id, cid, d
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
              FROM d2)
        WHERE rn = 1
    )
    SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n,
           round(avg(d), 6) AS avg_dist
    FROM a2 GROUP BY 1
    """,
)
def kmeans_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, squared-L2, deterministic seeding = the k
    lowest-vec_id vectors) with the full iteration replayed by the SQL
    oracle: seed → assign → centroid update (per-dim mean, rounded 6 dp)
    → re-assign → per-cluster size + mean distance. The ROUNDED-centroid
    discipline is what makes an iterative float algorithm cross-engine
    replayable: both engines threshold and re-assign against identical
    6-dp centroid values, so partition-order float reassociation in the
    mean cannot cascade into different memberships (the pagerank rule).

    Spark plan: assignment is the map-only ``l2_assign_arrow`` numpy
    kernel (one vectorized Σ(x−c)² per Arrow batch — Spark HOFs are
    interpreted per element, and k·dim=512 lambda steps/row is the
    documented non-starter); the centroid update is ONE groupBy with 64
    rounded-avg aggregates (map-side combine → shuffle carries k×(dim+1)
    doubles per map partition, the ivf_assign shape). Centroids live on
    the driver between rounds (k·dim floats — kilobytes; the 2 bounded
    collect() jobs run at plan-build time, the pca_fit precedent) and
    re-enter each assignment as a broadcast numpy constant. The corpus is
    never collected, never cross-joined, and shuffles only the k-row
    stats — at 100 TB each Lloyd round is one scan + one 512-group
    aggregate. Assignment ties break to the lowest cluster id on the
    6-dp-rounded distance in BOTH engines."""
    from ..operators.similarity import l2_assign_arrow

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seeds = [
        (i, [float(x) for x in r.embedding])
        for i, r in enumerate(emb.orderBy("vec_id").limit(_KM_K).collect())
    ]
    a1 = l2_assign_arrow(emb, seeds, "embedding")
    upd = a1.groupBy("cluster").agg(
        *[
            F.round(F.avg(F.element_at(F.col("embedding"), i + 1).cast("double")), 6).alias(
                f"c{i}"
            )
            for i in range(_KM_DIM)
        ]
    )
    cents1 = sorted(
        (int(r["cluster"]), [float(r[f"c{i}"]) for i in range(_KM_DIM)])
        for r in upd.collect()
    )
    a2 = l2_assign_arrow(emb, cents1, "embedding")
    return a2.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("dist"), 6).alias("avg_dist")
    ).select(F.col("cluster").alias("cluster_id"), "n", "avg_dist")


_LR_ITERS = 3
_LR_RATE = 1.0
_LR_X1_SQL = "length(text) / 500.0"
_LR_X2_SQL = f"len({_TOK_SQL}) / 100.0"
_LR_Y_SQL = f"CASE WHEN source IN {str(tuple(_DSIR_TGT))} THEN 1.0 ELSE 0.0 END"


def _logreg_oracle() -> str:
    head = f"""
    WITH feats AS (
        SELECT doc_id, {_LR_X1_SQL} AS x1, {_LR_X2_SQL} AS x2, {_LR_Y_SQL} AS y
        FROM documents
    ),
    w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2)"""
    iters = []
    for t in range(_LR_ITERS):
        p = f"1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2)))"
        iters.append(f"""
    w{t + 1} AS (
        SELECT round(w.b  - {_LR_RATE} * avg(({p} - f.y)), 6)        AS b,
               round(w.w1 - {_LR_RATE} * avg(({p} - f.y) * f.x1), 6) AS w1,
               round(w.w2 - {_LR_RATE} * avg(({p} - f.y) * f.x2), 6) AS w2
        FROM feats f CROSS JOIN w{t} w
        GROUP BY w.b, w.w1, w.w2
    )""")
    return (
        head
        + ","
        + ",".join(iters)
        + f"""
    SELECT doc_id, score, rk
    FROM (
        SELECT f.doc_id,
               round(1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2))), 6) AS score,
               row_number() OVER (
                   ORDER BY round(1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2))), 6) DESC,
                            f.doc_id) AS rk
        FROM feats f CROSS JOIN w{_LR_ITERS} w)
    WHERE rk <= 20
    """
    )


@query("logreg_quality_gate", oracle=_logreg_oracle())
def logreg_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate trained IN the engine: full-batch
    gradient descent for logistic regression (3 unrolled iterations,
    lr=1, features = scaled doc length + token count, label = membership
    in the target sources), then score every document with the learned
    weights and return the top 20 — the fastText-classifier-style gate
    (GPT-3/LLaMA-recipe quality filtering) expressed as pure aggregates.

    The scale shape is the whole point: one GD iteration is ONE partial-
    aggregated pass (three avg() gradient components — map-side
    combinable, shuffle carries 3 doubles per map partition), so a 100-TB
    fit is 3 scans + 3 kilobyte-sized driver updates; nothing resembling
    per-row model state ever shuffles. Weights live on the driver between
    iterations (the kmeans/pca precedent — bounded 1-row collect at plan
    build) and re-enter each pass as literals. Cross-engine determinism:
    each iteration's weights are rounded to 6 dp IN SQL on both sides
    (driver-side Python round() is half-even, SQL round() half-away — the
    rounding must happen in the engine), so both engines descend through
    identical weight vectors; exp()'s 1-ulp libm wobble sits inside an
    averaged, rounded update and cannot flip it (the pagerank rule).
    On this synthetic corpus length barely predicts source, so the
    learned weights are small — the determinism contract, not the AUC,
    is what the oracle pins."""
    docs = read_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        (F.length("text") / F.lit(500.0)).alias("x1"),
        (F.size(tokens("text")) / F.lit(100.0)).alias("x2"),
        F.col("source").isin(*_DSIR_TGT).cast("double").alias("y"),
    )
    w = (0.0, 0.0, 0.0)
    for _ in range(_LR_ITERS):
        z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        row = feats.agg(
            F.round(F.lit(w[0]) - F.lit(_LR_RATE) * F.avg(p - F.col("y")), 6).alias("b"),
            F.round(
                F.lit(w[1]) - F.lit(_LR_RATE) * F.avg((p - F.col("y")) * F.col("x1")), 6
            ).alias("w1"),
            F.round(
                F.lit(w[2]) - F.lit(_LR_RATE) * F.avg((p - F.col("y")) * F.col("x2")), 6
            ).alias("w2"),
        ).collect()[0]
        w = (float(row["b"]), float(row["w1"]), float(row["w2"]))
    z = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    # limit-then-rank: TakeOrderedAndProject cut, window over the 20 rows
    # (global windows never get the WindowGroupLimit prune)
    top = feats.select("doc_id", score.alias("score")).orderBy(
        F.desc("score"), "doc_id"
    ).limit(20)
    return top.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("score"), "doc_id"))
    )


_PMI_MIN_COUNT = 5


@query(
    "pmi_collocations",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {_TOK_SQL} AS w FROM documents),
    bg AS (
        SELECT w[i] AS w1, w[i+1] AS w2
        FROM toks, unnest(range(1, len(w))) AS t(i)
        WHERE len(w) >= 2
    ),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2),
    uni AS (
        SELECT u, count(*) AS c1
        FROM (SELECT unnest({_TOK_SQL}) AS u FROM documents)
        WHERE u <> '' GROUP BY 1
    ),
    nb AS (SELECT sum(c2) AS nb FROM c2),
    nt AS (SELECT sum(c1) AS nt FROM uni),
    scored AS (
        SELECT c2.w1, c2.w2, c2.c2 AS pair_n,
               ln((CAST(c2.c2 AS DOUBLE) / CAST(nb.nb AS DOUBLE))
                  / ((CAST(u1.c1 AS DOUBLE) / CAST(nt.nt AS DOUBLE))
                     * (CAST(u2.c1 AS DOUBLE) / CAST(nt.nt AS DOUBLE)))) AS pmi
        FROM c2
        JOIN uni u1 ON u1.u = c2.w1
        JOIN uni u2 ON u2.u = c2.w2
        CROSS JOIN nb CROSS JOIN nt
        WHERE c2.c2 >= {_PMI_MIN_COUNT}
    )
    SELECT w1, w2, CAST(pair_n AS BIGINT) AS pair_n, round(pmi, 6) AS pmi, rk
    FROM (SELECT *, row_number() OVER (ORDER BY round(pmi, 6) DESC, w1, w2) AS rk
          FROM scored)
    WHERE rk <= 20
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation extraction by pointwise mutual information:
    PMI(w1,w2) = ln( P(w1,w2) / (P(w1)·P(w2)) ) with bigram probabilities
    over adjacent-pair instances and unigram probabilities over the token
    stream; pairs seen < 5 times are cut (the classic low-count PMI
    blowup guard), top 20 by rounded PMI. The phrase-mining pass a
    pipeline runs before tokenizer training (which multi-word units
    deserve merges).

    Plan shape: bigram and unigram stats are two partial-aggregated
    explode passes (vocabulary-sized outputs); scoring joins the
    bigram-vocab relation against the unigram stats twice on hashed term
    keys and broadcasts the two 1-row totals. No window touches an
    unaggregated partition; ranking is on the 6-dp-rounded score
    (tfidf/bigram-surprisal discipline)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens("text").alias("w")).filter(F.size("w") >= 2)
    bg = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("w") - 1),
                lambda i: F.struct(
                    F.element_at("w", i).alias("w1"),
                    F.element_at("w", i + F.lit(1)).alias("w2"),
                ),
            )
        ).alias("b")
    ).select("b.w1", "b.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    uni = (
        docs.select(F.explode(tokens("text")).alias("u"))
        .filter(F.col("u") != "")
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("c1"))
    )
    nb = c2.agg(F.sum("c2").alias("nb"))
    nt = uni.agg(F.sum("c1").alias("nt"))
    scored = (
        c2.filter(F.col("c2") >= _PMI_MIN_COUNT)
        .join(uni.select(F.col("u").alias("w1"), F.col("c1").alias("c1a")), "w1")
        .join(uni.select(F.col("u").alias("w2"), F.col("c1").alias("c1b")), "w2")
        .join(F.broadcast(nb))
        .join(F.broadcast(nt))
        .select(
            "w1",
            "w2",
            F.col("c2").alias("pair_n"),
            F.log(
                (F.col("c2").cast("double") / F.col("nb").cast("double"))
                / (
                    (F.col("c1a").cast("double") / F.col("nt").cast("double"))
                    * (F.col("c1b").cast("double") / F.col("nt").cast("double"))
                )
            ).alias("pmi"),
        )
    )
    # limit-then-rank: TakeOrderedAndProject cut, window over the 20 rows
    # (global windows never get the WindowGroupLimit prune)
    top = scored.orderBy(F.desc(F.round("pmi", 6)), "w1", "w2").limit(20)
    win = Window.orderBy(F.desc(F.round("pmi", 6)), "w1", "w2")
    return top.withColumn("rk", F.row_number().over(win)).select(
        "w1", "w2", "pair_n", F.round("pmi", 6).alias("pmi"), "rk"
    )


_BPE_ROUNDS = 3


def bpe_apply_merge(s, a, b):
    """Greedy-leftmost single-merge application on a symbol array column:
    sel[i] = match[i] ∧ ¬sel[i−1] as an F.aggregate fold (the sequential
    recurrence a window can only express via the run-parity trick — see
    the oracle), then a flatten(transform) rebuild emitting the merged
    symbol at each pick and dropping its consumed right neighbor. Output
    ≤ |s| elements, so the flatten anti-pattern bound doesn't apply.
    Words shorter than 2 symbols pass through unchanged (sequence() would
    otherwise count DOWN from 0 to -1).

    Expression-cost discipline (learned at sf100, see NOTES): the fold
    result is LET-bound via the 1-element transform trick (the pyrepr
    pattern) before the rebuild references it — HOF lambdas are not
    CSE'd, so the naive form re-evaluates the whole O(n²) fold at every
    one of the 2n rebuild accesses. The CALLER must also break lineage
    between successive merges (localCheckpoint per round): composed
    lazily, round k re-inlines round k−1's fold at every element access
    and the cost explodes as (n²)^k — the sf100 audit sat 18 minutes in
    one task evaluating the round-3 expression before this rule."""
    n = F.size(s)
    one = F.lit(1)

    def m(st, i):
        return (F.get(s, i) == a) & (F.get(s, i + one) == b) & ~st["prev"]

    sel = F.aggregate(
        F.sequence(F.lit(0), n - F.lit(2)),
        F.struct(
            F.lit(False).alias("prev"),
            F.array().cast("array<boolean>").alias("acc"),
        ),
        lambda st, i: F.struct(
            m(st, i).alias("prev"),
            F.concat(st["acc"], F.array(m(st, i))).alias("acc"),
        ),
        lambda st: st["acc"],
    )

    def rebuild(selb):
        return F.flatten(
            F.transform(
                F.sequence(F.lit(0), n - one),
                lambda i: F.when(
                    F.coalesce(F.get(selb, i - one), F.lit(False)),
                    F.array().cast("array<string>"),
                )
                .when(
                    F.coalesce(F.get(selb, i), F.lit(False)),
                    F.array(F.concat(F.get(s, i), F.get(s, i + one))),
                )
                .otherwise(F.array(F.get(s, i))),
            )
        )

    merged = F.get(F.transform(F.array(sel), rebuild), 0)
    return F.when(n >= 2, merged).otherwise(s)


def _bpe_cte_chain() -> str:
    """The shared WITH-body replaying vocab build + all merge rounds;
    tails differ per query (merge table vs corpus re-encoding)."""
    head = f"""
    WITH v AS (
        SELECT w AS word, count(*) AS wc
        FROM (SELECT unnest({_TOK_SQL}) AS w FROM documents)
        WHERE w <> '' GROUP BY 1
    ),
    s0 AS (SELECT word, wc, string_split(word, '') AS s FROM v)"""
    parts = []
    for r in range(_BPE_ROUNDS):
        parts.append(f"""
    p{r} AS (
        SELECT s[i+1] AS a, s[i+2] AS b, sum(wc) AS cnt
        FROM s{r}, unnest(range(0, len(s) - 1)) AS t(i)
        WHERE len(s) >= 2 GROUP BY 1, 2
    ),
    m{r} AS (SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1),
    pos{r} AS (
        SELECT word, wc, CAST(i AS INT) AS i, s[i+1] AS sym,
               CASE WHEN i < len(s) - 1 AND s[i+1] = mm.a AND s[i+2] = mm.b
                    THEN 1 ELSE 0 END AS mt
        FROM s{r} CROSS JOIN m{r} mm, unnest(range(0, len(s))) AS t(i)
    ),
    sel{r} AS (
        SELECT *, CASE WHEN mt = 1 AND (row_number() OVER (
                           PARTITION BY word, mt, i - ct ORDER BY i)) % 2 = 1
                       THEN 1 ELSE 0 END AS sl
        FROM (SELECT *, sum(mt) OVER (PARTITION BY word ORDER BY i
                                      ROWS UNBOUNDED PRECEDING) AS ct
              FROM pos{r})
    ),
    s{r + 1} AS (
        SELECT word, wc,
               list(CASE WHEN sl = 1 THEN sym || nsym ELSE sym END ORDER BY i)
                   FILTER (WHERE coalesce(lsl, 0) = 0) AS s
        FROM (SELECT *, lag(sl) OVER (PARTITION BY word ORDER BY i) AS lsl,
                        lead(sym) OVER (PARTITION BY word ORDER BY i) AS nsym
              FROM sel{r})
        GROUP BY 1, 2
    )""")
    return head + "," + ",".join(parts)


def _bpe_oracle() -> str:
    tail = "\n    UNION ALL ".join(
        f"SELECT {r + 1} AS merge_rank, a AS lhs, b AS rhs, CAST(cnt AS BIGINT) AS pair_n FROM m{r}"
        for r in range(_BPE_ROUNDS)
    )
    return _bpe_cte_chain() + "\n    " + tail


@query("bpe_merge_training", oracle=_bpe_oracle())
def bpe_merge_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training as relational algebra: learn the first 3
    merge rules over the corpus (count adjacent symbol pairs weighted by
    word frequency → adopt the most frequent pair, lexicographic (a, b)
    tie-break → apply it greedy-leftmost to every word → repeat).
    Returns the learned merge table (rank, pair, count) — the artifact a
    tokenizer-training job ships.

    The scale argument is the classic BPE-trainer design: ONE corpus pass
    builds the word-frequency vocabulary (partial-aggregated groupBy),
    which is localCheckpoint-materialized (the pagerank static-relation
    rule — otherwise every merge round re-derives the corpus explode),
    REPARTITIONED first so AQE's tiny-aggregate coalescing can't
    serialize the fold passes onto one task, and re-checkpointed after
    every merge round (lazy composition re-inlines the previous round's
    fold at each element access — (n²)^k blowup, see bpe_apply_merge);
    every round touches only the vocab-sized relation. Merge
    application is a map-only HOF pass per word: greedy-leftmost
    selection is the sequential recurrence sel[i] = match[i] ∧ ¬sel[i−1]
    — an F.aggregate fold over the (short) symbol array — then a
    flatten(transform(...)) rebuild (output ≤ |word| symbols, so the
    flatten anti-pattern bound doesn't apply). The oracle replays the
    identical greedy semantics with the run-parity window form
    (row_number over (word, i − running-match-count) islands — odd
    positions in each run of consecutive matches are exactly the fold's
    picks). Pair counts are integers, so the argmax is engine-exact: no
    float discipline needed anywhere."""
    merges, _ = _bpe_train(spark, sf_dir)
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_n long"
    )


def _bpe_train(spark: SparkSession, sf_dir: str):
    """Shared BPE trainer: returns (merge table rows, final vocab DF
    (w, wc, s) with all merges applied). See bpe_merge_training for the
    scale shape; bpe_encode_corpus reuses the final vocab as the
    word → subword-segmentation map."""
    docs = read_table(spark, sf_dir, "documents")
    # repartition before the checkpoint: AQE coalesces the tiny vocab
    # aggregate to ~1 post-shuffle partition, which would serialize every
    # later fold pass onto one task (observed at sf100: 30k words in one
    # partition); the checkpoint pins the wider partitioning for all
    # rounds.
    vocab = (
        docs.select(F.explode(tokens("text")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
        .select("w", "wc", F.split("w", "").alias("s"))
        .repartition(32)
        .localCheckpoint(eager=True)
    )
    merges = []
    for _ in range(_BPE_ROUNDS):
        pairs = (
            vocab.filter(F.size("s") >= 2)
            .select(
                "wc",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(0), F.size("s") - 2),
                        lambda i: F.struct(
                            F.get(F.col("s"), i).alias("a"),
                            F.get(F.col("s"), i + F.lit(1)).alias("b"),
                        ),
                    )
                ).alias("p"),
            )
            .select("wc", "p.a", "p.b")
        )
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("wc").alias("cnt"))
            .agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("nc"), F.col("a"), F.col("b"))
                ).alias("m")
            )
            .collect()[0]["m"]
        )
        a, b, cnt = best["a"], best["b"], -best["nc"]
        merges.append((len(merges) + 1, a, b, int(cnt)))
        # checkpoint per round: composed lazily, round k would re-inline
        # round k-1's fold at every element access — (n²)^k expression
        # blowup (the sf100 18-minute single task; see bpe_apply_merge)
        vocab = vocab.select(
            "w", "wc", bpe_apply_merge(F.col("s"), F.lit(a), F.lit(b)).alias("s")
        ).localCheckpoint(eager=True)
    return merges, vocab


@query(
    "bpe_encode_corpus",
    oracle=_bpe_cte_chain()
    + f""",
    words AS (
        SELECT doc_id, w AS word
        FROM (SELECT doc_id, unnest({_TOK_SQL}) AS w FROM documents)
        WHERE w <> ''
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(s.s)) AS BIGINT) AS n_bpe_tokens
    FROM words JOIN s{_BPE_ROUNDS} s USING (word)
    GROUP BY 1
    """,
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges back to the corpus — train AND
    tokenize in the engine: per document, the whitespace word count and
    the subword token count under the 3-merge model (the number a
    sequence-packing/budgeting pipeline actually needs). The tokenizer
    is the word → symbol-segmentation MAP (the trained vocab relation),
    so corpus encoding is one exploded equi-join against a vocab-sized
    relation plus a per-doc partial-aggregated sum — the corpus never
    runs the merge fold itself (per-word work happens once in the
    vocab, the classic trainer/encoder split; Spark picks broadcast vs
    shuffle for the join by vocab size). Counts are integers — the
    oracle (the full training CTE chain + the same join) is
    engine-exact with no float discipline."""
    _, vocab = _bpe_train(spark, sf_dir)
    wordmap = vocab.select(F.col("w").alias("word"), F.size("s").alias("n_sub"))
    docs = read_table(spark, sf_dir, "documents")
    words = (
        docs.select("doc_id", F.explode(tokens("text")).alias("word"))
        .filter(F.col("word") != "")
    )
    return (
        words.join(wordmap, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("n_sub").alias("n_bpe_tokens"),
        )
    )


_PQ_M = 4  # subspaces
_PQ_SUB = _KM_DIM // _PQ_M  # dims per subspace (16)
_PQ_K = 16  # codewords per subspace → 4×4-bit codes/vector


def _pq_dist_sql(vec: str, cent: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, {_PQ_SUB + 1}), "
        f"j -> ({vec}[j] - {cent}[j]) * ({vec}[j] - {cent}[j]))), 6)"
    )


@query(
    "pq_adc_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
    sub AS (
        SELECT vec_id, CAST(t.s AS INT) AS s,
               v[(t.s*{_PQ_SUB}+1):(t.s*{_PQ_SUB}+{_PQ_SUB})] AS sv
        FROM e, unnest([{", ".join(str(s) for s in range(_PQ_M))}]) AS t(s)
    ),
    init AS (
        SELECT s, CAST(row_number() OVER (PARTITION BY s ORDER BY vec_id) - 1 AS INT) AS cid,
               sv AS c
        FROM sub
        WHERE vec_id IN (SELECT vec_id FROM e ORDER BY vec_id LIMIT {_PQ_K})
    ),
    d1 AS (
        SELECT sub.vec_id, sub.s, sub.sv, i.cid, {_pq_dist_sql("sub.sv", "i.c")} AS d
        FROM sub JOIN init i ON i.s = sub.s
    ),
    a1 AS (
        SELECT vec_id, s, sv, cid
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
              FROM d1)
        WHERE rn = 1
    ),
    cm AS (
        SELECT s, cid, pos, round(avg(val), 6) AS cv
        FROM (SELECT s, cid, unnest(sv) AS val, generate_subscripts(sv, 1) AS pos FROM a1)
        GROUP BY 1, 2, 3
    ),
    ip AS (
        SELECT s, cid, pos, round(val, 6) AS seedv
        FROM (SELECT s, cid, unnest(c) AS val, generate_subscripts(c, 1) AS pos FROM init)
    ),
    cb AS (
        SELECT ip.s, ip.cid, list(coalesce(cm.cv, ip.seedv) ORDER BY ip.pos) AS c
        FROM ip LEFT JOIN cm ON cm.s = ip.s AND cm.cid = ip.cid AND cm.pos = ip.pos
        GROUP BY 1, 2
    ),
    d2 AS (
        SELECT sub.vec_id, sub.s, cb.cid, {_pq_dist_sql("sub.sv", "cb.c")} AS d
        FROM sub JOIN cb ON cb.s = sub.s
    ),
    enc AS (
        SELECT vec_id, s, cid
        FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS rn
              FROM d2)
        WHERE rn = 1
    ),
    q AS (SELECT s, sv AS qv FROM sub WHERE vec_id = 0),
    dt AS (
        SELECT cb.s, cb.cid, {_pq_dist_sql("q.qv", "cb.c")} AS dq
        FROM cb JOIN q ON q.s = cb.s
    ),
    adc AS (
        SELECT enc.vec_id, round(sum(dt.dq), 6) AS adc_dist
        FROM enc JOIN dt ON dt.s = enc.s AND dt.cid = enc.cid
        GROUP BY 1
    ),
    qf AS (SELECT v AS qv FROM e WHERE vec_id = 0),
    ex AS (
        SELECT e.vec_id,
               round(list_sum(list_transform(range(1, {_KM_DIM + 1}),
                     j -> (e.v[j] - qf.qv[j]) * (e.v[j] - qf.qv[j]))), 6) AS exact_dist
        FROM e CROSS JOIN qf
    )
    SELECT vec_id, adc_dist, exact_dist, rk
    FROM (SELECT adc.vec_id, adc.adc_dist, ex.exact_dist,
                 row_number() OVER (ORDER BY adc.adc_dist, adc.vec_id) AS rk
          FROM adc JOIN ex USING (vec_id))
    WHERE rk <= 10
    """,
)
def pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (the IVF-PQ scale path's compression
    half, Jégou et al. 2011): split the 64-dim embedding into 4 × 16-dim
    subspaces, train a 16-codeword codebook per subspace (one Lloyd
    update from the deterministic lowest-vec_id seeds, centroids rounded
    6 dp — the kmeans_cluster_stats discipline), encode every vector as
    four 4-bit codes, then answer
    a query via ASYMMETRIC DISTANCE COMPUTATION: one k×m distance table
    against the query, summed by code lookup — no full vector ever read
    at search time. Returns the ADC top-10 with the exact squared-L2
    alongside (the approximation-quality readout).

    Why this is the 100-TB ANN shape: the stored corpus shrinks
    64×float32 → 4 bytes/vector (64:1), and search is a map-only
    broadcast-join of a kilobyte-sized distance table against the code
    relation plus one TakeOrderedAndProject — zero corpus-scale shuffle,
    zero vector reads. Training is per-subspace kmeans: assignment via
    the vectorized l2_assign_arrow kernel (argmin over ROUNDED distance,
    lowest-cid tie-break — the cross-engine-replayable contract),
    centroid update is one 16-group aggregate; codebooks live on the
    driver (m·k·subdim = 4 KB) between phases, the kmeans/pca bounded-
    collect precedent. An empty training cluster keeps its 6-dp-rounded
    seed (coalesce on both sides). The final ADC sum adds the same four
    6-dp-rounded doubles on both engines; ranking is limit-then-rank
    (TakeOrderedAndProject, no global window)."""
    from ..operators.similarity import l2_assign_arrow

    emb = read_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    seed_rows = emb.orderBy("vec_id").limit(_PQ_K).collect()
    seed_vecs = [[float(x) for x in r.embedding] for r in seed_rows]
    qfull = [float(x) for x in seed_rows[0].embedding]  # vec_id 0 = first seed

    code_parts = []
    dt_rows = []
    for s in range(_PQ_M):
        lo, hi = s * _PQ_SUB, (s + 1) * _PQ_SUB
        sub = emb.select("vec_id", F.slice("embedding", lo + 1, _PQ_SUB).alias("sv"))
        seeds = [(i, v[lo:hi]) for i, v in enumerate(seed_vecs)]
        a1 = l2_assign_arrow(sub, seeds, "sv")
        upd = a1.groupBy("cluster").agg(
            *[
                F.round(F.avg(F.element_at(F.col("sv"), j + 1).cast("double")), 6).alias(
                    f"c{j}"
                )
                for j in range(_PQ_SUB)
            ]
        )
        got = {
            int(r["cluster"]): [float(r[f"c{j}"]) for j in range(_PQ_SUB)]
            for r in upd.collect()
        }
        # empty cluster → keep its 6-dp-rounded seed (oracle coalesces the same)
        cb = [
            (i, got.get(i, [round(x, 6) for x in seeds[i][1]]))
            for i in range(_PQ_K)
        ]
        enc = l2_assign_arrow(sub, cb, "sv").select(
            "vec_id", F.lit(s).alias("s"), F.col("cluster").alias("cid")
        )
        code_parts.append(enc)
        qsub = qfull[lo:hi]
        for cid, c in cb:
            dq = 0.0  # sequential fold = DuckDB list_sum order
            for j in range(_PQ_SUB):
                dq += (qsub[j] - c[j]) * (qsub[j] - c[j])
            dt_rows.append((s, cid, round(dq, 6)))

    codes = code_parts[0]
    for p in code_parts[1:]:
        codes = codes.unionAll(p)
    dt = spark.createDataFrame(dt_rows, "s int, cid int, dq double")
    adc = (
        codes.join(F.broadcast(dt), ["s", "cid"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("dq"), 6).alias("adc_dist"))
    )
    ex = l2_assign_arrow(emb, [(0, qfull)], "embedding").select(
        "vec_id", F.col("dist").alias("exact_dist")
    )
    top = (
        adc.join(ex, "vec_id")
        .orderBy("adc_dist", "vec_id")
        .limit(10)
    )
    w = Window.orderBy("adc_dist", "vec_id")
    return top.withColumn("rk", F.row_number().over(w)).select(
        "vec_id", "adc_dist", "exact_dist", "rk"
    )
