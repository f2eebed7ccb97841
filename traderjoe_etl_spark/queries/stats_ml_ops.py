"""Statistical testing + in-engine ML scoring (round 4, session 4):
Kolmogorov–Smirnov two-sample test, lag-k autocorrelation, a multinomial
Naive-Bayes classifier trained and scored entirely in-plan, and the
Gopher-style document quality rule suite (Rae et al. 2021, arXiv:2112.11446
§A1.1).

Scale notes that shape every query here:

- The KS test needs a GLOBAL cumulative distribution — the textbook form is
  ``sum(...) OVER (ORDER BY value)``, which Spark executes as a single-task
  window (the WindowGroupLimit prune never fires for an empty partition
  spec; see NOTES.md).  ks_two_sample instead implements a distributed
  prefix sum: aggregate to per-value counts (map-side combinable), range-
  repartition by value, cumulate WITHIN each range partition (a
  partition-parallel window keyed by spark_partition_id), and add per-
  partition offsets computed from a #partitions-row relation.  Every window
  is bounded — by a range partition or by the partition COUNT — so the plan
  survives a 100× scale-up where the naive global window serializes.
- Naive Bayes keeps only the (doc, term, count) relation at corpus scale;
  the model (vocab × classes log-probabilities, class priors) is broadcast-
  sized by construction (vocab capped top-K), so scoring is one broadcast
  join + a map-side-combinable per-(doc, class) sum.
- The Gopher rules are pure per-row expressions (translate/split, no
  regexp_replace copies, no UDFs) → map-only until the final per-source
  rollup.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.storagelevel import StorageLevel
from pyspark.sql import functions as F

from ..sources.tables import read_table
from . import query


# --------------------------------------------------------------------------
# Kolmogorov–Smirnov two-sample test
# --------------------------------------------------------------------------

_KS_A = "1-URGENT"
_KS_B = "5-LOW"


@query(
    "ks_two_sample",
    oracle=f"""
    WITH pts AS (
        SELECT o_totalprice AS v,
               CASE WHEN o_orderpriority = '{_KS_A}' THEN 1 ELSE 0 END AS ia,
               CASE WHEN o_orderpriority = '{_KS_B}' THEN 1 ELSE 0 END AS ib
        FROM orders
        WHERE o_orderpriority IN ('{_KS_A}', '{_KS_B}')
    ),
    agg AS (
        SELECT v, CAST(sum(ia) AS BIGINT) AS ca, CAST(sum(ib) AS BIGINT) AS cb
        FROM pts GROUP BY v
    ),
    tot AS (
        SELECT CAST(sum(ca) AS BIGINT) AS na, CAST(sum(cb) AS BIGINT) AS nb
        FROM agg
    ),
    cum AS (
        SELECT sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fa,
               sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS fb
        FROM agg
    )
    SELECT tot.na AS n_a, tot.nb AS n_b,
           round(max(abs(CAST(cum.fa AS DOUBLE) / tot.na
                         - CAST(cum.fb AS DOUBLE) / tot.nb)), 6) AS ks_d,
           round(sqrt(CAST(tot.na AS DOUBLE) * tot.nb / (tot.na + tot.nb))
                 * max(abs(CAST(cum.fa AS DOUBLE) / tot.na
                           - CAST(cum.fb AS DOUBLE) / tot.nb)), 6) AS ks_stat
    FROM cum, tot
    GROUP BY tot.na, tot.nb
    """,
)
def ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic between the
    o_totalprice distributions of 1-URGENT vs 5-LOW orders:
    D = max over values of |F_a(v) − F_b(v)|, plus the scaled statistic
    sqrt(na·nb/(na+nb))·D.

    Distributed prefix-sum plan (the scalable ECDF — no single-task global
    window anywhere):
    1. per-value counts (ca, cb) via groupBy(v) — one map-side-combinable
       shuffle; from here on the relation is |distinct values|, not |rows|;
    2. repartitionByRange(32, v): partition i holds a contiguous value
       range below partition i+1's (result is invariant to the sampled
       boundaries — offsets absorb any split);
    3. within-partition cumulative sums via a window PARTITIONED BY
       spark_partition_id() — partition-parallel, each bounded by its range
       partition's rows;
    4. per-partition totals → running offsets via a window over the ≤32-row
       pid relation (bounded by the partition COUNT, not the data), joined
       back broadcast.
    F_a = (offset_a + prefix_a)/na is then exact integer arithmetic divided
    once per row — bit-identical across engines, so ks_d needs no rounding
    slack (rounded to 6 dp anyway for the contract).  The prefix scan is
    the shared operators/prefix.global_running_agg (factored out for the
    skyline family; this plan's shape stays pinned in test_plan_shapes).
    """
    from ..operators.prefix import global_running_agg

    orders = read_table(spark, sf_dir, "orders")
    pts = orders.filter(F.col("o_orderpriority").isin(_KS_A, _KS_B)).select(
        F.col("o_totalprice").alias("v"),
        F.when(F.col("o_orderpriority") == _KS_A, 1).otherwise(0).alias("ia"),
        F.when(F.col("o_orderpriority") == _KS_B, 1).otherwise(0).alias("ib"),
    )
    agg = pts.groupBy("v").agg(
        F.sum("ia").cast("long").alias("ca"), F.sum("ib").cast("long").alias("cb")
    )
    cum = global_running_agg(agg, "v", {"fa": ("ca", "sum"), "fb": ("cb", "sum")})
    n = agg.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    ecdf = cum.crossJoin(F.broadcast(n))
    diff = F.abs(
        F.col("fa").cast("double") / F.col("na")
        - F.col("fb").cast("double") / F.col("nb")
    )
    return ecdf.groupBy("na", "nb").agg(F.max(diff).alias("d")).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        F.round(F.col("d"), 6).alias("ks_d"),
        F.round(
            F.sqrt(F.col("na").cast("double") * F.col("nb") / (F.col("na") + F.col("nb")))
            * F.col("d"),
            6,
        ).alias("ks_stat"),
    )


# --------------------------------------------------------------------------
# Lag-k autocorrelation of the daily revenue series
# --------------------------------------------------------------------------


@query(
    "acf_daily_revenue",
    oracle="""
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               round(sum(o_totalprice), 2) AS s
        FROM orders GROUP BY 1
    ),
    stats AS (
        SELECT avg(s) AS mu,
               sum((s - (SELECT avg(s) FROM daily)) * (s - (SELECT avg(s) FROM daily))) AS den
        FROM daily
    ),
    lags AS (SELECT CAST(range AS INT) AS lag FROM range(1, 8)),
    pairs AS (
        SELECT l.lag, a.s AS sa, b.s AS sb
        FROM daily a
        JOIN lags l ON true
        JOIN daily b ON b.day = a.day + l.lag * INTERVAL 1 DAY
    )
    SELECT p.lag,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(sum((p.sa - st.mu) * (p.sb - st.mu)) / st.den, 6) AS acf
    FROM pairs p, stats st
    GROUP BY p.lag, st.den
    ORDER BY p.lag
    """,
)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of daily order revenue at calendar lags 1..7 days:
    acf(k) = Σ (s_t − μ)(s_{t+k} − μ) / Σ (s_t − μ)², the standard
    full-series-denominator ACF (the seasonality companion to
    seasonality_hour_of_day / linear_trend_daily).

    Scale shape: the only corpus-scale pass is the groupBy(day) daily
    rollup (map-side combinable; output bounded by the calendar — a 100-TB
    history is still only ~10⁴ days).  μ and the denominator are one more
    tiny aggregate over the daily relation; the 7 lag alignments are
    equi-joins of the calendar-sized series against itself (broadcast), so
    no window at all — gaps in the calendar simply drop pairs, identically
    in both engines.  Daily sums rounded to 2 dp on both sides before the
    centered products so the series the two engines correlate is identical.
    """
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
        )
        .agg(F.round(F.sum("o_totalprice"), 2).alias("s"))
        .localCheckpoint(eager=False)
    )
    stats = daily.crossJoin(
        F.broadcast(daily.agg(F.avg("s").alias("mu")))
    ).agg(
        F.first("mu").alias("mu"),
        F.sum((F.col("s") - F.col("mu")) * (F.col("s") - F.col("mu"))).alias("den"),
    )
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag"))
    a, b = daily.alias("a"), daily.alias("b")
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            F.col("b.day") == F.date_add(F.col("a.day"), F.col("lag")),
        )
        .select("lag", F.col("a.s").alias("sa"), F.col("b.s").alias("sb"))
    )
    return (
        pairs.crossJoin(F.broadcast(stats))
        .groupBy("lag", "den")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum((F.col("sa") - F.col("mu")) * (F.col("sb") - F.col("mu"))).alias("num"),
        )
        .select(
            "lag",
            "n_pairs",
            F.round(F.col("num") / F.col("den"), 6).alias("acf"),
        )
        .orderBy("lag")
    )


# --------------------------------------------------------------------------
# Multinomial Naive Bayes, trained and scored in-plan
# --------------------------------------------------------------------------

_NB_TOPV = 512


@query(
    "naive_bayes_lang_confusion",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, lang, unnest(list_filter(str_split_regex(trim(text), '\\s+'),
                                                w -> w <> '')) AS term
        FROM documents
    ),
    ctc_all AS (
        SELECT lang AS cls, term, CAST(count(*) AS BIGINT) AS c
        FROM tok GROUP BY 1, 2
    ),
    vocab AS (
        SELECT term FROM (
            SELECT term, sum(c) AS total FROM ctc_all GROUP BY term
            ORDER BY total DESC, term ASC LIMIT {_NB_TOPV}
        )
    ),
    vsize AS (SELECT CAST(count(*) AS BIGINT) AS v FROM vocab),
    classes AS (SELECT lang AS cls, CAST(count(*) AS BIGINT) AS ndocs
                FROM documents GROUP BY lang),
    ntot AS (SELECT CAST(sum(ndocs) AS BIGINT) AS n FROM classes),
    ctc AS (SELECT cls, term, c FROM ctc_all JOIN vocab USING (term)),
    tokc AS (SELECT cls, sum(c) AS tc FROM ctc GROUP BY cls),
    lp AS (
        SELECT g.cls, g.term,
               ln((COALESCE(ctc.c, 0) + 1.0) / (tokc.tc + vsize.v)) AS logp
        FROM (SELECT classes.cls, vocab.term FROM classes, vocab) g
        LEFT JOIN ctc ON ctc.cls = g.cls AND ctc.term = g.term
        JOIN tokc ON tokc.cls = g.cls
        CROSS JOIN vsize
    ),
    tf AS (
        SELECT doc_id, lang, term, CAST(count(*) AS BIGINT) AS cnt
        FROM tok GROUP BY 1, 2, 3
    ),
    scores AS (
        SELECT tf.doc_id, tf.lang AS actual, lp.cls,
               sum(tf.cnt * lp.logp)
                 + ln(CAST(any_value(classes.ndocs) AS DOUBLE) / any_value(ntot.n)) AS score
        FROM tf
        JOIN lp ON lp.term = tf.term
        JOIN classes ON classes.cls = lp.cls
        CROSS JOIN ntot
        GROUP BY tf.doc_id, tf.lang, lp.cls
    ),
    pred AS (
        SELECT doc_id, actual, cls AS predicted,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY round(score, 6) DESC, cls ASC) AS rn
        FROM scores
    )
    SELECT actual, predicted, CAST(count(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1
    GROUP BY actual, predicted
    ORDER BY actual, predicted
    """,
)
def naive_bayes_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes (add-one smoothing) trained on the documents
    corpus to predict `lang` from term counts, self-scored, reported as a
    confusion matrix (actual, predicted, n).  The whole train+score cycle is
    one declarative plan — no driver-side model object.

    Scale shape — two independent tokenize passes, ZERO corpus-scale
    checkpoints (the tfidf lesson: a corpus-scale cache write + N reads
    loses to re-running an embarrassingly-parallel scan; the checkpointed
    form's 200M-row tf cache GC-killed the sf100 audit JVM, and its
    DISK_ONLY fix still cost 224 s — this form is the one that scales):
    1. TRAIN pass: tok → groupBy(lang, term) — map-side combinable straight
       to |langs|x|vocab| rows; vocab = top-{_NB_TOPV} cut
       (TakeOrderedAndProject, never a global rank window); class priors
       come from `documents` directly (one count per lang).  The model
       (log-probs + priors) is broadcast-sized by construction.
    2. SCORE pass: tok → groupBy(doc, lang, term) (the only other
       corpus-scale shuffle), broadcast-joined to the model, partial-
       aggregated per (doc, class); the per-doc argmax window is bounded
       by |classes|.

    Oracle parity: scores are double log-sums (order-dependent at ~1e-13);
    the argmax ranks on round(score, 6) with the class name as tie-break,
    so both engines pick the same class unless two classes land within
    1e-12 of the same 1e-6 grid line — the same margin contract as
    logreg_quality_gate.  The emitted columns are integer counts only.

    Membership contract: a document is classified iff it has at least one
    in-vocab term (the tf x model join is inner on term) — OOV-only or
    empty docs are out of the confusion matrix, identically in the oracle
    and the numpy twin.

    On this synthetic corpus every lang shares one vocabulary, so the
    posterior is near-uniform and accuracy is near-chance — the gate proves
    the arithmetic (priors, smoothing, log-likelihoods, argmax), not model
    quality.
    """
    docs = read_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "")
        ).alias("term"),
    )
    ctc_all = tok.groupBy(F.col("lang").alias("cls"), "term").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    vocab = (
        ctc_all.groupBy("term")
        .agg(F.sum("c").alias("total"))
        .orderBy(F.col("total").desc(), F.col("term").asc())
        .limit(_NB_TOPV)
        .select("term")
    )
    vsize = vocab.agg(F.count(F.lit(1)).cast("long").alias("v"))
    classes = docs.groupBy(F.col("lang").alias("cls")).agg(
        F.count(F.lit(1)).cast("long").alias("ndocs")
    )
    ntot = classes.agg(F.sum("ndocs").cast("long").alias("n"))
    ctc = ctc_all.join(F.broadcast(vocab), "term")
    tokc = ctc.groupBy("cls").agg(F.sum("c").alias("tc"))
    grid = classes.select("cls").crossJoin(vocab)
    lp = (
        grid.join(ctc, ["cls", "term"], "left")
        .join(tokc, "cls")
        .crossJoin(F.broadcast(vsize))
        .select(
            "cls",
            "term",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                / (F.col("tc") + F.col("v"))
            ).alias("logp"),
        )
    )
    prior = classes.crossJoin(F.broadcast(ntot)).select(
        "cls", F.log(F.col("ndocs").cast("double") / F.col("n")).alias("logprior")
    )
    tf = tok.groupBy("doc_id", "lang", "term").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    scores = (
        tf.join(F.broadcast(lp), "term")
        .groupBy("doc_id", F.col("lang").alias("actual"), "cls")
        .agg(F.sum(F.col("cnt") * F.col("logp")).alias("ll"))
        .join(F.broadcast(prior), "cls")
        .select(
            "doc_id", "actual", "cls", (F.col("ll") + F.col("logprior")).alias("score")
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.round(F.col("score"), 6).desc(), F.col("cls").asc()
    )
    pred = scores.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        pred.groupBy("actual", F.col("cls").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy("actual", "predicted")
    )


# --------------------------------------------------------------------------
# Gopher-style document quality rules (arXiv:2112.11446 §A1.1, adapted)
# --------------------------------------------------------------------------

# Canonical Gopher stop set plus corpus-domain terms so the rule
# discriminates on the synthetic vocabulary (the canonical 8 alone would
# fail every doc — 'the' is the only one the generator emits).
_STOPS = ("the", "a", "and", "of", "to", "data", "value", "row")
_STOP_SQL = ", ".join(f"'{s}'" for s in _STOPS)


def gopher_doc_flags(docs: DataFrame) -> DataFrame:
    """Per-document Gopher rule flags (0 = pass, 1 = fail) over a `text`
    column, keyed by the `source` column — the rule kernel behind the
    gopher_quality_rules report.
    Map-only: split once, translate-based char-class counts, literal-array
    stopword membership; no regexp_replace copies, no UDFs, no windows.

    Contracts: "alphabetic" means ASCII a-z by design (the corpus is
    lang-id'd ASCII; a unicode-alpha rule would need a regexp per word);
    an empty/whitespace-only doc has NULL ratios, so every comparison is
    false and ALL rules fail — the conservative quarantine default."""
    words = F.filter(F.split(F.trim(F.col("text")), r"\s+"), lambda w: w != "")
    nchars = F.length(F.translate(F.col("text"), " \t\n\r", ""))
    # '...' is removed non-overlapping, so the length delta is always a
    # multiple of 3 — the integer division is exact in both engines.
    symbols = F.expr(
        "length(text) - length(translate(text, '#', '')) "
        "+ (length(text) - length(replace(text, '...', ''))) div 3"
    )
    feat = docs.select(
        "source",
        words.alias("words"),
        nchars.alias("nchars"),
        symbols.cast("long").alias("symbols"),
    )
    wc = F.size(F.col("words"))
    alpha_words = F.size(
        F.filter(
            F.col("words"),
            lambda w: F.length(
                F.translate(F.lower(w), "abcdefghijklmnopqrstuvwxyz", "")
            )
            < F.length(w),
        )
    )
    stop_hits = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in _STOPS]),
            lambda s: F.array_contains(F.col("words"), s),
        )
    )

    def zero_one(cond) -> Column:
        return F.when(cond, 0).otherwise(1)

    return feat.select(
        "source",
        wc.cast("long").alias("wc"),
        zero_one((wc >= 50) & (wc <= 100000)).alias("f_wc"),
        zero_one(
            (F.col("nchars").cast("double") / wc >= 3)
            & (F.col("nchars").cast("double") / wc <= 10)
        ).alias("f_mwl"),
        zero_one(F.col("symbols").cast("double") / wc <= 0.1).alias("f_sym"),
        zero_one(alpha_words.cast("double") / wc >= 0.8).alias("f_alpha"),
        zero_one(stop_hits >= 2).alias("f_stop"),
    )


@query(
    "gopher_quality_rules",
    oracle=f"""
    WITH feat AS (
        SELECT source,
               list_filter(str_split_regex(trim(text), '\\s+'), w -> w <> '') AS words,
               length(translate(text, ' ' || chr(9) || chr(10) || chr(13), '')) AS nchars,
               length(text) - length(replace(text, '#', ''))
                 + (length(text) - length(replace(text, '...', ''))) // 3 AS symbols
        FROM documents
    ),
    rules AS (
        SELECT source,
               CAST(len(words) AS BIGINT) AS wc,
               CASE WHEN len(words) BETWEEN 50 AND 100000 THEN 0 ELSE 1 END AS f_wc,
               CASE WHEN CAST(nchars AS DOUBLE) / len(words) BETWEEN 3 AND 10
                    THEN 0 ELSE 1 END AS f_mwl,
               CASE WHEN CAST(symbols AS DOUBLE) / len(words) <= 0.1
                    THEN 0 ELSE 1 END AS f_sym,
               CASE WHEN CAST(len(list_filter(words,
                         w -> length(translate(lower(w), 'abcdefghijklmnopqrstuvwxyz', ''))
                              < length(w))) AS DOUBLE) / len(words) >= 0.8
                    THEN 0 ELSE 1 END AS f_alpha,
               CASE WHEN len(list_filter([{_STOP_SQL}],
                         s -> list_contains(words, s))) >= 2
                    THEN 0 ELSE 1 END AS f_stop
        FROM feat
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN f_wc + f_mwl + f_sym + f_alpha + f_stop = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
           CAST(sum(f_wc) AS BIGINT) AS fail_wordcount,
           CAST(sum(f_mwl) AS BIGINT) AS fail_mean_word_len,
           CAST(sum(f_sym) AS BIGINT) AS fail_symbol_ratio,
           CAST(sum(f_alpha) AS BIGINT) AS fail_alpha_ratio,
           CAST(sum(f_stop) AS BIGINT) AS fail_stopwords
    FROM rules
    GROUP BY source
    ORDER BY source
    """,
)
def gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality-filter rule suite (arXiv:2112.11446 §A1.1) per source:
    word count in [50, 100000]; mean word length in [3, 10]; symbol-to-word
    ratio (# and ellipses) ≤ 0.1; ≥80% of words contain an alphabetic
    character; ≥2 stopwords present.  Emits per-source doc counts,
    full-pass counts, and per-rule failure counts — the report a curation
    pipeline reads before dropping data.

    Scale shape: every feature is a per-row expression over the text —
    split once, translate-based char-class counts (never
    length(regexp_replace(...)) copies — the 7× rule from text_profile),
    stopword membership as array_contains over the 8-element literal —
    then one map-side-combinable per-source rollup.  Map-only until the
    final tiny shuffle; no UDFs, no windows.

    Oracle parity: all comparisons are count/count doubles from identical
    integers (single division → bit-identical across engines), so every
    emitted column is an exact integer.  The line-based bullet/ellipsis
    rules from the paper are omitted — the synthetic corpus is single-line,
    so they would be constants (documented, not hidden).
    """
    docs = read_table(spark, sf_dir, "documents")
    rules = gopher_doc_flags(docs)
    return (
        rules.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    F.col("f_wc") + F.col("f_mwl") + F.col("f_sym") + F.col("f_alpha") + F.col("f_stop")
                    == 0,
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_pass"),
            F.sum("f_wc").cast("long").alias("fail_wordcount"),
            F.sum("f_mwl").cast("long").alias("fail_mean_word_len"),
            F.sum("f_sym").cast("long").alias("fail_symbol_ratio"),
            F.sum("f_alpha").cast("long").alias("fail_alpha_ratio"),
            F.sum("f_stop").cast("long").alias("fail_stopwords"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Item-item collaborative filtering (co-occurrence cosine top-k)
# --------------------------------------------------------------------------


@query(
    "item_item_cosine_topk",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    ),
    supp AS (SELECT p, CAST(count(*) AS BIGINT) AS n FROM op GROUP BY p),
    co AS (
        SELECT x.p AS i, y.p AS j, CAST(count(*) AS BIGINT) AS c
        FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p
        GROUP BY x.p, y.p
    ),
    sym AS (
        SELECT i, j, c FROM co
        UNION ALL
        SELECT j AS i, i AS j, c FROM co
    ),
    scored AS (
        SELECT s.i AS item, s.j AS neighbor, s.c AS n_co,
               round(CAST(s.c AS DOUBLE) / sqrt(CAST(si.n AS DOUBLE) * sj.n), 6) AS cosine
        FROM sym s
        JOIN supp si ON si.p = s.i
        JOIN supp sj ON sj.p = s.j
        WHERE si.n >= 5 AND sj.n >= 5 AND s.c >= 2
    ),
    ranked AS (
        SELECT item, neighbor, n_co, cosine,
               row_number() OVER (PARTITION BY item
                                  ORDER BY cosine DESC, neighbor ASC) AS rk
        FROM scored
    )
    SELECT item, neighbor, n_co, cosine, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY item, rk
    """,
)
def item_item_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering on the order/part bipartite graph:
    cosine(i, j) = |orders with both| / sqrt(|orders with i| · |orders with
    j|), top-3 neighbors per item (support floors n ≥ 5, co-count ≥ 2) —
    the classic Amazon-style recommender precompute.

    Scale shape: co-occurrence pairs come from the per-order self-join
    (fan-out bounded by order SIZE, ~7 lines — never |items|²), partial-
    aggregated into (i, j) counts; supports are one map-combinable groupBy.
    The per-item ranking window is PARTITIONED BY item — bounded by an
    item's co-occurrence fan-out, never global.  The only floats are
    c/sqrt(n_i·n_j) — one division of exact integers, bit-identical across
    engines, rounded to 6 dp with neighbor-id tie-break so the top-3 cut is
    replayable.  Degenerate hot items (an item co-bought with everything)
    are exactly the AQE-skew-splittable shuffle case; the c ≥ 2 floor also
    prunes the long random-pair tail before the window."""
    from .graph_ops import co_purchase_op, co_purchase_pairs

    # DISK_ONLY: op is |order,part| rows consumed 3x (supports + both
    # self-join sides); the default deserialized on-heap level GC-kills
    # the driver JVM at sf100 (observed) - the pagerank-edges rule.
    op = co_purchase_op(spark, sf_dir).localCheckpoint(
        eager=False, storageLevel=StorageLevel.DISK_ONLY
    )
    supp = op.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("n"))
    co = (
        co_purchase_pairs(op)
        .groupBy(F.col("a").alias("i"), F.col("b").alias("j"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    sym = co.unionAll(co.select(F.col("j").alias("i"), F.col("i").alias("j"), "c"))
    si, sj = supp.alias("si"), supp.alias("sj")
    scored = (
        sym.join(si, F.col("si.p") == F.col("i"))
        .join(sj, F.col("sj.p") == F.col("j"))
        .filter((F.col("si.n") >= 5) & (F.col("sj.n") >= 5) & (F.col("c") >= 2))
        .select(
            F.col("i").alias("item"),
            F.col("j").alias("neighbor"),
            F.col("c").alias("n_co"),
            F.round(
                F.col("c").cast("double")
                / F.sqrt(F.col("si.n").cast("double") * F.col("sj.n")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(F.col("cosine").desc(), F.col("neighbor").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= 3)
        .select("item", "neighbor", "n_co", "cosine", "rk")
        .orderBy("item", "rk")
    )


# --------------------------------------------------------------------------
# Poisson bootstrap confidence interval (single-pass, hash-deterministic)
# --------------------------------------------------------------------------

# Cumulative Poisson(1) thresholds quantized to 16 bits, as 4-hex-char
# bucket keys (floor(P(X<=k) * 2^16), lowercase hex): a weight is assigned
# by STRING comparison of a 4-char md5 chunk against these literals — the
# same no-hex-to-int-conversion trick as dsir_importance_resample.  At
# 16-bit resolution P(X<=7) and P(X<=8) both quantize to 'ffff', so weights
# are 0..7 with w=8 for the residual 1/65536 mass (true tail P(X>=8) is
# 1.02e-5; the quantization bias is ~5e-6 — far below the CI width, and
# IDENTICAL in both engines, which is what parity needs).
_POIS_HEX16 = ["5e2d", "bc5a", "eb71", "fb23", "ff10", "ffd9", "fffa", "ffff"]
_B = 64           # bootstrap replicates
_CHUNKS = 8       # replicates derived per md5 (8 x 4 hex chars = 32)
_GROUPS = _B // _CHUNKS

_W_SQL = "CASE " + " ".join(
    f"WHEN h < '{hx}' THEN {k}" for k, hx in enumerate(_POIS_HEX16)
) + " ELSE 8 END"


@query(
    "poisson_bootstrap_ci",
    oracle=f"""
    WITH groups AS (SELECT CAST(range AS INT) AS g FROM range(0, {_GROUPS})),
    chunks AS (SELECT CAST(range AS INT) AS c FROM range(0, {_CHUNKS})),
    hashed AS (
        SELECT groups.g, o.o_totalprice AS x,
               md5('boot:' || CAST(groups.g AS VARCHAR) || ':'
                   || CAST(o.o_orderkey AS VARCHAR)) AS hh
        FROM orders o CROSS JOIN groups
    ),
    sliced AS (
        SELECT g * {_CHUNKS} + c AS r, x,
               substr(hh, 1 + c * 4, 4) AS h
        FROM hashed CROSS JOIN chunks
    ),
    weighted AS (SELECT r, x, {_W_SQL} AS w FROM sliced),
    means AS (
        SELECT r, round(sum(w * x) / sum(w), 4) AS m
        FROM weighted GROUP BY r
    ),
    point AS (
        SELECT CAST(count(*) AS BIGINT) AS n_rows,
               round(avg(o_totalprice), 4) AS point_mean
        FROM orders
    ),
    boot AS (
        SELECT round(avg(m), 4) AS boot_mean,
               round(stddev_samp(m), 4) AS boot_se,
               list_sort(list(m)) AS ms
        FROM means
    )
    SELECT point.n_rows, point.point_mean, boot.boot_mean, boot.boot_se,
           boot.ms[2] AS ci_lo, boot.ms[{_B - 1}] AS ci_hi
    FROM point, boot
    """,
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean(o_totalprice) via the POISSON
    bootstrap: each of 64 replicates reweights every row by a
    Poisson(1)-distributed weight derived from a keyed md5 — the
    single-pass, shuffle-free way to bootstrap at 100 TB (classical
    resampling needs B materialized copies; this needs B conditional sums).

    Scale shape: one corpus scan fanned out map-side with NO data shuffle.
    Two measured design points at sf10 drove the form: (a) hash-per-
    replicate (64 md5/row) cost 30.6 s — each 128-bit md5 is instead
    sliced into eight 4-hex-char chunks = 8 replicates per hash; (b) even
    with 8x fewer hashes, EXPLODING to |rows|x64 weight rows cost ~27 s of
    pure row materialization (the md5s themselves are ~4 s) — so the 8
    chunk weights are folded into 16 conditional aggregates per hash group
    (sum(w_c*x), sum(w_c) for c in 0..7): the 960M weight evaluations
    happen inside ONE codegen aggregate over the 120M hashed rows, and the
    per-replicate relation first EXISTS as the 8-row groupBy(g) output,
    unpivoted by stack() into the 64 (r, m) means.  The chunk substrings
    are pre-projected once per row — a when/otherwise chain splices its
    condition into every CASE arm (no cross-arm CSE), which re-sliced the
    hash up to 128x per row in the naive form (measured 24.7 -> 14.8 s
    fresh-cold at sf10).  Weights come from string-comparing each chunk
    against the 8 cumulative-Poisson bucket literals (string order ==
    numeric order on fixed-width lowercase hex).

    Determinism: weights are small integers from identical hashes; each
    replicate mean is rounded to 4 dp on both sides BEFORE the order
    statistics, so the CI rank picks (2nd / 63rd of the 64 sorted means ~
    2.5/97.5 pct) are replayable across engines.
    """
    orders = read_table(spark, sf_dir, "orders")
    groups = spark.range(0, _GROUPS).select(F.col("id").cast("int").alias("g"))
    hashed = orders.crossJoin(F.broadcast(groups)).select(
        "g",
        F.col("o_totalprice").alias("x"),
        F.md5(
            F.concat(
                F.lit("boot:"),
                F.col("g").cast("string"),
                F.lit(":"),
                F.col("o_orderkey").cast("string"),
            )
        ).alias("hh"),
    )

    # Pre-project the 8 chunk substrings ONCE per row: a when/otherwise
    # chain splices its condition expression into EVERY branch (no CSE
    # across CASE arms — see functions/pyrepr.py), so referencing the
    # substring directly would re-slice the hash up to 8x per comparison
    # x 16 aggregates.  CollapseProject keeps a non-cheap alias referenced
    # >1x as one evaluation (plan-pinned for text_profile).
    chunked = hashed.select(
        "g",
        "x",
        *[
            F.substring(F.col("hh"), 1 + 4 * c, 4).alias(f"h{c}")
            for c in range(_CHUNKS)
        ],
    )

    def _w(c: int):
        w = F.lit(8)
        for k, hx in reversed(list(enumerate(_POIS_HEX16))):
            w = F.when(F.col(f"h{c}") < hx, F.lit(k)).otherwise(w)
        return w

    aggs = []
    for c in range(_CHUNKS):
        w = _w(c)
        aggs.append(F.sum(w * F.col("x")).alias(f"wx{c}"))
        aggs.append(F.sum(w).alias(f"w{c}"))
    per_g = chunked.groupBy("g").agg(*aggs)
    stack_args = ", ".join(f"{c}, wx{c}, w{c}" for c in range(_CHUNKS))
    means = per_g.select(
        "g", F.expr(f"stack({_CHUNKS}, {stack_args}) AS (c, wx, w)")
    ).select(
        (F.col("g") * _CHUNKS + F.col("c")).alias("r"),
        F.round(F.col("wx") / F.col("w"), 4).alias("m"),
    )
    point = orders.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.round(F.avg("o_totalprice"), 4).alias("point_mean"),
    )
    boot = means.agg(
        F.round(F.avg("m"), 4).alias("boot_mean"),
        F.round(F.stddev_samp("m"), 4).alias("boot_se"),
        F.sort_array(F.collect_list("m")).alias("ms"),
    )
    return (
        point.crossJoin(F.broadcast(boot))
        .select(
            "n_rows",
            "point_mean",
            "boot_mean",
            "boot_se",
            F.element_at("ms", 2).alias("ci_lo"),
            F.element_at("ms", _B - 1).alias("ci_hi"),
        )
    )


# --------------------------------------------------------------------------
# 2D Pareto frontier (skyline) via the distributed prefix scan
# --------------------------------------------------------------------------


@query(
    "pareto_frontier_parts",
    oracle="""
    WITH pv AS (
        SELECT l_partkey AS pk, CAST(round(sum(l_quantity)) AS BIGINT) AS vol
        FROM lineitem GROUP BY 1
    ),
    pts AS (
        SELECT p.p_partkey, CAST(round(p.p_retailprice * 100) AS BIGINT) AS cost_cents,
               pv.vol
        FROM part p JOIN pv ON pv.pk = p.p_partkey
    )
    SELECT a.p_partkey, a.cost_cents, a.vol
    FROM pts a
    WHERE NOT EXISTS (
        SELECT 1 FROM pts b
        WHERE b.cost_cents <= a.cost_cents AND b.vol >= a.vol
          AND (b.cost_cents < a.cost_cents OR b.vol > a.vol)
    )
    ORDER BY a.cost_cents, a.p_partkey
    """,
)
def pareto_frontier_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D Pareto frontier (skyline) of parts on (retail cost ↓ better,
    shipped volume ↑ better): the parts no other part beats on both axes —
    the classic multi-criteria shortlist query.

    The oracle is the O(n²) NOT EXISTS dominance test (fine at oracle
    scale); the engine plan is the scalable O(n log n)-style form built on
    operators/prefix.global_running_agg:
    1. per-part (cost_cents, vol) — integer-exact (cents, rounded whole
       quantities), one map-combinable agg each;
    2. per-cost max volume (groupBy — within a cost tie only the max-volume
       rows can survive);
    3. EXCLUSIVE running max of those maxima over cost ascending — the
       distributed prefix scan (range repartition + per-pid windows +
       bounded offset join), never a global ORDER BY window;
    4. a point survives iff vol == max-at-its-cost AND vol > running-max of
       all strictly cheaper costs (NULL prefix = cheapest cost band).
       Equal (cost, vol) duplicates all survive together — dominance
       requires strictness in one axis — matching the oracle exactly.
    Everything shuffles on cost or partkey (AQE-splittable); no windows
    over data-sized partitions.
    """
    from ..operators.prefix import global_running_agg

    part = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem")
    pv = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.round(F.sum("l_quantity")).cast("long").alias("vol")
    )
    pts = part.join(pv, part["p_partkey"] == pv["pk"]).select(
        "p_partkey",
        F.round(F.col("p_retailprice") * 100).cast("long").alias("cost_cents"),
        "vol",
    )
    maxv = pts.groupBy("cost_cents").agg(F.max("vol").alias("mv"))
    pref = global_running_agg(
        maxv, "cost_cents", {"pmax": ("mv", "max")}, inclusive=False
    )
    return (
        pts.join(pref, "cost_cents")
        .filter(
            (F.col("vol") == F.col("mv"))
            & (F.col("pmax").isNull() | (F.col("vol") > F.col("pmax")))
        )
        .select("p_partkey", "cost_cents", "vol")
        .orderBy("cost_cents", "p_partkey")
    )


# --------------------------------------------------------------------------
# Exact weighted quantiles via the distributed prefix scan
# --------------------------------------------------------------------------


@query(
    "weighted_quantiles_price",
    oracle="""
    WITH agg AS (
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
               CAST(round(sum(l_quantity)) AS BIGINT) AS w
        FROM lineitem GROUP BY 1
    ),
    cum AS (
        SELECT price_cents, w,
               sum(w) OVER (ORDER BY price_cents
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw
        FROM agg
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM agg)
    SELECT
        (SELECT min(price_cents) FROM cum, tot WHERE cw * 4 >= tw) AS p25_cents,
        (SELECT min(price_cents) FROM cum, tot WHERE cw * 2 >= tw) AS median_cents,
        (SELECT min(price_cents) FROM cum, tot WHERE cw * 4 >= tw * 3) AS p75_cents,
        tot.tw AS total_weight
    FROM tot
    """,
)
def weighted_quantiles_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact QUANTITY-WEIGHTED price quantiles (p25 / median / p75 of
    l_extendedprice, each unit of quantity counting once) — the
    inventory-weighted distribution a pricing desk actually wants, which
    percentile() over rows cannot express.

    Scale shape — the third consumer of operators/prefix.global_running_agg:
    per-price integer weights (map-combinable groupBy on cents), a
    distributed running weight sum over price ascending (range repartition
    + per-pid windows + bounded offset join — never a single-task global
    window), then each quantile is one tiny filtered min: the k-th weighted
    quantile is the smallest price whose cumulative weight reaches
    ceil(k·W) — expressed as the integer cross-multiplication cw·4 ≥ tw
    (no floating quantile thresholds anywhere, so the cut is engine-exact).
    """
    from ..operators.prefix import global_running_agg

    li = read_table(spark, sf_dir, "lineitem")
    agg = li.groupBy(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents")
    ).agg(F.round(F.sum("l_quantity")).cast("long").alias("w"))
    cum = global_running_agg(agg, "price_cents", {"cw": ("w", "sum")})
    tot = agg.agg(F.sum("w").cast("long").alias("tw"))
    j = cum.crossJoin(F.broadcast(tot))
    # one conditional aggregate — the three quantile cuts and the total in
    # a single pass over the prefix-scan output (three filtered branches
    # would re-run the post-checkpoint plan 3x)
    return j.agg(
        F.min(F.when(F.col("cw") * 4 >= F.col("tw"), F.col("price_cents"))).alias(
            "p25_cents"
        ),
        F.min(F.when(F.col("cw") * 2 >= F.col("tw"), F.col("price_cents"))).alias(
            "median_cents"
        ),
        F.min(
            F.when(F.col("cw") * 4 >= F.col("tw") * 3, F.col("price_cents"))
        ).alias("p75_cents"),
        F.max("tw").alias("total_weight"),
    )
