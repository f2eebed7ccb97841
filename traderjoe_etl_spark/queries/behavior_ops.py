"""Behavioral / product-analytics shapes over the events stream (round 4):
Markov transition estimation, funnel progression, retention cohorts.

The event-sequence family a platform runs next to sessionization: what do
users do next (first-order Markov chain over event types), how do they
move through an ordered goal funnel, and how do signup cohorts retain
week over week. All three are pure DataFrame composition with full SQL
oracles; determinism comes from integer counts and unique tie-breaks
(ts, event_id) — no float discipline needed beyond rounding the derived
rates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table
from . import query


@query(
    "markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS cur,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS nxt
        FROM events
    ),
    trans AS (
        SELECT cur, nxt, count(*) AS n FROM seq WHERE nxt IS NOT NULL
        GROUP BY 1, 2
    ),
    tot AS (SELECT cur, sum(n) AS t FROM trans GROUP BY 1)
    SELECT trans.cur, trans.nxt, CAST(trans.n AS BIGINT) AS n,
           round(CAST(trans.n AS DOUBLE) / CAST(tot.t AS DOUBLE), 6) AS p
    FROM trans JOIN tot USING (cur)
    """,
)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov chain over per-user event sequences: count
    (current → next) event-type transitions (next = the user's next event
    by (ts, event_id) — the unique tie-break that makes the sequence, and
    therefore every count, engine- and partitioning-exact) and estimate
    the conditional next-event distribution P(next | current).

    Plan shape: ONE window pass partitioned by user (per-user partitions
    are bounded by a user's event count — the sessionization shape, never
    a global sort), partial-aggregated transition counts (|types|² rows),
    and a broadcast-sized per-state total joined back. At 100 TB the only
    corpus-scale operation is the user-key shuffle the window needs;
    everything after is |event-type-vocabulary|-sized."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).alias("n"))
    tot = trans.groupBy("cur").agg(F.sum("n").alias("t"))
    return trans.join(F.broadcast(tot), "cur").select(
        "cur",
        "nxt",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("n").cast("double") / F.col("t").cast("double"), 6).alias("p"),
    )


_FUNNEL = ("view", "click", "purchase")


@query(
    "funnel_progression",
    oracle=f"""
    WITH u1 AS (
        SELECT user_id, min(ts) AS t FROM events
        WHERE event_type = '{_FUNNEL[0]}' GROUP BY 1
    ),
    u2 AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN u1 ON e.user_id = u1.user_id AND e.ts > u1.t
        WHERE e.event_type = '{_FUNNEL[1]}' GROUP BY 1
    ),
    u3 AS (
        SELECT e.user_id, min(e.ts) AS t
        FROM events e JOIN u2 ON e.user_id = u2.user_id AND e.ts > u2.t
        WHERE e.event_type = '{_FUNNEL[2]}' GROUP BY 1
    ),
    c AS (SELECT (SELECT count(*) FROM u1) AS c1,
                 (SELECT count(*) FROM u2) AS c2,
                 (SELECT count(*) FROM u3) AS c3)
    SELECT s.stage, s.users, round(CAST(s.users AS DOUBLE) / CAST(c.c1 AS DOUBLE), 6) AS conv
    FROM c, (SELECT 1 AS rk, '{_FUNNEL[0]}' AS stage, (SELECT CAST(count(*) AS BIGINT) FROM u1) AS users
             UNION ALL SELECT 2, '{_FUNNEL[1]}', (SELECT count(*) FROM u2)
             UNION ALL SELECT 3, '{_FUNNEL[2]}', (SELECT count(*) FROM u3)) s
    """,
)
def funnel_progression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered goal funnel (view → click → purchase): a user advances to
    stage k only with an event of stage-k's type STRICTLY AFTER their
    stage-(k−1) entry time — the standard product-analytics funnel, not a
    mere per-type distinct count. Returns per-stage user counts and
    conversion versus stage 1.

    Plan shape: stage k is one filtered partial-aggregated min(ts) per
    user joined against stage k−1's (user, entry-ts) relation — the
    relations shrink monotonically, every join is an equi-join on
    user_id, and the strict-inequality predicate rides the join. Spark
    plans each stage as one fact-scan + user-keyed shuffle; nothing is
    ever per-event-pair. The three scalar counts collapse to 1-row
    aggregates cross-joined onto a 3-row literal — broadcast by size."""
    ev = read_table(spark, sf_dir, "events")

    def stage(prev: DataFrame | None, etype: str) -> DataFrame:
        src = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            p = prev.select(F.col("user_id").alias("pu"), F.col("t").alias("pt"))
            src = src.join(
                p, (src.user_id == p.pu) & (src.ts > p.pt)
            )
        return src.groupBy("user_id").agg(F.min("ts").alias("t"))

    u1 = stage(None, _FUNNEL[0])
    u2 = stage(u1, _FUNNEL[1])
    u3 = stage(u2, _FUNNEL[2])
    counts = (
        u1.agg(F.count(F.lit(1)).alias("users")).select(F.lit(1).alias("rk"), F.lit(_FUNNEL[0]).alias("stage"), "users")
        .unionAll(u2.agg(F.count(F.lit(1)).alias("users")).select(F.lit(2).alias("rk"), F.lit(_FUNNEL[1]).alias("stage"), "users"))
        .unionAll(u3.agg(F.count(F.lit(1)).alias("users")).select(F.lit(3).alias("rk"), F.lit(_FUNNEL[2]).alias("stage"), "users"))
    )
    c1 = u1.agg(F.count(F.lit(1)).alias("c1"))
    return counts.join(F.broadcast(c1)).select(
        "stage",
        F.col("users").cast("long").alias("users"),
        F.round(F.col("users").cast("double") / F.col("c1").cast("double"), 6).alias("conv"),
    )


@query(
    "ab_test_zscore",
    oracle="""
    SELECT event_type,
           CAST(count(*) FILTER (user_id % 2 = 0) AS BIGINT) AS na,
           CAST(count(*) FILTER (user_id % 2 = 1) AS BIGINT) AS nb,
           round(avg(value) FILTER (user_id % 2 = 0), 6) AS mean_a,
           round(avg(value) FILTER (user_id % 2 = 1), 6) AS mean_b,
           round((avg(value) FILTER (user_id % 2 = 0)
                  - avg(value) FILTER (user_id % 2 = 1))
                 / sqrt(var_samp(value) FILTER (user_id % 2 = 0)
                            / (count(*) FILTER (user_id % 2 = 0))
                        + var_samp(value) FILTER (user_id % 2 = 1)
                            / (count(*) FILTER (user_id % 2 = 1))), 6) AS z
    FROM events
    GROUP BY 1
    """,
)
def ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample experiment readout: per event type, the Welch
    z-statistic between variant A (even user_id — the deterministic
    hash-assignment stand-in) and variant B on the event value:
    z = (x̄_A − x̄_B) / √(s²_A/n_A + s²_B/n_B). The A/B analysis every
    event platform runs; one partial-aggregated pass, conditional
    aggregates splitting the variants (no self-join, no pivot shuffle).

    Cross-engine note: var_samp accumulates differently across engines
    (Welford vs naive partials) — ulp-level drift only, absorbed by the
    6-dp rounding on every emitted statistic (the repo-wide accepted
    class); counts are exact."""
    ev = read_table(spark, sf_dir, "events")
    a = F.col("user_id") % 2 == 0
    b = F.col("user_id") % 2 == 1
    va = F.when(a, F.col("value"))
    vb = F.when(b, F.col("value"))
    na, nb = F.count(va), F.count(vb)
    z = (F.avg(va) - F.avg(vb)) / F.sqrt(
        F.var_samp(va) / na + F.var_samp(vb) / nb
    )
    return ev.groupBy("event_type").agg(
        na.cast("long").alias("na"),
        nb.cast("long").alias("nb"),
        F.round(F.avg(va), 6).alias("mean_a"),
        F.round(F.avg(vb), 6).alias("mean_b"),
        F.round(z, 6).alias("z"),
    )


_EWMA_ALPHA = 0.2
_EWMA_H = 32  # bounded horizon: weights below (1-α)^32 ≈ 8e-4 are cut


@query(
    "ewma_last_value",
    oracle=f"""
    WITH recent AS (
        SELECT user_id, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ),
    arrs AS (
        SELECT user_id, list(value ORDER BY rn DESC) AS v
        FROM recent WHERE rn <= {_EWMA_H} GROUP BY 1
    )
    SELECT user_id,
           round(
               list_sum(list_transform(range(1, len(v) + 1),
                        j -> v[j] * pow({1 - _EWMA_ALPHA}, len(v) - j)))
               / list_sum(list_transform(range(1, len(v) + 1),
                          j -> pow({1 - _EWMA_ALPHA}, len(v) - j))), 6) AS ewma
    FROM arrs
    """,
)
def ewma_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-horizon exponentially-weighted moving average of each
    user's event value at their latest event (α=0.2, horizon 32): the
    classic streaming smoother, in the normalized finite form
    Σ wⱼxⱼ / Σ wⱼ with wⱼ = (1−α)^(n−1−j). The horizon bound is what
    makes it scale-safe: the textbook recursive form y_t = αx_t +
    (1−α)y_{t−1} is inherently sequential per key, and its closed-form
    rewrite (cumsum of x/(1−α)^j) overflows double past ~7k events —
    truncating at 32 terms (weights < 8e-4) keeps the state per user at
    a fixed 32 values with no numeric cliff.

    Plan shape: the per-user last-32 cut is a DESC rank window that gets
    the map-side WindowGroupLimit prune (partitioned windows do — global
    ones don't, see test_global_topk_is_limit_then_rank), so each task
    forwards ≤32 rows per user; the fold then runs over a bounded array
    per user, map-only after one user-keyed shuffle. pow()'s cross-libm
    1-ulp wobble sits inside a 6-dp-rounded normalized sum (the accepted
    class); the (ts DESC, event_id DESC) rank makes the selected window
    and its order engine-exact."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    recent = (
        ev.select("user_id", "value", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _EWMA_H)
    )
    arrs = recent.groupBy("user_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("rn").alias("rn"), F.col("value").alias("x")))),
            lambda s: s["x"],
        ).alias("vdesc")
    ).select("user_id", F.reverse("vdesc").alias("v"))
    n = F.size("v")
    decay = F.lit(1.0 - _EWMA_ALPHA)
    num = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, j: acc + F.get(F.col("v"), j - 1) * F.pow(decay, (n - j).cast("double")),
    )
    den = F.aggregate(
        F.sequence(F.lit(1), n),
        F.lit(0.0),
        lambda acc, j: acc + F.pow(decay, (n - j).cast("double")),
    )
    return arrs.select("user_id", F.round(num / den, 6).alias("ewma"))


@query(
    "retention_cohorts",
    oracle="""
    WITH first AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cw FROM events GROUP BY 1
    ),
    act AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
    SELECT strftime(f.cw, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cw, a.wk) / 7 AS INT) AS offset_weeks,
           CAST(count(*) AS BIGINT) AS active_users
    FROM first f JOIN act a USING (user_id)
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: cohort = ISO week of a user's first
    event; for every (cohort, week-offset) count how many of the
    cohort's users were active that week. The classic growth-analytics
    rollup, engine-exact because every quantity is a truncated date or
    an integer count (offsets are exact multiples of 7 days — the
    division can't round).

    Plan shape: one per-user min aggregate (partial-agg), one distinct
    over (user, week) (partial-agg — the distinct's key space is users ×
    active weeks, far smaller than events), one user-keyed equi-join,
    one final partial-agg count. Both sides of the join are
    user-cardinality relations; at 100 TB the events table is touched
    exactly twice, both embarrassingly parallel."""
    ev = read_table(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cw")
    )
    act = ev.select("user_id", F.date_trunc("week", "ts").alias("wk")).distinct()
    return (
        first.join(act, "user_id")
        .groupBy(
            F.date_format("cw", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff("wk", "cw") / 7).cast("int").alias("offset_weeks"),
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
    )


_ATTR_WINDOW_S = 7 * 24 * 3600  # 7-day lookback
_ATTR_CAMPAIGNS = 10


@query(
    "attribution_last_touch",
    oracle=f"""
    WITH ev AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CASE WHEN event_type = 'click'
                    THEN CAST(json_extract_string(props, '$.k') AS BIGINT) % {_ATTR_CAMPAIGNS}
               END AS camp,
               CASE WHEN event_type = 'click' THEN ts END AS cts
        FROM events
    ),
    carried AS (
        SELECT user_id, ts, event_type, cents,
               last_value(camp IGNORE NULLS) OVER w AS last_camp,
               last_value(cts IGNORE NULLS) OVER w AS last_cts
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT CAST(CASE WHEN last_cts IS NOT NULL
                      AND date_diff('second', last_cts, ts) <= {_ATTR_WINDOW_S}
                     THEN last_camp ELSE -1 END AS BIGINT) AS campaign,
           CAST(sum(cents) AS BIGINT) AS attributed_cents,
           CAST(count(*) AS BIGINT) AS n_purchases
    FROM carried
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: credit each purchase to the
    user's most recent click within a 7-day lookback (campaign id =
    the click's props.k mod 10; purchases with no qualifying click fall
    into the -1 "organic" bucket), then roll credited revenue up per
    campaign. This is the carry-forward-state sequence shape (distinct
    from the funnel: attribution needs the LAST prior touch plus a
    recency bound, not the first).

    Plan shape: ONE per-user window pass using last_value(... IGNORE
    NULLS) over the strict-past frame (ROWS UNBOUNDED PRECEDING..1
    PRECEDING) to carry both the campaign and its timestamp — no
    self-join, no per-purchase point lookup; partitions are bounded by a
    user's event count. The 7-day test compares whole-second diffs
    (Spark's long cast and DuckDB's date_diff('second') both floor —
    integer-exact), revenue is summed in cents (exact int64), so the
    oracle matches bit-for-bit. After the window, one map-combinable
    |campaigns|-key aggregate."""
    ev = read_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(
            F.col("event_type") == "click",
            F.get_json_object("props", "$.k").cast("long") % _ATTR_CAMPAIGNS,
        ).alias("camp"),
        F.when(F.col("event_type") == "click", F.col("ts")).alias("cts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = base.select(
        "event_type",
        "ts",
        "cents",
        F.last("camp", ignorenulls=True).over(w).alias("last_camp"),
        F.last("cts", ignorenulls=True).over(w).alias("last_cts"),
    )
    in_window = F.col("last_cts").isNotNull() & (
        (F.col("ts").cast("long") - F.col("last_cts").cast("long")) <= _ATTR_WINDOW_S
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            F.when(in_window, F.col("last_camp")).otherwise(-1).cast("long").alias("campaign"),
            "cents",
        )
        .groupBy("campaign")
        .agg(
            F.sum("cents").cast("long").alias("attributed_cents"),
            F.count(F.lit(1)).cast("long").alias("n_purchases"),
        )
    )


@query(
    "event_path_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type, 1) OVER w AS e2,
               lead(event_type, 2) OVER w AS e3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
        SELECT event_type || '>' || e2 || '>' || e3 AS path
        FROM seq WHERE e3 IS NOT NULL
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n
    FROM paths GROUP BY path
    ORDER BY n DESC, path ASC LIMIT 10
    """,
)
def event_path_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step behavioral paths (event-type trigrams) across all
    user event streams — the path-analysis companion to markov_transitions
    (which models single steps): per user, consecutive event triples by
    (ts, event_id) order, counted corpus-wide.

    Scale shape: one window pass PARTITIONED BY user (bounded by a user's
    event count — the natural sessionization key), two lead()s inside the
    same window spec (one sort, not two), then a map-combinable path count;
    the top-10 cut is TakeOrderedAndProject (per-partition heaps), never a
    global rank window.  Ordering ties inside a user are broken by the
    unique event_id, so the trigram multiset — and therefore the counts —
    are partition- and engine-invariant."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).filter(F.col("e3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "event_type", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(10)
    )


@query(
    "multi_touch_attribution",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(round(value * 100) AS BIGINT) AS cents,
               sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS epoch
        FROM events
    ),
    conv AS (
        -- refunds/chargebacks (negative value) are out of attribution
        -- scope; the floor-vs-truncate division divergence between
        -- engines only exists for negatives, so the domain is pinned
        SELECT user_id, COALESCE(epoch, 0) AS epoch, cents AS conv_cents
        FROM ordered WHERE event_type = 'purchase' AND cents >= 0
    ),
    touches AS (
        SELECT o.user_id, COALESCE(o.epoch, 0) AS epoch, o.event_type,
               row_number() OVER (PARTITION BY o.user_id, COALESCE(o.epoch, 0)
                                  ORDER BY o.ts, o.event_id) AS pos,
               count(*) OVER (PARTITION BY o.user_id, COALESCE(o.epoch, 0)) AS n
        FROM ordered o
        WHERE o.event_type IN ('view', 'click', 'signup')
    ),
    credited AS (
        SELECT t.event_type,
               CASE
                 WHEN t.n = 1 THEN c.conv_cents
                 WHEN t.n = 2 AND t.pos = 1
                      THEN c.conv_cents // 2 + c.conv_cents % 2
                 WHEN t.n = 2 THEN c.conv_cents // 2
                 WHEN t.pos = 1
                      THEN (c.conv_cents * 2) // 5
                         + (c.conv_cents
                            - 2 * ((c.conv_cents * 2) // 5)
                            - (t.n - 2) * ((c.conv_cents // 5) // (t.n - 2)))
                 WHEN t.pos = t.n THEN (c.conv_cents * 2) // 5
                 ELSE (c.conv_cents // 5) // (t.n - 2)
               END AS credit
        FROM touches t
        JOIN conv c ON c.user_id = t.user_id AND c.epoch = t.epoch
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(credit) AS BIGINT) AS credited_cents
    FROM credited GROUP BY event_type ORDER BY event_type
    """,
)
def multi_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-based (U-shaped) multi-touch attribution: each purchase's
    value is credited to the view/click/signup touches since the user's
    previous purchase — 40% first touch / 40% last / 20% split across the
    middles (100% single-touch, 50/50 two-touch).  Integer-cents arithmetic
    with every division-remainder assigned to the FIRST touch, so credits
    sum exactly to the conversion value and both engines replay the same
    splits (complements attribution_last_touch).

    Scale shape (r11 single-partitioning rewrite, optimization guide
    §2.4 — two operations keyed the same way share one exchange): the
    conversion-epoch assignment is one per-user running count window;
    the touch position/count AND the epoch's conversion value are then
    further windows over (user, epoch) computed IN THE SAME pipeline —
    HashPartitioning(user_id) satisfies ClusteredDistribution(user_id,
    epoch), so they add only a within-partition sort, no exchange. The
    conversion value rides along as max(cents of the epoch's qualifying
    purchase) over the (user, epoch) group — each purchase closes its
    own epoch, so the group holds at most one purchase and the window
    max IS the old conv relation's value; touches in epochs with no
    qualifying purchase see NULL and are filtered, exactly like the
    pre-r11 inner join. This removes the join, its two hash exchanges,
    and the second evaluation of the events→epoch-window subtree
    (measured sf0.1 min-of-4: 1.09 → 0.68 s; plan: 5 Exchanges → 2, the
    user_id window exchange + the 3-row final-agg exchange). The credit
    expression stays map-only CASE arithmetic and the rollup a
    map-combinable per-type sum."""
    ev = read_table(spark, sf_dir, "events")
    w_epoch = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    ordered = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(
                w_epoch
            ),
            F.lit(0),
        ).alias("epoch"),
    )
    is_touch = F.col("event_type").isin("view", "click", "signup")
    w_grp = Window.partitionBy("user_id", "epoch")
    w_run = w_grp.orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    both = ordered.select(
        "event_type",
        # pos: running count of touches == row_number among the touch
        # rows once filtered to them (same (ts, event_id) total order)
        F.sum(F.when(is_touch, 1).otherwise(0)).over(w_run).alias("pos"),
        F.sum(F.when(is_touch, 1).otherwise(0)).over(w_grp).alias("n"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("cents") >= 0),
                F.col("cents"),
            )
        ).over(w_grp).alias("conv_cents"),
    )
    touches = both.filter(is_touch & F.col("conv_cents").isNotNull())
    # integral division via `div` (pure long arithmetic, no FP round-trip);
    # equal to the oracle's // on the pinned non-negative domain
    c, n, pos = F.col("conv_cents"), F.col("n"), F.col("pos")
    forty = F.expr("(conv_cents * 2) div 5")
    mid_each = F.expr("(conv_cents div 5) div (n - 2)")
    credit = (
        F.when(n == 1, c)
        .when((n == 2) & (pos == 1), F.expr("conv_cents div 2") + c % 2)
        .when(n == 2, F.expr("conv_cents div 2"))
        .when(pos == 1, forty + (c - 2 * forty - (n - 2) * mid_each))
        .when(pos == n, forty)
        .otherwise(mid_each)
    )
    credited = touches.select("event_type", credit.alias("credit"))
    return (
        credited.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            F.sum("credit").cast("long").alias("credited_cents"),
        )
        .orderBy("event_type")
    )


@query(
    "cumulative_unique_users_daily",
    oracle="""
    WITH first_day AS (
        SELECT user_id, CAST(min(date_trunc('day', ts)) AS DATE) AS day
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT day, CAST(count(*) AS BIGINT) AS new_users
        FROM first_day GROUP BY day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_users
    FROM daily ORDER BY day
    """,
)
def cumulative_unique_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-base growth curve: per day, the number of first-seen users and
    the EXACT cumulative distinct-user count — computed without any
    distinct-over-window (the naive count(DISTINCT user) OVER (ORDER BY
    day) is unbounded state): a user contributes once, on their first-seen
    day, so cumulative distinct = prefix sum of first-seen counts.

    Scale shape: min-day per user (map-combinable groupBy on the natural
    key), a calendar-bounded daily rollup, then the running sum via the
    shared distributed prefix scan — bounded per range partition even if
    the calendar ever weren't tiny.  Integer-exact throughout."""
    from ..operators.prefix import global_running_agg

    ev = read_table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("day")
    )
    daily = first_day.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("new_users")
    )
    cum = global_running_agg(daily, "day", {"cum_users": ("new_users", "sum")})
    return cum.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.col("cum_users").cast("long").alias("cum_users"),
    ).orderBy("day")


@query(
    "interarrival_burstiness",
    oracle="""
    WITH g AS (
        SELECT user_id,
               CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
    ),
    s AS (
        SELECT user_id,
               CAST(count(gap) AS BIGINT) AS n_gaps,
               avg(gap) AS mu,
               stddev_pop(gap) AS sigma
        FROM g WHERE gap IS NOT NULL
        GROUP BY user_id
        HAVING count(gap) >= 2
    )
    SELECT user_id, n_gaps,
           round(mu, 4) AS mean_gap_s,
           round((sigma - mu) / (sigma + mu), 6) AS burstiness
    FROM s WHERE sigma + mu > 0
    """,
)
def interarrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user inter-arrival BURSTINESS B = (σ−μ)/(σ+μ) over event gap
    seconds (Goh & Barabási 2008, EPL 81): B → −1 for a metronome,
    ≈ 0 for a Poisson user, → +1 for extreme burst-silence behavior —
    the standard temporal-pattern feature for bot detection and
    engagement modeling.

    Plan shape: one lag window over per-user partitions (bounded by a
    user's event count, never corpus-wide) whose hash partitioning is
    reused by the following groupBy on the same key — one shuffle total,
    the OHLC shape. Gaps are integer epoch seconds (both engines FLOOR
    the timestamp — the twap_daily rounding lesson); μ and σ are the
    only floats, rounded on both sides."""
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("long")
    g = ev.select(
        "user_id", (sec - F.lag(sec).over(w)).alias("gap")
    ).filter(F.col("gap").isNotNull())
    s = (
        g.groupBy("user_id")
        .agg(
            F.count("gap").cast("long").alias("n_gaps"),
            F.avg("gap").alias("mu"),
            F.stddev_pop("gap").alias("sigma"),
        )
        .filter(F.col("n_gaps") >= 2)
    )
    return s.filter(F.col("sigma") + F.col("mu") > 0).select(
        "user_id",
        "n_gaps",
        F.round("mu", 4).alias("mean_gap_s"),
        F.round((F.col("sigma") - F.col("mu")) / (F.col("sigma") + F.col("mu")), 6).alias(
            "burstiness"
        ),
    )
