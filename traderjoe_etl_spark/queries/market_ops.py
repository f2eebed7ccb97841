"""Market/trading analytics over the events stream (round 4, session 3):
OHLC bar resampling, VWAP, realized volatility, drawdown, RFM scoring,
winsorized robust stats.

The reference engine is a DEX-analytics pipeline (reference main.py's pool
snapshots / fee aggregation); this module adds the time-series readouts a
trading platform derives from the same event firehose. All six are pure
DataFrame composition with full SQL oracles. Determinism discipline:
every sequence is ordered by the unique (ts, event_id) tie-break, every
float aggregate is rounded on both sides, and every window partition is
bounded (per-hour/per-day/per-user — never a corpus-wide partition), so
the shapes survive a 1000-executor scale-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table
from . import query


_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"


@query(
    "ohlc_hourly_bars",
    oracle=f"""
    WITH b AS (
        SELECT event_type, date_trunc('hour', ts) AS bar, value,
               first_value(value) OVER (
                   PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS o,
               last_value(value) OVER (
                   PARTITION BY event_type, date_trunc('hour', ts)
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
        FROM events
    )
    SELECT event_type, strftime(bar, '{_TS_FMT_DUCK}') AS bar_ts,
           round(max(o), 2) AS open, round(max(value), 2) AS high,
           round(min(value), 2) AS low, round(max(c), 2) AS close,
           round(sum(value), 4) AS volume,
           CAST(count(*) AS BIGINT) AS n_trades
    FROM b GROUP BY event_type, bar
    """,
)
def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick resampling: per (instrument, hour) open/high/low/close
    + volume, the standard downsample every market pipeline runs first
    (reference main.py keeps hourly pool snapshots — this is the generic
    bar form). Open/close are first/last `value` by the unique
    (ts, event_id) order, so the result set is engine- and
    partitioning-exact.

    Plan shape: one window pass whose partitions are (instrument, hour) —
    bounded by an hour's trade count, never corpus-wide — then a map-side
    combinable group-agg on the same keys (the window's hash partitioning
    is reused by the agg: one shuffle total). At 100 TB this is the
    canonical "resample a firehose" plan: linear scan, one bounded-key
    shuffle, output |instruments|x|hours| rows."""
    ev = read_table(spark, sf_dir, "events")
    bar = F.date_trunc("hour", F.col("ts"))
    w = (
        Window.partitionBy("event_type", "bar")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    framed = ev.withColumn("bar", bar).select(
        "event_type",
        "bar",
        "value",
        F.first("value").over(w).alias("o"),
        F.last("value").over(w).alias("c"),
    )
    return framed.groupBy("event_type", "bar").agg(
        F.round(F.max("o"), 2).alias("open"),
        F.round(F.max("value"), 2).alias("high"),
        F.round(F.min("value"), 2).alias("low"),
        F.round(F.max("c"), 2).alias("close"),
        F.round(F.sum("value"), 4).alias("volume"),
        F.count(F.lit(1)).cast("long").alias("n_trades"),
    ).select(
        "event_type",
        F.date_format("bar", _TS_FMT_SPARK).alias("bar_ts"),
        "open",
        "high",
        "low",
        "close",
        "volume",
        "n_trades",
    )


@query(
    "vwap_hourly",
    oracle=f"""
    WITH t AS (
        SELECT event_type, date_trunc('hour', ts) AS bar,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(json_extract_string(props, '$.k') AS BIGINT) AS qty
        FROM events
        WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) > 0
    )
    SELECT event_type, strftime(bar, '{_TS_FMT_DUCK}') AS bar_ts,
           CAST((sum(cents * qty) * 1000000) // (100 * sum(qty)) AS BIGINT) AS vwap_micro,
           CAST(sum(qty) AS BIGINT) AS total_qty,
           CAST(count(*) AS BIGINT) AS n_trades
    FROM t GROUP BY event_type, bar
    """,
)
def vwap_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-weighted average price per (instrument, hour): price =
    `value`, size = the `props.$.k` JSON field — VWAP is the sum-ratio
    aggregate every execution-quality report starts from. Zero/NULL-size
    records are dropped up front (a zero-quantity fill contributes
    nothing to a volume-weighted price, and an all-zero bar would be a
    0/0 division).

    Integer-exact discipline: price → cents (2-dp inputs, so
    round(value*100) is the exact integer), VWAP emitted in integer
    MICRO-price units via int64 division — `(Σ cents·qty × 1e6) div
    (100 Σ qty)`. A double sum-ratio landed exactly on a 6-dp rounding
    boundary (50.9728125) where the engines' last-ulp summation order
    disagreed; the all-integer form is bit-identical on any engine and
    any partitioning. Headroom: Σ cents·qty ≲ 1e9 per bar × 1e6 ≪ 2^63.

    Plan shape: JSON size extraction is a map-side scalar, then ONE
    map-side-combinable groupBy — two partial sums and a count per
    (instrument, hour) key, no window, no join. The ratio happens on the
    combined partials, so at 100 TB each executor ships exactly
    |local bars| rows of partial state."""
    ev = read_table(spark, sf_dir, "events")
    qty = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bar"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
            qty.alias("qty"),
        )
        .filter(F.col("qty") > 0)
        .groupBy("event_type", "bar")
        .agg(
            F.expr("CAST((sum(cents * qty) * 1000000L) div (100L * sum(qty)) AS BIGINT)").alias(
                "vwap_micro"
            ),
            F.sum("qty").cast("long").alias("total_qty"),
            F.count(F.lit(1)).cast("long").alias("n_trades"),
        )
        .select(
            "event_type",
            F.date_format("bar", _TS_FMT_SPARK).alias("bar_ts"),
            "vwap_micro",
            "total_qty",
            "n_trades",
        )
    )


@query(
    "realized_volatility_daily",
    oracle="""
    WITH r AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               ln(value / lag(value) OVER (
                   PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts, event_id)) AS lr
        FROM events WHERE value > 0
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           round(sqrt(sum(lr * lr)), 6) AS realized_vol,
           CAST(count(lr) AS BIGINT) AS n_returns
    FROM r GROUP BY event_type, d
    HAVING count(lr) > 0
    """,
)
def realized_volatility_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily realized volatility per instrument: sqrt of the sum of
    squared log returns within the day (zero/negative prints are dropped
    up front — a log return is undefined through them, and a literal 0.0
    price divides-by-zero under ANSI; returns chained over the unique
    (ts, event_id) order; the day's first trade has no return).

    Plan shape: lag() over (instrument, day) partitions — bounded by one
    day's trades per instrument, the same bounded-partition discipline as
    sessionization — then a map-side-combinable sum of squares on the
    SAME keys (Catalyst reuses the window's hash partitioning: one
    shuffle total). Float discipline: summands are bounded (|ln ratio|²
    over a bounded price range), so cross-engine partial-sum reorder
    drifts ~1e-12 relative — far inside the 6 dp rounding."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    day = F.date_trunc("day", F.col("ts"))
    w = Window.partitionBy("event_type", "d").orderBy("ts", "event_id")
    r = ev.withColumn("d", day).select(
        "event_type",
        "d",
        F.log(F.col("value") / F.lag("value").over(w)).alias("lr"),
    )
    return (
        r.groupBy("event_type", "d")
        .agg(
            F.round(F.sqrt(F.sum(F.col("lr") * F.col("lr"))), 6).alias("realized_vol"),
            F.count("lr").cast("long").alias("n_returns"),
        )
        .filter(F.col("n_returns") > 0)
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "realized_vol",
            "n_returns",
        )
    )


@query(
    "max_drawdown_users",
    oracle="""
    WITH eq AS (
        SELECT user_id, ts, event_id,
               sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS equity
        FROM events WHERE event_type = 'purchase'
    ),
    dd AS (
        SELECT user_id,
               max(equity) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - equity AS drawdown
        FROM eq
    )
    SELECT user_id, round(max(drawdown), 6) AS max_drawdown,
           CAST(count(*) AS BIGINT) AS n_events
    FROM dd GROUP BY user_id
    ORDER BY max_drawdown DESC, user_id LIMIT 20
    """,
)
def max_drawdown_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user maximum drawdown over the purchase stream: equity =
    running sum of purchase values by (ts, event_id); peak = running max
    of equity; drawdown = peak − equity; report each user's worst
    drawdown, top-20 by (drawdown DESC, user_id).

    Plan shape: two stacked windows on the SAME per-user partitioning
    (one shuffle; partitions bounded by a user's trade count), one
    map-combinable group-max, then TakeOrderedAndProject for the global
    top-20 (no full sort). Running float sums evaluate in the identical
    (ts, event_id) sequence on both engines, so the prefix values agree
    to the last ulp and the 6 dp rounding is safe."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    wseq = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    eq = ev.select(
        "user_id",
        F.sum("value").over(wseq).alias("equity"),
        "ts",
        "event_id",
    )
    dd = eq.select(
        "user_id",
        (F.max("equity").over(wseq) - F.col("equity")).alias("drawdown"),
    )
    return (
        dd.groupBy("user_id")
        .agg(
            F.round(F.max("drawdown"), 6).alias("max_drawdown"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy(F.col("max_drawdown").desc(), "user_id")
        .limit(20)
    )


@query(
    "rfm_scores",
    oracle="""
    WITH base AS (
        SELECT user_id,
               date_diff('day', max(ts), (SELECT max(ts) FROM events)) AS recency_days,
               CAST(count(*) AS BIGINT) AS frequency,
               round(sum(value), 4) AS monetary
        FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    th AS (
        SELECT quantile_cont(frequency, 0.5) AS f_med,
               quantile_cont(monetary, 0.5) AS m_med,
               quantile_cont(recency_days, 0.5) AS r_med
        FROM base
    )
    SELECT b.user_id, CAST(b.recency_days AS BIGINT) AS recency_days,
           b.frequency, b.monetary,
           CAST(CASE WHEN b.recency_days <= th.r_med THEN 2 ELSE 1 END AS INT) AS r_score,
           CAST(CASE WHEN b.frequency > th.f_med THEN 2 ELSE 1 END AS INT) AS f_score,
           CAST(CASE WHEN b.monetary > th.m_med THEN 2 ELSE 1 END AS INT) AS m_score
    FROM base b CROSS JOIN th
    """,
)
def rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) customer scoring over
    purchase events: per-user recency in days vs the corpus max
    timestamp, purchase count, and rounded spend, each cut at the
    population median into a 1/2 score (median splits rather than global
    ntile — see plan note).

    Plan shape: one map-side-combinable per-user aggregate (the only
    corpus-scale shuffle), then medians via ONE single-row aggregate over
    the per-user relation — broadcast back as a 1-row cross join.
    Deliberately NOT `ntile() OVER ()`: a global ntile ranks the whole
    user relation through one task (the WindowGroupLimit pitfall pinned
    in tests/test_plan_shapes.py); threshold-vs-broadcast-scalar
    comparisons are map-only and scale to any user count. Boundary
    discipline: frequency/recency are integers and monetary is rounded
    to 4 dp BEFORE the median, so threshold comparisons are exact on
    both engines (quantile_cont == Spark percentile: both linear
    interpolation at (n-1)p)."""
    ev = read_table(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase")
    max_ts = pur.agg(F.max("ts").alias("gmax"))
    base = (
        pur.groupBy("user_id")
        .agg(
            F.max("ts").alias("umax"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.round(F.sum("value"), 4).alias("monetary"),
        )
        .join(F.broadcast(max_ts))
        .select(
            "user_id",
            F.datediff(F.col("gmax"), F.col("umax")).cast("long").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    th = base.agg(
        F.expr("percentile(frequency, 0.5)").alias("f_med"),
        F.expr("percentile(monetary, 0.5)").alias("m_med"),
        F.expr("percentile(recency_days, 0.5)").alias("r_med"),
    )
    return base.join(F.broadcast(th)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary",
        F.when(F.col("recency_days") <= F.col("r_med"), 2).otherwise(1).cast("int").alias("r_score"),
        F.when(F.col("frequency") > F.col("f_med"), 2).otherwise(1).cast("int").alias("f_score"),
        F.when(F.col("monetary") > F.col("m_med"), 2).otherwise(1).cast("int").alias("m_score"),
    )


@query(
    "winsorized_stats",
    oracle="""
    WITH th AS (
        SELECT event_type,
               quantile_cont(value, 0.05) AS lo,
               quantile_cont(value, 0.95) AS hi
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           round(th.lo, 6) AS p05, round(th.hi, 6) AS p95,
           round(avg(CASE WHEN e.value < th.lo THEN th.lo
                          WHEN e.value > th.hi THEN th.hi ELSE e.value END), 6) AS wins_mean,
           round(stddev_samp(CASE WHEN e.value < th.lo THEN th.lo
                                  WHEN e.value > th.hi THEN th.hi ELSE e.value END), 6) AS wins_std,
           CAST(sum(CASE WHEN e.value < th.lo OR e.value > th.hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clamped
    FROM events e JOIN th USING (event_type)
    GROUP BY e.event_type, th.lo, th.hi
    """,
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized robust statistics per instrument: clamp `value` into
    its [p05, p95] band, then mean / sample-std of the clamped series
    plus the clamp count — the outlier-robust feature-scaling pass a
    training pipeline runs before normalizing numeric columns.

    Plan shape: thresholds come from ONE per-type exact-percentile
    aggregate (|types| rows) broadcast back onto the scan; the clamped
    mean/std is a second map-side-combinable aggregate. Two linear scans,
    no window, no corpus-scale shuffle (the groupBy keys are
    |types|-sized). Exact percentile at 100 TB: Spark's `percentile`
    aggregates a per-type value multiset — for a true firehose you'd
    swap `percentile_approx`; the exact form is kept here because the
    oracle (quantile_cont) must match to the interpolation."""
    ev = read_table(spark, sf_dir, "events")
    th = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.05D)").alias("lo"),
        F.expr("percentile(value, 0.95D)").alias("hi"),
    )
    j = ev.join(F.broadcast(th), "event_type")
    clamped = F.when(F.col("value") < F.col("lo"), F.col("lo")).when(
        F.col("value") > F.col("hi"), F.col("hi")
    ).otherwise(F.col("value"))
    out_of_band = (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
    return j.groupBy("event_type", "lo", "hi").agg(
        F.round(F.avg(clamped), 6).alias("wins_mean"),
        F.round(F.stddev_samp(clamped), 6).alias("wins_std"),
        F.sum(out_of_band.cast("int")).cast("long").alias("n_clamped"),
    ).select(
        "event_type",
        F.round("lo", 6).alias("p05"),
        F.round("hi", 6).alias("p95"),
        "wins_mean",
        "wins_std",
        "n_clamped",
    )


_BOLL_N = 24  # bars per rolling band window
_BOLL_SD = 2.0


@query(
    "bollinger_breakouts",
    oracle=f"""
    WITH bars AS (
        SELECT event_type, bar, max(c) AS close
        FROM (
            SELECT event_type, date_trunc('hour', ts) AS bar,
                   last_value(value) OVER (
                       PARTITION BY event_type, date_trunc('hour', ts)
                       ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS c
            FROM events)
        GROUP BY 1, 2
    ),
    roll AS (
        SELECT event_type, bar, close,
               round(avg(close) OVER w, 6) AS mid,
               round(stddev_samp(close) OVER w, 6) AS sd,
               row_number() OVER (PARTITION BY event_type ORDER BY bar) AS rn
        FROM bars
        WINDOW w AS (PARTITION BY event_type ORDER BY bar
                     ROWS BETWEEN {_BOLL_N - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT event_type, strftime(bar, '{_TS_FMT_DUCK}') AS bar_ts,
           round(close, 2) AS close, mid,
           round(mid + {_BOLL_SD} * sd, 6) AS upper_band,
           round(mid - {_BOLL_SD} * sd, 6) AS lower_band,
           CASE WHEN close > mid + {_BOLL_SD} * sd THEN 'up' ELSE 'down' END AS breakout
    FROM roll
    WHERE rn >= {_BOLL_N}
      AND (close > mid + {_BOLL_SD} * sd OR close < mid - {_BOLL_SD} * sd)
    """,
)
def bollinger_breakouts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger-band breakout detection: hourly closes per instrument,
    a 24-bar rolling mean ± 2σ band, and the bars whose close escapes
    the band (only bars with a full 24-bar history qualify).

    Plan shape — the two-level resolution discipline that makes rolling
    indicators scale: the raw firehose collapses to |instruments|×|hours|
    bars FIRST (bounded-partition window + map-combinable agg, one
    corpus-scale shuffle), and every rolling computation runs over the
    AGGREGATED bar series — a per-instrument partition of ~10⁴ rows/year,
    trivially one task, no matter how many trades fed it. Breach
    comparison uses the unrounded band on both sides (identical inputs →
    identical doubles; the displayed band is rounded separately)."""
    ev = read_table(spark, sf_dir, "events")
    wb = (
        Window.partitionBy("event_type", "bar")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    bars = (
        ev.withColumn("bar", F.date_trunc("hour", F.col("ts")))
        .select("event_type", "bar", F.last("value").over(wb).alias("c"))
        .groupBy("event_type", "bar")
        .agg(F.max("c").alias("close"))
    )
    wr = (
        Window.partitionBy("event_type")
        .orderBy("bar")
        .rowsBetween(-(_BOLL_N - 1), Window.currentRow)
    )
    wn = Window.partitionBy("event_type").orderBy("bar")
    roll = bars.select(
        "event_type",
        "bar",
        "close",
        F.round(F.avg("close").over(wr), 6).alias("mid"),
        F.round(F.stddev_samp("close").over(wr), 6).alias("sd"),
        F.row_number().over(wn).alias("rn"),
    )
    upper = F.col("mid") + F.lit(_BOLL_SD) * F.col("sd")
    lower = F.col("mid") - F.lit(_BOLL_SD) * F.col("sd")
    return (
        roll.filter(
            (F.col("rn") >= _BOLL_N)
            & ((F.col("close") > upper) | (F.col("close") < lower))
        )
        .select(
            "event_type",
            F.date_format("bar", _TS_FMT_SPARK).alias("bar_ts"),
            F.round("close", 2).alias("close"),
            "mid",
            F.round(upper, 6).alias("upper_band"),
            F.round(lower, 6).alias("lower_band"),
            F.when(F.col("close") > upper, "up").otherwise("down").alias("breakout"),
        )
    )


@query(
    "cusum_changepoints",
    oracle="""
    WITH daily AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               round(sum(value), 4) AS dv
        FROM events GROUP BY 1, 2
    ),
    mu AS (SELECT event_type, round(avg(dv), 6) AS m FROM daily GROUP BY 1),
    cs AS (
        SELECT daily.event_type, daily.d,
               sum(daily.dv - mu.m) OVER (PARTITION BY daily.event_type
                                          ORDER BY daily.d
                                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cusum
        FROM daily JOIN mu USING (event_type)
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS change_day,
           round(abs(cusum), 4) AS max_abs_cusum,
           CAST(n_days AS BIGINT) AS n_days
    FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                       ORDER BY abs(cusum) DESC, d) AS rk,
                 count(*) OVER (PARTITION BY event_type) AS n_days
          FROM cs)
    WHERE rk = 1
    """,
)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per instrument: cumulative sum of
    (daily volume − series mean); the day where |CUSUM| peaks is the
    classic single-changepoint estimate (Page 1954 / binary-segmentation
    step one) — the level-shift detector a data-quality pipeline runs on
    ingest volumes.

    Plan shape: two-level again — corpus collapses to a per-(instrument,
    day) aggregate (the only big shuffle), the per-instrument mean is a
    |instruments|-row aggregate joined back broadcast, and the running
    CUSUM + argmax run over the tiny aggregated series (bounded
    partitions: |days| rows each). Float discipline: daily sums round to
    a 4-dp grid and the mean to 6 dp BEFORE differencing, so both
    engines accumulate the identical doubles in the identical day order —
    the prefix sums match to the bit, and the argmax day needs no
    tolerance (ties break to the earliest day)."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.select("event_type", F.date_trunc("day", F.col("ts")).alias("d"), "value")
        .groupBy("event_type", "d")
        .agg(F.round(F.sum("value"), 4).alias("dv"))
    )
    mu = daily.groupBy("event_type").agg(F.round(F.avg("dv"), 6).alias("m"))
    wseq = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = daily.join(F.broadcast(mu), "event_type").select(
        "event_type",
        "d",
        F.sum(F.col("dv") - F.col("m")).over(wseq).alias("cusum"),
    )
    wrk = Window.partitionBy("event_type").orderBy(F.abs("cusum").desc(), "d")
    wcnt = Window.partitionBy("event_type")
    return (
        cs.select(
            "event_type",
            "d",
            "cusum",
            F.row_number().over(wrk).alias("rk"),
            F.count(F.lit(1)).over(wcnt).alias("n_days"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("change_day"),
            F.round(F.abs("cusum"), 4).alias("max_abs_cusum"),
            F.col("n_days").cast("long").alias("n_days"),
        )
    )


@query(
    "impermanent_loss_daily",
    oracle="""
    WITH px AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               first_value(value) OVER w AS o,
               last_value(value) OVER w AS c
        FROM events WHERE value > 0
        WINDOW w AS (PARTITION BY event_type, date_trunc('day', ts)
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    ),
    daily AS (SELECT event_type, d, max(o) AS open, max(c) AS close
              FROM px GROUP BY 1, 2)
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           round(open, 2) AS open, round(close, 2) AS close,
           round(close / open, 6) AS price_ratio,
           round(2 * sqrt(close / open) / (1 + close / open) - 1, 6)
               AS impermanent_loss
    FROM daily
    """,
)
def impermanent_loss_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Impermanent loss per (pool, day) — the reference's own DEX domain:
    for a constant-product AMM position, a day-over-day price ratio r
    costs an LP 2√r/(1+r) − 1 versus holding (the canonical IL formula
    every pool-analytics dashboard reports). Daily open/close come from
    the same unique-(ts, event_id) first/last discipline as the OHLC
    bars; zero prints are excluded (a 0 open is not a price).

    Plan shape: bounded (instrument, day) window partitions + a
    map-combinable agg on the same keys — one corpus-scale shuffle,
    |instruments|×|days| output rows; the IL algebra is map-only on the
    aggregated relation. sqrt's cross-libm 1-ulp wobble sits under the
    6-dp rounding (the accepted class)."""
    ev = read_table(spark, sf_dir, "events").filter(F.col("value") > 0)
    w = (
        Window.partitionBy("event_type", "d")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    px = ev.withColumn("d", F.date_trunc("day", F.col("ts"))).select(
        "event_type",
        "d",
        F.first("value").over(w).alias("o"),
        F.last("value").over(w).alias("c"),
    )
    daily = px.groupBy("event_type", "d").agg(
        F.max("o").alias("open"), F.max("c").alias("close")
    )
    r = F.col("close") / F.col("open")
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.round("open", 2).alias("open"),
        F.round("close", 2).alias("close"),
        F.round(r, 6).alias("price_ratio"),
        F.round(F.lit(2) * F.sqrt(r) / (F.lit(1) + r) - 1, 6).alias("impermanent_loss"),
    )


@query(
    "twap_daily",
    oracle="""
    WITH t AS (
        SELECT event_type, date_trunc('day', ts) AS d,
               CAST(round(value * 100) AS BIGINT) AS cents,
               CAST(floor(epoch(ts)) AS BIGINT) AS sec,
               lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                   PARTITION BY event_type, date_trunc('day', ts)
                   ORDER BY ts, event_id) AS nxt,
               CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) + 86400 AS day_end
        FROM events
    ),
    wt AS (
        SELECT event_type, d, cents,
               coalesce(nxt, day_end) - sec AS w
        FROM t
    )
    SELECT event_type, strftime(d, '%Y-%m-%d') AS day,
           CAST((sum(cents * w) * 10000) // (100 * sum(w)) AS BIGINT) AS twap_e4,
           CAST(sum(w) AS BIGINT) AS covered_secs,
           CAST(count(*) AS BIGINT) AS n_quotes
    FROM wt GROUP BY event_type, d
    """,
)
def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price per (instrument, day): each print is
    weighted by the WHOLE seconds it was the standing price (until the
    next print, or the end of the day for the last one) — the oracle-
    resistant price benchmark (Uniswap-v2-style cumulative-price TWAP)
    every DEX publishes, distinct from VWAP's size weighting.

    Integer-exact throughout: prices in cents, weights in whole seconds
    (Spark's long cast FLOORS fractional seconds while DuckDB's
    CAST(epoch(..)) rounds-to-nearest — the oracle must floor()
    explicitly or per-row weights shift by one second), TWAP emitted in
    1e-4-dollar units via int64 division. Headroom: Σ cents·secs per
    (instrument, day) ≲ 5e4·86400·|prints| ≈ 1e13 at sf10, ×1e4 ≪ 2^63.

    Plan shape: one lead() window over bounded (instrument, day)
    partitions, then a map-combinable agg on the same keys — the OHLC
    shuffle-reuse shape, one corpus-scale shuffle total."""
    ev = read_table(spark, sf_dir, "events")
    wl = Window.partitionBy("event_type", "d").orderBy("ts", "event_id")
    t = ev.withColumn("d", F.date_trunc("day", F.col("ts"))).select(
        "event_type",
        "d",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.col("ts").cast("long").alias("sec"),
        F.lead(F.col("ts").cast("long")).over(wl).alias("nxt"),
        (F.col("d").cast("long") + 86400).alias("day_end"),
    )
    wt = t.select(
        "event_type",
        "d",
        "cents",
        (F.coalesce("nxt", "day_end") - F.col("sec")).alias("w"),
    )
    return (
        wt.groupBy("event_type", "d")
        .agg(
            F.expr("CAST((sum(cents * w) * 10000L) div (100L * sum(w)) AS BIGINT)").alias(
                "twap_e4"
            ),
            F.sum("w").cast("long").alias("covered_secs"),
            F.count(F.lit(1)).cast("long").alias("n_quotes"),
        )
        .select(
            "event_type",
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "twap_e4",
            "covered_secs",
            "n_quotes",
        )
    )


@query(
    "linear_trend_daily",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', TIMESTAMP '2024-01-01', date_trunc('day', ts)) AS BIGINT) AS x,
               sum(CAST(round(value * 100) AS BIGINT)) AS y
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy, sum(x * x) AS sxx,
               max(x) AS last_x
        FROM daily GROUP BY 1
    )
    SELECT event_type, n,
           round((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx), 6) AS slope_cents_per_day,
           round((sy - (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept_cents,
           round((sy - (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) * sx) / n
                 + (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) * (last_x + 1), 4)
               AS forecast_next_day_cents
    FROM s
    """,
)
def linear_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary-least-squares trend per instrument over the daily volume
    series: closed-form slope/intercept from the five sufficient
    statistics (n, Σx, Σy, Σxy, Σx²) plus a next-day forecast — the
    in-engine regression every capacity/revenue forecast starts from
    (the learned cousin of forecast_revenue_q6's fixed uplift).

    The sufficient-statistic form IS the scale story: x is an integer
    day index, y an integer cents sum, so all five statistics are exact
    int64s computed in two map-combinable aggregates (corpus → daily →
    five numbers per instrument); the float algebra happens on
    |instruments| rows of identical integers — both engines divide the
    same exact numerators. Headroom: Σxy ≲ 2e15 at sf100, inside int64.
    Never a per-row model, never a window, never a driver fit."""
    ev = read_table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(F.date_trunc("day", F.col("ts")), F.lit("2024-01-01"))
            .cast("long")
            .alias("x"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .groupBy("event_type", "x")
        .agg(F.sum("cents").alias("y"))
    )
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max("x").alias("last_x"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * F.lit(1.0) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return s.select(
        "event_type",
        "n",
        F.round(slope, 6).alias("slope_cents_per_day"),
        F.round(intercept, 6).alias("intercept_cents"),
        F.round(intercept + slope * (F.col("last_x") + 1), 4).alias(
            "forecast_next_day_cents"
        ),
    )


@query(
    "seasonality_hour_of_day",
    oracle="""
    WITH hourly AS (
        SELECT event_type, CAST(extract(hour FROM ts) AS INT) AS hod,
               sum(CAST(round(value * 100) AS BIGINT)) AS cents,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    ),
    tot AS (
        SELECT event_type, sum(cents) AS tc, sum(n) AS tn FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.hod, h.n,
           round((h.cents * 1.0 / h.n) / (t.tc * 1.0 / t.tn), 6) AS seasonal_index
    FROM hourly h JOIN tot t USING (event_type)
    """,
)
def seasonality_hour_of_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal index per instrument: mean value in each
    clock hour relative to the instrument's overall mean (index > 1 =
    hot hour) — the profile a scheduler or market-maker reads before
    placing load or liquidity.

    Plan shape: one corpus-scale (instrument, hour-of-day) aggregate
    (24×|instruments| rows, map-combinable, integer cents), per-
    instrument totals derived FROM that aggregate (no second scan), and
    a broadcast join for the ratio. Both engines build the index from
    identical exact integers; one division each, rounded 6 dp."""
    ev = read_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.hour("ts").cast("int").alias("hod"),
            F.round(F.col("value") * 100).cast("long").alias("c"),
        )
        .groupBy("event_type", "hod")
        .agg(F.sum("c").alias("cents"), F.count(F.lit(1)).cast("long").alias("n"))
    )
    tot = hourly.groupBy("event_type").agg(
        F.sum("cents").alias("tc"), F.sum("n").alias("tn")
    )
    return hourly.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "hod",
        "n",
        F.round(
            (F.col("cents") * F.lit(1.0) / F.col("n"))
            / (F.col("tc") * F.lit(1.0) / F.col("tn")),
            6,
        ).alias("seasonal_index"),
    )


@query(
    "rolling_median_revenue_7d",
    oracle="""
    WITH daily AS (
        SELECT date_diff('day', DATE '1995-01-01', o_orderdate) AS day_num,
               strftime(o_orderdate, '%Y-%m-%d') AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS daily_cents
        FROM orders
        GROUP BY 1, 2
    )
    SELECT day, daily_cents,
           CAST(median(daily_cents) OVER (
               ORDER BY day_num
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS med7_cents
    FROM daily
    """,
)
def rolling_median_revenue_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT rolling median of daily revenue over a trailing 7-day RANGE
    window — the order-statistic smoother (robust to the spikes a moving
    AVERAGE chases), missing days genuinely absent from the window (RANGE
    on the day number, not ROWS).

    Spark has no median window function; the exact form here is
    ``array_sort(collect_list(cents) over RANGE)`` + middle element(s) —
    affordable precisely because the window input is the PRE-AGGREGATED
    daily relation (≤ |calendar days| rows, ~2.4k here; the corpus-scale
    orders table is reduced by a map-combinable groupBy first). That is
    also why the unpartitioned window is scale-safe: it sorts ≤ a few
    thousand calendar rows regardless of fact-table size, the same
    bounded-relation argument as the gap-fill queries. All arithmetic in
    integer cents; the even-count median is the mean of the two middle
    values — exact on the 0.5-cent grid, so no rounding is applied."""
    orders = read_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")).alias(
                "day_num"
            ),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
        .groupBy("day_num", "day")
        .agg(F.sum("cents").alias("daily_cents"))
    )
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    med = F.expr(
        "CASE WHEN size(win) % 2 = 1"
        " THEN CAST(element_at(win, CAST((size(win) + 1) div 2 AS INT)) AS DOUBLE)"
        " ELSE (element_at(win, CAST(size(win) div 2 AS INT))"
        "       + element_at(win, CAST(size(win) div 2 + 1 AS INT))) / 2.0 END"
    )
    return (
        daily.withColumn("win", F.array_sort(F.collect_list("daily_cents").over(w)))
        .select("day", "daily_cents", med.alias("med7_cents"))
    )
