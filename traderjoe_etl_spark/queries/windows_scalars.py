"""Window-function and scalar-function coverage queries (SURVEY.md §2B
windows + scalar functions)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.prefix import global_running_agg
from ..sources.tables import read_table
from . import query


@query(
    "dense_rank_price_tiers",
    oracle="""
    SELECT p_brand, p_partkey,
           round(p_retailprice, 2) AS p_retailprice,
           dense_rank() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS tier,
           rank()       OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC) AS rnk
    FROM part
    """,
)
def dense_rank_price_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank vs dense_rank side by side (ties collapse tiers but gap ranks)."""
    part = read_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(F.col("p_retailprice").desc())
    return part.select(
        "p_brand",
        "p_partkey",
        F.round("p_retailprice", 2).alias("p_retailprice"),
        F.dense_rank().over(w).alias("tier"),
        F.rank().over(w).alias("rnk"),
    )


@query(
    "lead_next_order_gap",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day', o_orderdate,
                lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
                AS BIGINT) AS days_to_next
    FROM orders
    """,
)
def lead_next_order_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead() — days until the customer's next order."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.to_date(nxt), F.to_date("o_orderdate")).cast("long").alias("days_to_next"),
    )


@query(
    "running_revenue",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
               AS running_total
    FROM orders
    """,
)
def running_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running (cumulative) sum per customer — unbounded-preceding frame."""
    orders = read_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@query(
    "ntile_customer_quartiles",
    oracle="""
    SELECT quartile, count(*) AS n_customers,
           round(min(c_acctbal), 2) AS min_bal, round(max(c_acctbal), 2) AS max_bal
    FROM (
        SELECT c_acctbal, ntile(4) OVER (ORDER BY c_acctbal, c_custkey) AS quartile
        FROM customer
    )
    GROUP BY quartile
    """,
)
def ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ntile(4) WITHOUT the single-task global window.

    ``ntile(4) OVER (ORDER BY c_acctbal, c_custkey)`` has an empty
    partition spec, so Spark sorts and ranks the ENTIRE relation through
    one task (WindowGroupLimit never fires — the repo's documented
    pitfall; measured 19.1x growth on 10x data sf10->sf100, the r7
    registry's one confirmed scale-killer). Scale-safe equivalent:

    1. per-value counts (groupBy c_acctbal — map-side combine, tiny
       output: the distinct-value relation);
    2. distributed EXCLUSIVE prefix sum of those counts ordered by
       c_acctbal (operators/prefix.global_running_agg — range-
       repartitioned, never a global window) = rows strictly below each
       value;
    3. tie rank within each value by c_custkey (window PARTITIONED BY
       c_acctbal — bounded by the max tie-group, distributed);
    4. global 1-indexed position r = below + tie_rank, then ntile is
       pure integer arithmetic on (r, N): the first N%4 buckets take
       ceil(N/4) rows, the rest floor(N/4).

    Tie semantics are EXACT (the order key (c_acctbal, c_custkey) is
    total — c_custkey is unique), so the unchanged ntile oracle holds.
    The rank-back join is NULL-SAFE (eqNullSafe): a NULL c_acctbal forms
    its own groupBy group and range-sorts FIRST (Spark's ASC default,
    matching the old F.ntile window's NULLS FIRST), so such rows keep
    ranking instead of silently dropping out of an equi-join (r8 review;
    latent — the generators never emit NULL balances).
    greatest(q,1) guards the ANSI div in the otherwise-branch that is
    unreachable when q=0 (N<4 puts every row in the r<=cut branch)."""
    cust = read_table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_acctbal").agg(F.count(F.lit(1)).alias("__cnt"))
    pref = global_running_agg(
        counts, "c_acctbal", {"__below": ("__cnt", "sum")}, inclusive=False
    )
    total = pref.agg(F.sum("__cnt").alias("__n"))
    w_tie = Window.partitionBy("c_acctbal").orderBy("c_custkey")
    ranked = (
        cust.select("c_acctbal", "c_custkey")
        .withColumn("__tie", F.row_number().over(w_tie).cast("long"))
        .join(
            pref.select(F.col("c_acctbal").alias("__v"), "__below"),
            F.col("c_acctbal").eqNullSafe(F.col("__v")),
        )
        .drop("__v")
        .crossJoin(F.broadcast(total))
        .withColumn("__r", F.coalesce(F.col("__below"), F.lit(0).cast("long")) + F.col("__tie"))
    )
    bucketed = ranked.select(
        "c_acctbal",
        F.expr(
            """CAST(CASE WHEN __r <= (__n % 4) * (__n div 4 + 1)
                         THEN (__r - 1) div (__n div 4 + 1) + 1
                         ELSE __n % 4
                              + (__r - (__n % 4) * (__n div 4 + 1) - 1)
                                div greatest(__n div 4, 1L)
                              + 1
                    END AS INT)"""
        ).alias("quartile"),
    )
    return bucketed.groupBy("quartile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.min("c_acctbal"), 2).alias("min_bal"),
        F.round(F.max("c_acctbal"), 2).alias("max_bal"),
    )


@query(
    "string_functions_showcase",
    oracle="""
    SELECT c_custkey,
           upper(c_name)                          AS name_upper,
           lower(c_mktsegment)                    AS segment_lower,
           substring(c_name, 1, 8)                AS name_prefix,
           length(c_name)                         AS name_len,
           concat(c_mktsegment, '#', CAST(c_custkey AS VARCHAR)) AS seg_key,
           replace(c_name, 'Customer', 'C')       AS name_short,
           ltrim(rtrim(c_name))                   AS name_trim
    FROM customer
    """,
)
def string_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string function coverage (upper/lower/substring/length/
    concat/replace/trim) — SURVEY.md §2B scalar fns."""
    cust = read_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat("c_mktsegment", F.lit("#"), F.col("c_custkey").cast("string")).alias("seg_key"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("C")).alias("name_short"),
        F.ltrim(F.rtrim("c_name")).alias("name_trim"),
    )


@query(
    "math_functions_showcase",
    oracle="""
    SELECT p_partkey,
           round(abs(p_retailprice - 1000), 4)     AS abs_diff,
           round(sqrt(p_retailprice), 6)           AS sqrt_price,
           round(ln(p_retailprice), 6)             AS ln_price,
           round(exp(p_retailprice / 1000), 6)     AS exp_scaled,
           CAST(floor(p_retailprice) AS BIGINT)    AS floor_price,
           CAST(ceil(p_retailprice) AS BIGINT)     AS ceil_price,
           CAST(p_size % 7 AS INTEGER)             AS size_mod
    FROM part
    """,
)
def math_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar math coverage (abs/sqrt/ln/exp/floor/ceil/mod)."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.round(F.abs(F.col("p_retailprice") - 1000), 4).alias("abs_diff"),
        F.round(F.sqrt("p_retailprice"), 6).alias("sqrt_price"),
        F.round(F.log("p_retailprice"), 6).alias("ln_price"),
        F.round(F.exp(F.col("p_retailprice") / 1000), 6).alias("exp_scaled"),
        F.floor("p_retailprice").cast("long").alias("floor_price"),
        F.ceil("p_retailprice").cast("long").alias("ceil_price"),
        (F.col("p_size") % 7).cast("int").alias("size_mod"),
    )


@query(
    "events_pivot_by_type",
    oracle="""
    SELECT user_id,
           CAST(count(CASE WHEN event_type = 'view'     THEN 1 END) AS BIGINT) AS view,
           CAST(count(CASE WHEN event_type = 'click'    THEN 1 END) AS BIGINT) AS click,
           CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
           CAST(count(CASE WHEN event_type = 'signup'   THEN 1 END) AS BIGINT) AS signup,
           CAST(count(CASE WHEN event_type = 'error'    THEN 1 END) AS BIGINT) AS error
    FROM events
    GROUP BY user_id
    """,
)
def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with fixed values (single pass, no discovery job)."""
    events = read_table(spark, sf_dir, "events")
    out = (
        events.groupBy("user_id")
        .pivot("event_type", ["view", "click", "purchase", "signup", "error"])
        .count()
    )
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c) for c in ("view", "click", "purchase", "signup", "error")],
    )


@query(
    "distribution_windows",
    oracle="""
    SELECT o_orderpriority, o_orderkey,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist()    OVER w, 6) AS cume,
           first_value(o_orderkey) OVER w  AS cheapest_key,
           nth_value(o_orderkey, 2) OVER (PARTITION BY o_orderpriority
                ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS second_cheapest_key,
           last_value(o_orderkey) OVER (PARTITION BY o_orderpriority
                ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS priciest_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
    """,
)
def distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions — percent_rank/cume_dist plus
    first/nth/last_value with an explicit unbounded ROWS frame (the
    default frame stops at CURRENT ROW, which makes last_value a no-op;
    the explicit frame is the meaningful — and portable — form). Ordering
    includes the unique orderkey so every rank is deterministic. One sort
    per partition serves all five functions (single Window exchange).

    Scale note: percent_rank/cume_dist semantically require a TOTAL
    order per partition, and this query partitions on a 5-value column —
    at 100 TB each partition is a single-task sort by construction. For
    distribution statistics over low-cardinality partitions at scale,
    use approx_percentile/ntile buckets instead; this query exists to
    pin the exact built-ins' semantics."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wfull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.first("o_orderkey").over(w).alias("cheapest_key"),
        F.nth_value("o_orderkey", 2).over(wfull).alias("second_cheapest_key"),
        F.last("o_orderkey").over(wfull).alias("priciest_key"),
    )


_GAP_FILL_MAX_HOURS = 168  # forward-fill horizon: one week per gap


@query(
    "gap_fill_hourly",
    oracle=f"""
    WITH actual AS (
        SELECT user_id, date_trunc('hour', ts) AS hour,
               round(sum(value), 4) AS hour_value
        FROM events GROUP BY user_id, date_trunc('hour', ts)
    ),
    seg AS (
        SELECT user_id, hour, hour_value,
               lead(hour) OVER (PARTITION BY user_id ORDER BY hour) AS nxt
        FROM actual
    )
    SELECT s.user_id,
           strftime(t.h, '%Y-%m-%d %H:00') AS hour,
           CAST(t.h = s.hour AS INT) AS observed,
           s.hour_value AS filled_value
    FROM seg s
    CROSS JOIN unnest(generate_series(
        s.hour,
        CASE WHEN s.nxt IS NULL THEN s.hour
             ELSE least(s.nxt - INTERVAL 1 HOUR,
                        s.hour + INTERVAL {_GAP_FILL_MAX_HOURS} HOUR) END,
        INTERVAL 1 HOUR)) AS t(h)
    """,
)
def gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap-fill + forward-fill (the hypertable rollup
    pattern), segment form with a bounded fill horizon: each observed hour
    forward-fills up to the next observation or ``_GAP_FILL_MAX_HOURS``,
    whichever is sooner. Two properties make this the 100-TB shape:

    - output is bounded by |observations| × horizon — one dormant user
      returning after a year cannot emit a year of dense spine rows (the
      unbounded min..max spine was the single largest output in the sf10
      audit at ~1e9 rows);
    - the fill value rides the generated segment itself, so there is NO
      spine⋈actual join and NO last_value window — one hourly rollup, one
      lead() window on the already-aggregated rows, one generator.

    For series whose every gap is within the horizon the result is
    row-identical to the unbounded gap-fill."""
    events = read_table(spark, sf_dir, "events")
    actual = events.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.round(F.sum("value"), 4).alias("hour_value"))
    seg = actual.select(
        "user_id",
        "hour",
        "hour_value",
        F.lead("hour").over(Window.partitionBy("user_id").orderBy("hour")).alias("nxt"),
    )
    fill_end = F.when(F.col("nxt").isNull(), F.col("hour")).otherwise(
        F.least(
            F.col("nxt") - F.expr("INTERVAL 1 HOUR"),
            F.col("hour") + F.expr(f"INTERVAL {_GAP_FILL_MAX_HOURS} HOUR"),
        )
    )
    return seg.select(
        "user_id",
        F.explode(F.sequence("hour", fill_end, F.expr("INTERVAL 1 HOUR"))).alias("h"),
        F.col("hour").alias("obs_hour"),
        "hour_value",
    ).select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:00").alias("hour"),
        (F.col("h") == F.col("obs_hour")).cast("int").alias("observed"),
        F.col("hour_value").alias("filled_value"),
    )


@query(
    "date_functions_showcase",
    oracle="""
    SELECT o_orderkey,
           strftime(last_day(o_orderdate), '%Y-%m-%d')               AS month_end,
           strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d')  AS quarter_start,
           CAST(quarter(o_orderdate) AS INT)                         AS q,
           CAST(isodow(o_orderdate) AS INT)                          AS iso_dow,
           CAST(weekofyear(o_orderdate) AS INT)                      AS iso_week,
           CAST(date_diff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT)
               AS days_since_epoch_start
    FROM orders
    """,
)
def date_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar function family: last_day / date_trunc(quarter) /
    quarter / ISO day-of-week / ISO week / datediff. Dialect traps
    handled: Spark dayofweek() is Sunday-based while DuckDB's isodow is
    ISO — Spark weekday()+1 == isodow; both engines' weekofyear are ISO
    weeks. All JVM scalar expressions, fully codegen'd in the scan."""
    orders = read_table(spark, sf_dir, "orders")
    return orders.select(
        "o_orderkey",
        F.date_format(F.last_day("o_orderdate"), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias(
            "quarter_start"
        ),
        F.quarter("o_orderdate").alias("q"),
        (F.weekday("o_orderdate") + 1).alias("iso_dow"),
        F.weekofyear("o_orderdate").alias("iso_week"),
        F.datediff(
            "o_orderdate", F.lit("1995-01-01 00:00:00").cast("timestamp")
        ).alias("days_since_epoch_start"),
    )
