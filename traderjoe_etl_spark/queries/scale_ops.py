"""Scale-pattern operators surfaced as driver queries (round-2 session 3).

Each of these is a pattern a 100-TB deployment leans on and the small-SF
oracle can still verify exactly:

- Bloom-prefilter join: membership bitmap pushdown ahead of the probe
  shuffle; exact because the follow-up join removes false positives.
- Datasketches in their exact regime: KLL / theta sketches are EXACT while
  the number of retained entries stays below the sketch capacity, so at
  oracle scale the estimate equals the true value and DuckDB can check it,
  while the identical plan at 100 TB degrades gracefully to a bounded-error
  estimate instead of an OOM. (Same trick as ``frequent_event_types``.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.bloom import bloom_prefilter_join
from ..sources.tables import read_table
from . import query


@query(
    "bloom_prefilter_revenue",
    oracle="""
    SELECT c.c_mktsegment                          AS segment,
           COUNT(*)                                AS n_orders,
           ROUND(SUM(o.o_totalprice), 2)           AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_acctbal > 9000.0
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def bloom_prefilter_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by segment over wealthy customers, with the orders scan
    Bloom-prefiltered on the wealthy-customer key set.

    Scale shape (operators/bloom.py): the build side aggregates to an
    m/64-long bitmap (map-side-combined ``bit_or``), the probe filter is a
    pure-JVM literal-bitmap test codegen'd into the orders scan, and the
    exact join afterwards removes bloom false positives — so the result is
    byte-identical to the plain join (the oracle), while at 100 TB the
    orders exchange carries only plausibly-matching rows. Reference anchor:
    the user×pool work list vs history join, main.py:182-183.

    r12 (guide §5 — keep data work off the driver; VERDICT r11 item 4):
    the bloom is sized from the customer table's parquet-FOOTER row count
    (``table_rows`` — a metadata read, no Spark job) instead of an
    ``approx_count_distinct`` job over the filtered build side. The footer
    count upper-bounds the filtered key count (~10x at this filter's
    selectivity), which only enlarges the bitmap (fewer false positives);
    past ~220k build rows the sizing crosses the re-measured
    MAX_LITERAL_BITS and the SAME query auto-switches to the broadcast-
    value bitmap (native_bloom_prefilter), whose plan is fully lazy — ZERO
    plan-construction driver jobs where the r11 shape ran two (count +
    bitmap collect). Measured sf10 (same session, results equal): r11
    literal shape 12.8 s plan-build driver jobs + 2.5 s/exec → footer-
    sized native 0.4 s build + 1.6 s/exec. sf0.1/sf1 stay on the literal
    path (small bitmaps, one tiny collect; the literal test composes with
    parquet pushdown). Results are identical in every regime — the exact
    join removes whatever false positives the bloom admits."""
    from ..sources.tables import table_rows

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000.0)
    joined = bloom_prefilter_join(
        orders, cust, "o_custkey", "c_custkey",
        expected_keys=table_rows(sf_dir, "customer"),
    )
    return (
        joined.groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("segment")
    )


@query(
    "theta_sketch_setops",
    oracle="""
    WITH hi AS (SELECT DISTINCT user_id FROM events WHERE event_type IN ('purchase', 'signup')),
         lo AS (SELECT DISTINCT user_id FROM events WHERE event_type IN ('click', 'view'))
    SELECT (SELECT COUNT(*) FROM (SELECT user_id FROM hi UNION SELECT user_id FROM lo))  AS union_users,
           (SELECT COUNT(*) FROM (SELECT user_id FROM hi INTERSECT SELECT user_id FROM lo)) AS both_users,
           (SELECT COUNT(*) FROM (SELECT user_id FROM hi EXCEPT SELECT user_id FROM lo))    AS hi_only_users
    """,
)
def theta_sketch_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user set algebra via theta sketches (Spark 4 datasketches):
    one sketch per cohort, then union/intersection/difference ON THE
    SKETCHES — no re-scan, no distinct shuffle of raw ids, and partial
    sketches merge associatively so cohorts can be built per-partition or
    per-day and combined later (the 100-TB audience-overlap pattern; a
    COUNT(DISTINCT) equivalent would shuffle every user id per cohort).
    Below the sketch's nominal-entries capacity (4096 default ≫ the user
    domain at oracle scale) theta sketches retain every hashed key, so the
    estimates are EXACT and the set-algebra SQL oracle is valid; at 100 TB
    the identical plan degrades to a ~2% relative-error estimate."""
    ev = read_table(spark, sf_dir, "events")
    sk = ev.agg(
        F.theta_sketch_agg(F.when(F.col("event_type").isin("purchase", "signup"), F.col("user_id"))).alias("hi"),
        F.theta_sketch_agg(F.when(F.col("event_type").isin("click", "view"), F.col("user_id"))).alias("lo"),
    )
    return sk.select(
        F.theta_sketch_estimate(F.call_function("theta_union", F.col("hi"), F.col("lo"))).alias("union_users"),
        F.theta_sketch_estimate(F.call_function("theta_intersection", F.col("hi"), F.col("lo"))).alias("both_users"),
        F.theta_sketch_estimate(F.call_function("theta_difference", F.col("hi"), F.col("lo"))).alias("hi_only_users"),
    )


@query(
    "kll_quantile_rollup",
    oracle="""
    WITH ranked AS (
        SELECT c_nationkey,
               c_acctbal,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS rn,
               COUNT(*)    OVER (PARTITION BY c_nationkey)                     AS n
        FROM customer
    )
    SELECT c_nationkey AS nationkey,
           MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5 * n) AS BIGINT)) THEN c_acctbal END) AS p50_acctbal,
           MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.9 * n) AS BIGINT)) THEN c_acctbal END) AS p90_acctbal,
           MAX(n) AS n_customers
    FROM ranked
    GROUP BY c_nationkey
    ORDER BY nationkey
    """,
)
def kll_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level mergeable quantiles via KLL sketches: partial sketches per
    (nation, hash bucket) — the per-partition shape on a cluster — merged
    per nation with ``kll_merge_agg_double``, then p50/p90 read off the
    merged sketch. The shuffle carries one ~KB sketch per (nation, bucket),
    never the raw values — the distributed-quantile pattern that replaces
    a full sort at 100 TB. While total retained items per nation stay
    below the sketch capacity (k=800 here ≫ customers/nation at oracle
    scale) the KLL quantile is EXACT and equals the rank-based SQL oracle:
    the value at 1-indexed position ceil(q·n) of the sorted group
    (verified empirically against the datasketches inclusive-rank rule);
    beyond capacity the same plan yields bounded-error quantiles."""
    cust = read_table(spark, sf_dir, "customer")
    partial = (
        cust.groupBy(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.pmod(F.xxhash64("c_custkey"), F.lit(8)).alias("bucket"),
        )
        .agg(
            F.call_function("kll_sketch_agg_double", F.col("c_acctbal"), F.lit(800)).alias("sk"),
            F.count("*").alias("n"),
        )
    )
    merged = partial.groupBy("nationkey").agg(
        F.call_function("kll_merge_agg_double", F.col("sk")).alias("sk"),
        F.sum("n").alias("n_customers"),
    )
    return merged.select(
        "nationkey",
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.5)).alias("p50_acctbal"),
        F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.9)).alias("p90_acctbal"),
        "n_customers",
    ).orderBy("nationkey")


@query(
    "topk_sketch_rollup",
    oracle="""
    SELECT event_type AS item, COUNT(*) AS cnt
    FROM events
    GROUP BY event_type
    """,
)
def topk_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase heavy hitters: ``approx_top_k_accumulate`` builds one
    frequency-sketch state PER SHARD (here a hash of event_id — on a real
    deployment the shard is a day/partition and the states persist in a
    rollup table), ``approx_top_k_combine`` merges the states, and
    ``_estimate`` reads the merged top-k. The merge consumes one sketch
    row per shard — query time over a year of pre-aggregated shards is
    independent of raw event volume, the same pattern kll_quantile_rollup
    uses for quantiles. On a domain smaller than maxItemsTracked the
    counts are exact (5 event types ≪ 100), so the plain GROUP BY oracle
    holds; at real cardinalities the identical plan returns approximate
    heavy hitters."""
    ev = read_table(spark, sf_dir, "events")
    ev.createOrReplaceTempView("events_for_topk")
    return spark.sql(
        """
        WITH partials AS (
            SELECT pmod(hash(event_id), 8) AS shard,
                   approx_top_k_accumulate(event_type, 100) AS st
            FROM events_for_topk
            GROUP BY 1
        )
        SELECT item, count AS cnt
        FROM (SELECT inline(approx_top_k_estimate(approx_top_k_combine(st, 100), 100))
              FROM partials)
        """
    )
