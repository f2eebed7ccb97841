"""SQL-surface extras: LATERAL correlated joins, outer generators,
bitwise aggregates, and width_bucket histograms (SURVEY.md §2B scalar /
relational surface, round-2 widening).

These close the remaining gaps a reference user migrating arbitrary
analytics would hit: per-row correlated top-n (LATERAL), array-of-struct
explode that PRESERVES parents with no children (posexplode_outer — the
generator analog of the reference's empty-branch default at
main.py:143-153), flag-set rollups (bit_or/bit_and/bit_xor), and
fixed-width histogram bucketing (width_bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import read_table
from . import _views, query


@query(
    "lateral_top_suppliers",
    oracle="""
    SELECT n.n_name AS nation, t.s_name AS supplier,
           round(t.s_acctbal, 2) AS acctbal
    FROM nation n, LATERAL (
        SELECT s_name, s_acctbal
        FROM supplier s
        WHERE s.s_nationkey = n.n_nationkey
        ORDER BY s_acctbal DESC, s_suppkey
        LIMIT 2
    ) t
    """,
)
def lateral_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with ORDER BY + LIMIT: top-2 suppliers
    by account balance per nation, written as the per-row subquery a SQL
    user would write. Catalyst decorrelates the lateral limit into a
    partitioned rank (DecorrelateInnerQuery) — the verified physical plan
    is one Window over the correlation key + an equi-join (broadcast here,
    hash at scale), NOT a nested loop per outer row, so it scales like
    any windowed top-n.
    Deterministic: (s_acctbal DESC, s_suppkey) is a total order."""
    _views(spark, sf_dir, "nation", "supplier")
    return spark.sql(
        """
        SELECT n.n_name AS nation, t.s_name AS supplier,
               round(t.s_acctbal, 2) AS acctbal
        FROM nation n, LATERAL (
            SELECT s_name, s_acctbal
            FROM supplier s
            WHERE s.s_nationkey = n.n_nationkey
            ORDER BY s_acctbal DESC, s_suppkey
            LIMIT 2
        ) t
        """
    )


@query(
    "posexplode_outer_order_items",
    oracle="""
    SELECT o.o_orderkey,
           CAST(CASE WHEN l.l_orderkey IS NULL THEN NULL
                ELSE row_number() OVER (PARTITION BY o.o_orderkey
                                        ORDER BY l.l_linenumber, l.l_quantity) - 1
                END AS INT) AS pos,
           l.l_linenumber,
           round(l.l_quantity, 2) AS qty
    FROM orders o
    LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    """,
)
def posexplode_outer_order_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OUTER generator round-trip: lineitems are packed into a sorted
    array<struct> per order (collect_list is order-nondeterministic across
    partitions; array_sort pins it), left-joined back onto orders, and
    re-expanded with posexplode_outer (the driver testdata reuses
    l_linenumber values within an order, so the struct sort key — and the
    oracle's row_number ORDER BY — is (l_linenumber, l_quantity), a total
    order up to identical output rows) — orders with NO lineitems survive
    as a single (pos=NULL, item=NULL) row instead of vanishing, the
    generator analog of left-join defaults (reference main.py:143-153).
    The testdata genuinely exercises the outer branch (~257 orders at
    sf0.01 have no lineitems). The oracle is the join itself with a
    0-based row_number standing in for pos.

    Scale: the array build is one hash aggregation on l_orderkey (bounded
    groups — TPC-H orders have ≤7 lines), the join co-keys two
    |orders|-sized streams, and the explode is map-side. Nothing here
    materializes unbounded state."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    arrs = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_list(F.struct("l_linenumber", "l_quantity"))).alias("items")
    )
    j = orders.join(arrs, orders.o_orderkey == arrs.l_orderkey, "left")
    return j.select(
        "o_orderkey", F.posexplode_outer("items").alias("pos", "item")
    ).select(
        "o_orderkey",
        F.col("pos").cast("int").alias("pos"),
        F.col("item.l_linenumber").alias("l_linenumber"),
        F.round("item.l_quantity", 2).alias("qty"),
    )


@query(
    "bitwise_flag_rollup",
    oracle="""
    WITH f AS (
        SELECT user_id % 50 AS cohort,
               (CASE WHEN value > 100 THEN 1 ELSE 0 END
                | CASE WHEN event_type = 'purchase' THEN 2 ELSE 0 END
                | CASE WHEN CAST(json_extract_string(props, '$.k') AS INTEGER) % 2 = 0
                       THEN 4 ELSE 0 END
                | CASE WHEN hour(ts) < 12 THEN 8 ELSE 0 END) AS flags
        FROM events
    )
    SELECT cohort,
           bit_or(flags)                          AS any_flags,
           bit_and(flags)                         AS all_flags,
           bit_xor(flags)                         AS parity_flags,
           CAST(bit_count(bit_or(flags)) AS INT)  AS n_distinct_bits,
           CAST(count(*) AS BIGINT)               AS n_events
    FROM f
    GROUP BY cohort
    """,
)
def bitwise_flag_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flag-set rollup with bitwise aggregates: each event gets a 4-bit
    feature mask (value band / type / JSON prop parity / time-of-day),
    then per-cohort bit_or ("any event had the bit"), bit_and ("every
    event had it"), bit_xor (parity) and bit_count over the union mask.
    This is the compact form of per-cohort boolean profiles — at 100 TB a
    mask column + bitwise partial aggregates move ONE int per row through
    the shuffle instead of four boolean columns, and all three aggregates
    are associative+commutative so map-side combine applies."""
    events = read_table(spark, sf_dir, "events")
    # Column.__or__ is BOOLEAN or; integer bit-merge is bitwiseOR.
    flags = (
        F.when(F.col("value") > 100, F.lit(1))
        .otherwise(0)
        .bitwiseOR(F.when(F.col("event_type") == "purchase", F.lit(2)).otherwise(0))
        .bitwiseOR(
            F.when(
                F.get_json_object("props", "$.k").cast("int") % 2 == 0, F.lit(4)
            ).otherwise(0)
        )
        .bitwiseOR(F.when(F.hour("ts") < 12, F.lit(8)).otherwise(0))
    )
    return (
        events.select((F.col("user_id") % 50).alias("cohort"), flags.alias("flags"))
        .groupBy("cohort")
        .agg(
            F.bit_or("flags").alias("any_flags"),
            F.bit_and("flags").alias("all_flags"),
            F.bit_xor("flags").alias("parity_flags"),
            F.bit_count(F.bit_or("flags")).cast("int").alias("n_distinct_bits"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@query(
    "width_bucket_quantity_histogram",
    oracle="""
    SELECT CAST(floor(l_quantity / 5.0) AS BIGINT) + 1 AS bucket,
           CAST(count(*) AS BIGINT)        AS n,
           round(sum(l_quantity), 2)       AS sum_qty,
           round(min(l_extendedprice), 2)  AS min_price,
           round(max(l_extendedprice), 2)  AS max_price
    FROM lineitem
    GROUP BY bucket
    """,
)
def width_bucket_quantity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via width_bucket(l_quantity, 0, 50, 10): the
    equi-width complement of the equi-depth ntile quartiles. The oracle
    mirrors the bucket arithmetic as floor(q/5)+1 — identical double
    division on both sides ((q-0)/((50-0)/10) == q/5.0 bit-for-bit), so
    boundary values land in the same bucket. sum(l_quantity) is exact
    (small integers in double — associative), min/max are
    order-independent; bucketing is a map-only expression feeding one
    partial+final hash aggregate over ≤11 groups."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy(
            F.width_bucket("l_quantity", F.lit(0.0), F.lit(50.0), F.lit(10)).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
        )
    )


@query(
    "frequent_event_types",
    oracle="""
    SELECT event_type AS item, count(*) AS cnt
    FROM events
    GROUP BY event_type
    """,
)
def frequent_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters via the ``approx_top_k`` sketch aggregate (Spark 4):
    one pass, mergeable partial sketches, fixed memory — the frequent-items
    primitive for corpus profiling at scale. On a domain smaller than the
    sketch's maxItemsTracked the counts are EXACT, which is what makes the
    plain GROUP BY oracle valid here (5 event types ≪ 10000 tracked); on a
    high-cardinality column the same query degrades gracefully to
    approximate heavy hitters, where only a rows-only check would hold."""
    _views(spark, sf_dir, "events")
    return spark.sql(
        """
        SELECT item, count AS cnt
        FROM (SELECT inline(approx_top_k(event_type, 5)) FROM events)
        """
    )


@query(
    "collated_brand_counts",
    oracle="""
    SELECT lower(CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand) ELSE p_brand END) AS brand,
           count(*) AS n
    FROM part
    GROUP BY 1
    """,
)
def collated_brand_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Case-insensitive grouping via a collated string type (Spark 4
    ``COLLATE UTF8_LCASE``): the mixed-case brand spellings (synthesized
    deterministically from the key parity) collapse into one group each
    WITHOUT rewriting the grouping key — the collation lives in the type,
    so the same aggregation works on any pre-collated column. The emitted
    key is normalized with lower() because a collated GROUP BY exposes an
    arbitrary representative of each equivalence class; the oracle is the
    classic lower()-rewrite, which is exactly the equivalence UTF8_LCASE
    defines."""
    _views(spark, sf_dir, "part")
    return spark.sql(
        """
        SELECT lower(b) AS brand, count(*) AS n
        FROM (SELECT CASE WHEN p_partkey % 2 = 0 THEN upper(p_brand) ELSE p_brand END
                     COLLATE UTF8_LCASE AS b
              FROM part)
        GROUP BY b
        """
    )


@query(
    "try_arithmetic_showcase",
    oracle="""
    WITH base AS (
        SELECT l_returnflag,
               CASE WHEN l_orderkey % 3 = 0 THEN NULL
                    ELSE l_extendedprice / (l_orderkey % 3) END AS td,
               CASE WHEN CAST(CASE WHEN l_orderkey % 997 = 0
                                   THEN 9000000000000000000 ELSE 2 END AS HUGEINT)
                         * l_orderkey
                         BETWEEN -9223372036854775808 AND 9223372036854775807
                    THEN CAST(CASE WHEN l_orderkey % 997 = 0
                                   THEN 9000000000000000000 ELSE 2 END * l_orderkey AS BIGINT)
               END AS tm,
               CASE WHEN l_orderkey % 991 = 0 THEN NULL
                    ELSE CAST(try_cast('12.34' AS DECIMAL(4,2)) AS DOUBLE) END AS tn
        FROM lineitem
    )
    SELECT l_returnflag,
           count(*) AS n_rows,
           count(*) - count(td) AS n_div_null,
           round(avg(td), 4) AS avg_div,
           count(tm) AS n_mul_ok,
           count(*) - count(tn) AS n_num_null,
           round(avg(tn), 4) AS avg_num
    FROM base GROUP BY l_returnflag
    """,
)
def try_arithmetic_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe arithmetic family (Spark 4 ``try_*``): ``try_divide``
    yields NULL on a zero divisor instead of Infinity/raise,
    ``try_multiply`` NULLs 64-bit overflow, ``try_to_number`` NULLs
    unparseable strings — the lenient-cast doctrine (P7/P10) extended to
    arithmetic, which is what keeps a 100-TB pipeline alive on the one
    poisoned row in shard 90000. The poisoned cases are deliberately RARE
    (1-in-997 overflow, 1-in-991 bad parse): Spark's try_* failure path is
    a caught per-row exception, so a query where failure is the COMMON
    case pays exception cost per row (measured: an all-overflow variant
    took 478 s at sf10 vs single-digit seconds with rare failures — try_*
    is poison-tolerance, not bulk NULL arithmetic; use plain CASE guards
    when most rows are expected to fail). The oracle emulates each with
    CASE (DuckDB HUGEINT for the overflow window); the try_to_number
    DECIMAL result is cast to DOUBLE on both sides."""
    li = read_table(spark, sf_dir, "lineitem")
    big_or_2 = F.when(
        F.col("l_orderkey") % 997 == 0, F.lit(9000000000000000000)
    ).otherwise(F.lit(2)).cast("long")
    base = li.select(
        "l_returnflag",
        F.try_divide(F.col("l_extendedprice"), F.col("l_orderkey") % 3).alias("td"),
        F.try_multiply(big_or_2, F.col("l_orderkey")).alias("tm"),
        F.try_to_number(
            F.when(F.col("l_orderkey") % 991 == 0, F.lit("x")).otherwise(F.lit("12.34")),
            F.lit("99.99"),
        )
        .cast("double")
        .alias("tn"),
    )
    return base.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count(F.lit(1)) - F.count("td")).alias("n_div_null"),
        F.round(F.avg("td"), 4).alias("avg_div"),
        F.count("tm").alias("n_mul_ok"),
        (F.count(F.lit(1)) - F.count("tn")).alias("n_num_null"),
        F.round(F.avg("tn"), 4).alias("avg_num"),
    )
