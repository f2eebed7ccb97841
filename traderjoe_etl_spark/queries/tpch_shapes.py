"""Classic TPC-H query shapes (Q3/Q10 analogs) + unpivot — recognizable
relational workloads broadening the §2B join/agg/sort coverage."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.joins import gated_broadcast
from ..sources.tables import read_table
from . import query


@query(
    "shipping_priority_q3",
    oracle="""
    SELECT l.l_orderkey,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective filters on three tables BEFORE the joins
    (Catalyst pushes all three to the scans), aggregate, global top-10 →
    TakeOrderedAndProject. Decimal revenue, double at the boundary."""
    cust = read_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    li = read_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15 00:00:00").cast("timestamp")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "returned_item_report_q10",
    oracle="""
    SELECT c.c_custkey, c.c_name, n.n_name,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue,
           round(c.c_acctbal, 2) AS c_acctbal
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def returned_item_report_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-items revenue per customer, nation dim
    broadcast, top-20."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = read_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "n_name", "revenue", F.round("c_acctbal", 2).alias("c_acctbal"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "unpivot_liquidity_depth",
    oracle="""
    SELECT p_partkey, metric, round(val, 4) AS val
    FROM (
        SELECT p_partkey, 'retail' AS metric, p_retailprice AS val FROM part
        UNION ALL
        SELECT p_partkey, 'size_x100', CAST(p_size AS DOUBLE) * 100 FROM part
    )
    """,
)
def unpivot_liquidity_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long melt via stack) — the inverse of the pivot
    surface; the reference's wide 46-col snapshot row is exactly the shape
    this melts for metric-per-row analytics."""
    part = read_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.expr(
            "stack(2, 'retail', p_retailprice, 'size_x100', CAST(p_size AS DOUBLE) * 100) AS (metric, val)"
        ),
    ).select("p_partkey", "metric", F.round("val", 4).alias("val"))


@query(
    "local_supplier_volume_q5",
    oracle="""
    SELECT n.n_name,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n.n_name
    """,
)
def local_supplier_volume_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join where the supplier join carries TWO
    predicates (equi key + same-nation requirement). The big fact join
    (lineitem ⋈ orders) shuffles on orderkey once; supplier/nation/region
    are broadcast dims, so the nation restriction never reshuffles the
    fact side. Orderdate filter is pushed to the orders scan."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    # Reduce the DATE-FILTERED orders to an (o_orderkey, c_nationkey) map
    # via the customer projection, then broadcast THAT against the fact
    # scan — one selective year of orders post-projection is
    # broadcast-sized, so lineitem never shuffles (measured sf10:
    # 14.3 → 2.9 s). Both hints are SIZE-GATED (gated_broadcast — the q18
    # rule: customer and orders scale WITH the corpus, so an unconditional
    # pin is a scale bug): past the byte cap the hints drop away and this
    # degrades to the plain orderkey-shuffle join + AQE — same semantics,
    # never a failure. Selectivities = the row fractions each build side
    # keeps (all customers / the map's 1-of-6-years date cut); the
    # projected-column fraction (2 of 5 / 2 of 6 columns) is derived from
    # the frames themselves so projection drift re-sizes the gate.
    order_nation = orders.join(
        gated_broadcast(cust.select("c_custkey", "c_nationkey"), sf_dir, "customer"),
        orders.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey", "c_nationkey")
    return (
        li.join(
            gated_broadcast(order_nation, sf_dir, "orders", 1 / 6),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            # supplier is unhinted: the static planner's file-size estimate
            # broadcasts it while genuinely small and declines at scale
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@query(
    "forecast_revenue_q6",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate, zero joins. All three
    predicates push to the parquet scan (row-group pruning on shipdate at
    scale); the aggregate is a single partial/final pair with no keys —
    the cheapest possible distributed plan, bottlenecked on scan IO."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast("decimal(30,6)"))
        .cast("double")
        .alias("revenue")
    )


@query(
    "volume_shipping_q7",
    oracle="""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6))) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def volume_shipping_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: the same dimension (nation) joined twice under two
    roles with a disjunctive cross-role predicate. Both nation joins are
    broadcasts, so the OR filter evaluates map-side after two cheap hash
    probes — the fact tables still shuffle only on their equi keys."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    # The nation disjunction names TWO nations, so the customer side
    # shrinks to ~2/|nations| of the dimension BEFORE any fact join:
    # customers of those nations broadcast against orders, and the
    # resulting (o_orderkey, cust_nation) map — ~8% of orders — is
    # itself broadcast-sized, so the 60M-row lineitem side never
    # shuffles (measured sf10: 9.0 → 2.9 s). Both corpus-fed hints are
    # SIZE-GATED (gated_broadcast): selectivity = the 2-of-25-nation row
    # cut (column fractions derived from the frames), so the selective
    # cohort stays pinned far past the point the FULL dim stopped being a
    # broadcast dim, and past the cap this degrades to the plain
    # orderkey-shuffle join + AQE.
    cust2 = cust.join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key")).filter(
        F.col("cust_nation").isin("NATION_3", "NATION_7")
    )
    order_nation = orders.join(
        gated_broadcast(cust2.select("c_custkey", "cust_nation"), sf_dir, "customer", 2 / 25),
        orders.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey", "cust_nation")
    return (
        li.join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .filter(F.col("supp_nation").isin("NATION_3", "NATION_7"))
        .join(
            gated_broadcast(order_nation, sf_dir, "orders", 2 / 25),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)"))
            .cast("double")
            .alias("revenue")
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "market_share_q8",
    oracle="""
    WITH all_volume AS (
        SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
               CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(30,6)) AS volume,
               n2.n_name AS supp_nation
        FROM part p
        JOIN lineitem l ON p.p_partkey = l.l_partkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
        JOIN region r   ON n1.n_regionkey = r.r_regionkey
        JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
    )
    SELECT o_year,
           round(CAST(sum(CASE WHEN supp_nation = 'NATION_5' THEN volume ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE)
                 / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
    FROM all_volume
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market share = conditional-sum / total-sum inside
    one aggregate (single shuffle; no self-join, no second pass). The part
    filter prunes the fact rows before any wide join; both nation roles
    and region broadcast."""
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    li = read_table(spark, sf_dir, "lineitem")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation"))
    vol = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)")
    zero = F.lit(0).cast("decimal(30,6)")
    return (
        # part/supplier are UNHINTED (q18 rule: they scale with the corpus;
        # the planner's file-size estimate broadcasts them while small and
        # declines at scale — a pin would never decline)
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_5", vol).otherwise(zero)).cast("double")
                / F.sum(vol).cast("double"),
                6,
            ).alias("mkt_share")
        )
        .orderBy("o_year")
    )


@query(
    "product_profit_q9",
    oracle="""
    SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
           CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                         - p.p_retailprice * l.l_quantity / 100 AS DECIMAL(30,6))) AS DOUBLE) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    WHERE p.p_type = 'PROMO'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def product_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (adapted: no partsupp table in the star schema, so
    supply cost is proxied as p_retailprice·quantity/100). Profit per
    supplier-nation per year; part filter prunes before the orders join;
    part/supplier/nation broadcast, one fact shuffle on orderkey."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = read_table(spark, sf_dir, "supplier")
    orders = read_table(spark, sf_dir, "orders")
    nation = read_table(spark, sf_dir, "nation")
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") / 100
    ).cast("decimal(30,6)")
    return (
        # part/supplier unhinted — planner stats decide (q18 rule)
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(supp, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@query(
    "late_shipment_priority_q12",
    oracle="""
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
               AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT)
               AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_linestatus
    ORDER BY l.l_linestatus
    """,
)
def late_shipment_priority_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (adapted: no shipmode column, so 'late' is a
    cross-table predicate shipdate > orderdate+90d evaluated post-join).
    The year filter still pushes to the lineitem scan; the lateness
    predicate can't push down (references both sides) and correctly stays
    a post-join filter — at scale this is a single orderkey shuffle."""
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


# ---------------------------------------------------------------------------
# Synthesized partsupp: the driver testdata has no partsupp table, which
# blocked TPC-H Q2/Q20 (NOTES r01 backlog). Both engines derive the SAME
# deterministic partsupp from part × a generated supplier-index — 4
# suppliers per part via modular arithmetic over the supplier count, no
# cross join (the count rides a broadcast 1-row aggregate, so the build is
# a map-only Generate over the part scan at any scale).
# ---------------------------------------------------------------------------

_PARTSUPP_SQL = """
sc AS (SELECT count(*) AS n FROM supplier),
ps AS (
  SELECT p.p_partkey AS ps_partkey,
         (p.p_partkey + t.i * 13) % sc.n AS ps_suppkey,
         CAST((p.p_partkey * 17 + t.i * 29) % 9999 + 1 AS BIGINT) AS ps_availqty,
         (((p.p_partkey * 31 + t.i * 7) % 80000) + 10000) / 100.0 AS ps_supplycost
  FROM part p, sc, LATERAL unnest(generate_series(0, 3)) AS t(i)
)
"""


def _partsupp(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = read_table(spark, sf_dir, "part")
    supp = read_table(spark, sf_dir, "supplier")
    sc = supp.agg(F.count(F.lit(1)).alias("__n"))
    pre = part.select("p_partkey", F.sequence(F.lit(0), F.lit(3)).alias("__idxs"))
    i = F.col("i").cast("long")
    return (
        pre.select("p_partkey", F.explode("__idxs").alias("i"))
        .crossJoin(F.broadcast(sc))
        .select(
            F.col("p_partkey").alias("ps_partkey"),
            ((F.col("p_partkey") + i * 13) % F.col("__n")).alias("ps_suppkey"),
            ((F.col("p_partkey") * 17 + i * 29) % 9999 + 1).cast("long").alias("ps_availqty"),
            ((((F.col("p_partkey") * 31 + i * 7) % 80000) + 10000) / 100.0).alias("ps_supplycost"),
        )
    )


@query(
    "min_cost_supplier_q2",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    eur AS (
        SELECT ps.ps_partkey, ps.ps_supplycost, s.s_suppkey, s.s_name,
               s.s_acctbal, n.n_name
        FROM ps JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        WHERE r.r_name = 'EUROPE'
    )
    SELECT round(e.s_acctbal, 2) AS s_acctbal, e.s_name, e.n_name,
           p.p_partkey, p.p_type, e.ps_supplycost AS supplycost
    FROM part p JOIN eur e ON p.p_partkey = e.ps_partkey
    WHERE p.p_type = 'STANDARD' AND p.p_size <= 10
      AND e.ps_supplycost = (SELECT min(e2.ps_supplycost) FROM eur e2
                             WHERE e2.ps_partkey = e.ps_partkey)
    """,
)
def min_cost_supplier_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape over the synthesized partsupp: the min-cost supplier
    per part within one region, the classic correlated-scalar-min query.
    The correlation decorrelates to a window min over the region-filtered
    (part, supplier, cost) stream + an equality filter — one shuffle on
    ps_partkey, region/nation broadcast, ties (two suppliers at the min)
    all kept, matching SQL set semantics. supplycost is emitted as the raw
    double both sides compute identically — no re-rounding drift."""
    from pyspark.sql import Window

    ps = _partsupp(spark, sf_dir)
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = read_table(spark, sf_dir, "part").filter(
        (F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10)
    )
    eur = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .select("ps_partkey", "ps_supplycost", "s_name", "s_acctbal", "n_name")
    )
    w = Window.partitionBy("ps_partkey")
    best = eur.withColumn("__min", F.min("ps_supplycost").over(w)).filter(
        F.col("ps_supplycost") == F.col("__min")
    )
    return best.join(part, part.p_partkey == best.ps_partkey).select(
        F.round("s_acctbal", 2).alias("s_acctbal"),
        "s_name",
        "n_name",
        "p_partkey",
        "p_type",
        F.col("ps_supplycost").alias("supplycost"),
    )


@query(
    "excess_stock_suppliers_q20",
    oracle=f"""
    WITH {_PARTSUPP_SQL},
    agg AS (
        SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_partkey, l_suppkey
    ),
    cand AS (
        SELECT DISTINCT ps.ps_suppkey
        FROM ps
        JOIN part p ON ps.ps_partkey = p.p_partkey
        JOIN agg a ON a.l_partkey = ps.ps_partkey AND a.l_suppkey = ps.ps_suppkey
        WHERE p.p_name LIKE 'small%' AND ps.ps_availqty > 0.5 * a.qty
    )
    SELECT s.s_name, n.n_name
    FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE s.s_suppkey IN (SELECT ps_suppkey FROM cand)
      AND n.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4')
    """,
)
def excess_stock_suppliers_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape over the synthesized partsupp: suppliers holding
    more than half a year's shipped quantity of a part family — the nested
    IN / correlated-sum chain. Flattened scale-first: lineitem is
    pre-aggregated ONCE to (partkey, suppkey, qty) partials (the shuffle
    carries the pair aggregate, never fact rows), partsupp inner-joins the
    aggregate (a pair with no shipments fails the > comparison in SQL —
    NULL — so inner join is equivalent), and the final IN becomes a
    left-semi join against the distinct candidate suppliers. Sum of
    l_quantity is exact (small integers in doubles), so 0.5·qty compares
    identically in both engines."""
    ps = _partsupp(spark, sf_dir)
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    part = read_table(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    supp = read_table(spark, sf_dir, "supplier")
    nation = read_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_0", "NATION_1", "NATION_2", "NATION_3", "NATION_4")
    )
    agg = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("qty"))
    cand = (
        ps.join(part, ps.ps_partkey == part.p_partkey)
        .join(
            agg,
            (agg.l_partkey == ps.ps_partkey) & (agg.l_suppkey == ps.ps_suppkey),
        )
        .filter(F.col("ps_availqty") > 0.5 * F.col("qty"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        supp.join(cand, supp.s_suppkey == cand.ps_suppkey, "left_semi")
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .select("s_name", "n_name")
    )
