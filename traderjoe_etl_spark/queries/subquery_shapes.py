"""Subquery / decorrelation shapes (TPC-H Q4/Q11/Q13/Q14/Q15/Q16/Q17/Q18/Q21/Q22
analogs adapted to the testdata star schema — no partsupp/commitdate columns).

These close the one relational-surface gap left after rounds 1-2: correlated
and uncorrelated subqueries — EXISTS / NOT EXISTS, null-aware NOT IN, IN over
an aggregated subquery (HAVING), and scalar subqueries — plus the disjunctive
pushdown and conditional-aggregation shapes.

Two deliberate implementation styles:

- ``spark.sql`` with real subqueries (q4, q16, q17-oracle-twin form): Catalyst
  *decorrelates* — EXISTS becomes a left semi join, single-column NOT IN
  becomes a null-aware anti join (NAAJ), a correlated scalar aggregate becomes
  an aggregated-then-joined subtree. The SQL surface is part of the engine's
  API; these prove it plans scale-correct shapes (verify via .explain).
- DataFrame-side manual decorrelation (q18, q21, q22, q15, q11): the explicit
  aggregate-then-semi/anti-join form a pipeline author writes when they want
  the join strategy visible (broadcast the aggregated small side).

Scale notes: every subquery here aggregates BEFORE joining, so the shuffle
carries |groups| not |fact|; per-order/per-part aggregates are tiny relative
to lineitem and broadcast; scalar subqueries reduce to one row and broadcast
as literals. No correlated per-row re-execution exists anywhere (that is the
point of decorrelation).

Reference parity: the reference (main.py) has no subqueries — this is §2B
"generalized engine surface" breadth, same category as the Q3/Q10 shapes in
tpch_shapes.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.fixedpoint import (
    fixed_sum_aggs,
    fixed_sum_sql,
    fixed_sum_value,
    fixed_sum_value_sql,
)
from ..sources.tables import read_table
from . import _views, query


# ---------------------------------------------------------------------------
# EXISTS → left semi join (Q4 shape)
# ---------------------------------------------------------------------------

# Same 2-GiB rationale as _Q21_MAPSIDE_CAP_BYTES below (both gates hedge a
# lineitem-sized per-task memory structure against the fixed shared heap, and
# both have sf10 = 1.0 GB as their largest measured-safe small-scale input):
# below it the SQL EXISTS plan's session-width semi-join sort is comfortable;
# above it the sort runs at corpus_width (r10 in-sweep sort-task heap OOM).
_Q4_SQL_CAP_BYTES = 2 << 30


@query(
    "exists_priority_counts_q4",
    oracle="""
    SELECT o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def exists_priority_counts_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS. Two size-gated branches (the q21
    discipline — don't pay a small-scale regression blindly, don't trust a
    fresh-pass-only margin at scale):

    - BELOW ``_Q4_SQL_CAP_BYTES`` (lineitem ≤ 2 GiB on disk): actual SQL so
      Catalyst decorrelates it — the plan is scan(orders, date pushdown)
      ⋈semi scan(lineitem, returnflag pushdown) on orderkey at the session
      shuffle width → partial+final count. Proves the SQL subquery surface
      and is the measured small-scale form (sf10 fresh 2.8 s, AUDIT_r10).
    - AT SCALE (or unknown bytes — conservative branch): the same semi join,
      manually decorrelated so the SMJ runs at ``corpus_width``-bounded
      tasks. The SQL form's semi-join sort put ~600M filtered lineitem rows
      through 84 post-AQE sort partitions at sf100 and one sort task threw a
      genuine heap-space OOM in the r10 in-sweep run (AUDIT_SF100_r10 —
      passed fresh at 30.0 s: the exact marginal-not-safe signature q21 had
      in r8). The 'R' keys repartition on l_orderkey at corpus_width
      (selectivity 0.25 — the R-slice) and reduce-side dropDuplicates (the
      q16 pattern; (order ~4:1 lines, ~1 R-line — near-unique, so the
      distinct must NOT run map-side), which bounds every sort task to
      ~150k keys and halves the join's probe volume; orders co-partitions at
      the same width. The exchange still carries orderkeys, not rows.
    """
    from ..sources.tables import corpus_width, table_bytes

    li_bytes = table_bytes(sf_dir, "lineitem")
    if li_bytes != 0 and li_bytes <= _Q4_SQL_CAP_BYTES:
        _views(spark, sf_dir, "orders", "lineitem")
        return spark.sql(
            """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders o
            WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
              AND EXISTS (SELECT 1 FROM lineitem l
                          WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
            GROUP BY o_orderpriority
            """
        )
    li = read_table(spark, sf_dir, "lineitem")
    w = corpus_width(sf_dir, "lineitem", selectivity=0.25)
    r_keys = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .repartition(w, "l_orderkey")
        .dropDuplicates(["l_orderkey"])
    )
    orders = read_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    return (
        orders.join(r_keys, orders.o_orderkey == r_keys.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


# ---------------------------------------------------------------------------
# Null-aware NOT IN → NAAJ (Q16 shape)
# ---------------------------------------------------------------------------


@query(
    "notin_supplier_variety_q16",
    oracle="""
    SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p_brand, p_type, p_size
    """,
)
def notin_supplier_variety_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (lineitem stands in for partsupp): single-column
    NOT IN over a subquery. Spark plans the filter as a null-aware anti
    join (NAAJ, broadcast) — the semantics (whole result empties if the
    subquery yields a NULL) cannot be written as a plain anti join. The
    excluded-supplier list is tiny and broadcasts; part is a broadcast dim.

    The distinct-count runs REDUCE-SIDE over a corpus-scaled key
    repartition instead of SQL count(DISTINCT): the (brand, type, size,
    suppkey) key barely deduplicates (measured 1.06:1 at sf0.1/sf10 —
    distinct combos ≈ filtered row count), which makes map-side partial
    aggregation a pure loss — at sf100 each of 32 concurrent scan tasks
    grew a ~19M-entry string-keyed hash map inside
    hashAgg_doAggregateWithKeys and heap-OOM'd the JVM before spill could
    engage (caught by the r7 full-registry audit; the sparse_shingle
    lesson — 'map-side combine loses nothing when keys are mostly unique —
    pre-partition on the exact key' — applied to a relational shape). At or
    below the session default width the repartition IS the distinct's own
    exchange, so small corpora pay nothing.

    r11 narrow-key rewrite (optimization guide §2.3 — shuffle fewer
    bytes): (brand, type, size) is functionally determined by p_partkey,
    so the heavy distinct exchange now carries ``bk =
    xxhash64(p_brand, p_type, p_size)`` — one 8-byte long — instead of
    the three attribute strings (~45 B/row → 16 B/row across the
    corpus-width exchange AND its per-task sorts; string sort keys are
    what thrashed the execution pool in the sparse_shingle sf100
    post-mortem). Grouping by the hash equals grouping by the strings
    unless two of the ~7k observed (b,t,s) combos collide in 64 bits
    (P ≈ 7k²/2^65 ≈ 1e-12 — the sparse_shingle/distinct_ngram
    portability rule; the hash never reaches the output). The attribute
    strings are restored by joining the 7k-row distinct (b,t,s, bk) dim
    AFTER the per-group count — an aggregated (reducing-node) relation
    the planner broadcasts from stats, never a pinned base-table dim."""
    from ..sources.tables import corpus_width

    _views(spark, sf_dir, "lineitem", "part", "supplier")
    # the 4th hash input is the NULL-pattern bitmask: xxhash64 SKIPS null
    # columns (the hash state is unchanged), so without it the distinct
    # null patterns ('B', NULL, 5) and (NULL, 'B', 5) would merge into
    # one bk deterministically — a different class from the documented
    # random 64-bit collision. Attributes are non-null in this corpus
    # (bk values change, outputs don't), but the surrogate must not be
    # wrong-by-construction on a null-keyed one.
    null_mask = (
        F.col("p_brand").isNull().cast("int") * 4
        + F.col("p_type").isNull().cast("int") * 2
        + F.col("p_size").isNull().cast("int")
    )
    bk = F.xxhash64("p_brand", "p_type", "p_size", null_mask)
    filtered = spark.sql(
        """
        SELECT p_brand, p_type, p_size, l_suppkey
        FROM lineitem JOIN part ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#1'
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        """
    ).select(bk.alias("bk"), "l_suppkey")
    w = corpus_width(sf_dir, "lineitem")
    pairs = filtered.repartition(w, "bk", "l_suppkey").dropDuplicates(
        ["bk", "l_suppkey"]
    )
    counts = pairs.groupBy("bk").agg(F.count("l_suppkey").alias("supplier_cnt"))
    btsdim = (
        read_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") != "Brand#1")
        .select("p_brand", "p_type", "p_size")
        .distinct()
        .select("p_brand", "p_type", "p_size", bk.alias("bk"))
    )
    return counts.join(btsdim, "bk").select(
        "p_brand", "p_type", "p_size", "supplier_cnt"
    )


# ---------------------------------------------------------------------------
# Correlated scalar aggregate (Q17 shape)
# ---------------------------------------------------------------------------


@query(
    "correlated_avg_small_orders_q17",
    oracle=f"""
    SELECT round({fixed_sum_sql("l_extendedprice", 2)} / 7.0, 2) AS avg_yearly
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3'
      AND l.l_quantity < 0.2 * (SELECT avg(l2.l_quantity) FROM lineitem l2
                                WHERE l2.l_partkey = l.l_partkey)
    """,
)
def correlated_avg_small_orders_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: per-row comparison against a correlated per-part
    average. Decorrelated by hand on the engine side: ONE pass computes
    per-part avg(quantity) (60k-row shuffle → |parts| rows), which then
    broadcasts back onto lineitem — versus the naive correlated form that
    re-scans lineitem per row. avg(qty) is a sum of small integers in double
    (exact, order-independent), so the 0.2·avg threshold is bit-identical
    across engines and the filter is deterministic."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    per_part = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    return (
        # part is unhinted (q18 rule: corpus-scaled — planner stats decide)
        li.join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(per_part.withColumnRenamed("l_partkey", "pp_partkey")),
              F.col("l_partkey") == F.col("pp_partkey"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(*fixed_sum_aggs("total", "l_extendedprice", 2))
        .select(F.expr(f"round({fixed_sum_value_sql('total', 2)} / 7.0, 2) AS avg_yearly"))
    )


# ---------------------------------------------------------------------------
# IN over aggregated subquery / HAVING (Q18 shape)
# ---------------------------------------------------------------------------


@query(
    "having_in_large_orders_q18",
    oracle="""
    SELECT c.c_name, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS orderdate,
           o.o_totalprice,
           CAST(sq.sum_qty AS DOUBLE) AS sum_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN (SELECT l_orderkey, sum(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300) sq
      ON sq.l_orderkey = o.o_orderkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
)
def having_in_large_orders_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: `o_orderkey IN (SELECT … HAVING sum > 300)`,
    decorrelated to aggregate-then-join. sum(l_quantity) partial-aggregates
    map-side; the >300 filter drops ~99.7% of orders BEFORE the join, so
    the join probe side is tiny (46 orders at sf0.01). Broadcast decisions
    are AQE's, NOT forced: the filtered side's size is only knowable from
    runtime shuffle stats (AQE converts the join to broadcast dynamically
    when it fits), and a hard F.broadcast(customer) pin — correct-looking
    at bench scale where customer is 15k rows — tried to build a 15M-row
    driver-side hash relation at sf100 and died with "Not enough memory to
    build and broadcast" mid-sweep (r8 audit). A dimension that scales
    WITH the corpus is not a broadcast dim; only AQE sees the difference.
    Quantities are small integers — double sums are exact, the 300
    threshold and the output value are engine-stable."""
    large = (
        read_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 300)
    )
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    return (
        orders.join(large, orders.o_orderkey == large.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("orderdate"),
            "o_totalprice",
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# EXISTS + NOT EXISTS on the same fact (Q21 shape)
# ---------------------------------------------------------------------------

# Map-side/reduce-side branch point for q21's level-1 aggregate: below this
# on-disk lineitem size the map-side partial agg's near-input-share hash maps
# fit comfortably (sf10 = 1.0 GB, measured 16.9 s map-side vs 28.1 s forced
# reduce-side); above it they are the r9 heap-OOM class (sf100 = 10.8 GB).
# 2 GiB = 2x the largest measured-SAFE input, so the margin is symmetric to
# MEASUREMENTS on both sides (ADVICE r10: the earlier 4 GiB cap was margined
# against the measured FAILURE point, which let a 2-4 GiB input run the
# hazardous map-side branch in unmeasured territory; a ~sf20-sf40 corpus now
# takes the reduce-side branch, whose only cost is the measured ~1.7x
# small-scale slowdown, never an OOM). The hazard scales with input bytes vs
# the fixed shared heap, like retrieval._SPARSE_PIN_BYTES.
_Q21_MAPSIDE_CAP_BYTES = 2 << 30


@query(
    "exists_sole_blame_suppliers_q21",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name
    """,
)
def exists_sole_blame_suppliers_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (returnflag stands in for receipt-late): keep 'R'
    lines whose order has OTHER suppliers (EXISTS) but no OTHER supplier
    with an 'R' line (NOT EXISTS). One pass, no self-join, no broadcast of
    anything fact-sized:

    1. level-1 aggregate to (orderkey, suppkey, r_lines). PAST a byte gate
       (lineitem > ``_Q21_MAPSIDE_CAP_BYTES`` = 2 GiB on disk) it runs
       REDUCE-SIDE behind an explicit
       orderkey repartition at corpus-scaled width (the Q16/pagerank
       pattern, 4th consumer): (orderkey, suppkey) barely deduplicates
       (~1.3 lines per pair), so a map-side partial agg grows a
       near-input-share hash map in EVERY concurrent scan task — at
       sf100 (600M rows) that stack of concurrent partial maps plus the
       downstream 32-partition window sort heap-OOM'd the r9 sweep
       (passed r8 at 105 s — it was marginal, not safe). Partitioning by
       orderkey ALONE satisfies the pair-key clustering (same order ⇒
       same partition ⇒ same pair co-located), so ONE exchange serves the
       aggregate AND step 2's window, and both run in corpus_width-bounded
       tasks. BELOW the gate the repartition is skipped (the sparse-cosine
       ``at_scale`` pattern): r9 measured the unconditional reduce-side
       form at 28.1 s fresh sf10 vs 16.9 s for map-side — at 1 GB input
       the concurrent partial maps are harmless and map-side combine +
       the pair-key exchange win; the docstring's earlier claim that the
       repartition "IS the aggregate's own exchange" at small SF was
       wrong in measurement (the narrow forced width and lost combine
       cost ~11 s). The 2 GiB cap is 2× the largest measured-SAFE
       map-side input (sf10's 1.0 GB) — margined to measurements, not to
       the r9 failure point (see the constant's comment; ADVICE r10);
       unknown table bytes (0) take the conservative at-scale branch;
    2. per-order supplier counts (n_supp, n_r_supp) as WINDOW aggregates
       over the level-1 rows — reuses the orderkey partitioning, no second
       fact shuffle and no Expand (an earlier form used two countDistinct
       aggregates, which Spark plans as a 3× row Expand, and then
       broadcast the |orders|-sized result — hundreds of MB at sf10);
    3. a supplier qualifies in an order iff it has R lines (r_lines > 0),
       others exist (n_supp > 1), and it is the SOLE R supplier
       (n_r_supp == 1); its R lines all count, so numwait per supplier is
       sum(r_lines) over qualifying orders — only the tiny supplier dim is
       broadcast for names."""
    from pyspark.sql import Window

    from ..sources.tables import corpus_width, table_bytes

    li = read_table(spark, sf_dir, "lineitem")
    li_bytes = table_bytes(sf_dir, "lineitem")
    at_scale = li_bytes == 0 or li_bytes > _Q21_MAPSIDE_CAP_BYTES
    src = (
        li.repartition(corpus_width(sf_dir, "lineitem"), "l_orderkey") if at_scale else li
    )
    lvl1 = (
        src.groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("r_lines")
        )
    )
    w = Window.partitionBy("l_orderkey")
    lvl2 = lvl1.select(
        "l_suppkey",
        "r_lines",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum((F.col("r_lines") > 0).cast("int")).over(w).alias("n_r_supp"),
    )
    supp = read_table(spark, sf_dir, "supplier")
    return (
        lvl2.filter((F.col("r_lines") > 0) & (F.col("n_supp") > 1) & (F.col("n_r_supp") == 1))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.sum("r_lines").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
    )


# ---------------------------------------------------------------------------
# Scalar subquery + anti join (Q22 shape)
# ---------------------------------------------------------------------------


@query(
    "scalar_anti_dormant_wealthy_q22",
    oracle="""
    SELECT n.n_name, count(*) AS numcust, round(sum(c.c_acctbal), 2) AS totacctbal
    FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def scalar_anti_dormant_wealthy_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: uncorrelated scalar subquery (global positive-balance
    average) + NOT EXISTS anti join (no recent orders). The scalar reduces to
    one row and joins as a broadcast nested loop (a literal at scale); the
    anti join shuffles only custkeys of recent orders. acctbal is 2-dp money:
    sum of exact 2-dp doubles ~1e3 rows is within 1e-9 of the grid, rounded
    identically on both engines.

    avg threshold note: avg(c_acctbal) = exact-sum / count only when the sum
    is order-independent — 2-dp values are NOT exactly representable, so the
    engine computes the threshold via the same sum(…)/count shape DuckDB
    uses; both engines sum the identical doubles in any order within 1e-10
    of each other, and no customer balance sits that close to the threshold
    (min gap is ~0.01)."""
    cust = read_table(spark, sf_dir, "customer")
    nation = read_table(spark, sf_dir, "nation")
    recent = (
        read_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp"))
        .select("o_custkey")
    )
    thresh = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        cust.join(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# Scalar max over an aggregated view (Q15 shape)
# ---------------------------------------------------------------------------


@query(
    "top_revenue_suppliers_q15",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,6))) AS DOUBLE)
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def top_revenue_suppliers_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: a view aggregated from the fact, re-used both for the
    scalar MAX subquery and the final join — classic "argmax against a
    derived relation". Revenue uses exact DECIMAL sums so the equality
    against max() is well-defined cross-engine (double sums would make
    `=` flaky); decimal cost is irrelevant at |suppliers| rows. The per-
    supplier aggregate is computed once (cached lineage is tiny), max() is a
    1-row broadcast, supplier is a broadcast dim — no extra fact scans."""
    li = read_table(spark, sf_dir, "lineitem")
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(30,6)"))
            .alias("rev_dec")
        )
    )
    mx = revenue.agg(F.max("rev_dec").alias("max_rev"))
    supp = read_table(spark, sf_dir, "supplier")
    return (
        revenue.join(F.broadcast(mx))
        .filter(F.col("rev_dec") == F.col("max_rev"))
        .join(supp, F.col("supplier_no") == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("rev_dec").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


# ---------------------------------------------------------------------------
# Group HAVING vs global scalar fraction (Q11 shape)
# ---------------------------------------------------------------------------


@query(
    "having_value_parts_q11",
    oracle="""
    SELECT l_partkey,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(30,6))) AS DOUBLE) AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(CAST(l_extendedprice AS DECIMAL(30,6)))
         > 0.0007 * (SELECT sum(CAST(l_extendedprice AS DECIMAL(30,6))) FROM lineitem)
    ORDER BY part_value DESC, l_partkey
    """,
)
def having_value_parts_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-group value compared against a fraction of the
    global total (uncorrelated scalar aggregate). Engine computes the global
    total by RE-AGGREGATING the per-part partials (a second tiny groupBy over
    |parts| rows, NOT a second fact scan) and broadcasts the 1-row result.
    Exact decimal sums make the 0.0007·total threshold deterministic; the
    comparison happens in decimal before the double cast-out."""
    li = read_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(30,6)")).alias("val_dec")
    )
    total = per_part.agg(F.sum("val_dec").alias("total_dec"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("val_dec") > F.lit(0.0007).cast("decimal(10,6)") * F.col("total_dec"))
        .select("l_partkey", F.col("val_dec").cast("double").alias("part_value"))
        .orderBy(F.desc("part_value"), "l_partkey")
    )


# ---------------------------------------------------------------------------
# Left-join count distribution (Q13 shape)
# ---------------------------------------------------------------------------


@query(
    "count_distribution_q13",
    oracle="""
    SELECT c_count, count(*) AS custdist
    FROM (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                            AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey) sub
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def count_distribution_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: count-of-counts with a filtered LEFT join (the filter
    lives in the join condition, not WHERE — customers with zero qualifying
    orders must survive with c_count=0). First agg groups on custkey (the
    join key — reuses the exchange), second agg is over |customers| rows."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    joined = cust.join(
        orders,
        (cust.c_custkey == orders.o_custkey) & (orders.o_orderpriority != "1-URGENT"),
        "left",
    )
    return (
        joined.groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


# ---------------------------------------------------------------------------
# Conditional aggregation (Q14 shape)
# ---------------------------------------------------------------------------


@query(
    "promo_revenue_q14",
    oracle=f"""
    SELECT round(
             100.0 * {fixed_sum_sql("CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 4)}
                   / {fixed_sum_sql("l_extendedprice * (1 - l_discount)", 4)}, 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    """,
)
def promo_revenue_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: CASE-WHEN conditional aggregate ratio (promo share of
    revenue for one ship month). part broadcasts; both sums ride the same
    partial aggregate (one pass); fixedpoint longs keep the ratio bit-stable
    cross-engine."""
    li = read_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-02-01 00:00:00").cast("timestamp"))
    )
    part = read_table(spark, sf_dir, "part")
    promo = "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END"
    return (
        # part is unhinted (q18 rule: corpus-scaled — planner stats decide)
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            *fixed_sum_aggs("promo", promo, 4),
            *fixed_sum_aggs("total", "l_extendedprice * (1 - l_discount)", 4),
        )
        .select(
            F.expr(
                f"round(100.0 * {fixed_sum_value_sql('promo', 4)}"
                f" / {fixed_sum_value_sql('total', 4)}, 4) AS promo_revenue_pct"
            )
        )
    )


# ---------------------------------------------------------------------------
# Disjunctive predicate pushdown (Q19 shape)
# ---------------------------------------------------------------------------


@query(
    "disjunctive_revenue_q19",
    oracle=f"""
    SELECT {fixed_sum_sql("l_extendedprice * (1 - l_discount)", 4)} AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
    """,
)
def disjunctive_revenue_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of conjunctions spanning both join sides. Catalyst
    factors the single-table conjuncts out of the disjunction and pushes
    them to the scans (part: brand IN (…); lineitem: quantity ranges) so the
    join inputs shrink before the broadcast hash join; the residual mixed
    predicate evaluates post-join in codegen."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return (
        # part is unhinted (q18 rule: corpus-scaled — planner stats decide)
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(*fixed_sum_aggs("revenue", "l_extendedprice * (1 - l_discount)", 4))
        .select(fixed_sum_value("revenue", 4))
    )
