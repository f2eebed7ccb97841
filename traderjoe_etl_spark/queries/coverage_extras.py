"""Coverage queries closing the remaining SURVEY.md §2B gaps: right/full
outer joins, GROUPING SETS, range-frame windows, from_json struct parsing,
and the pandas-UDF surface."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..scratch import scratch_dir
from ..sources.tables import read_table
from . import query


@query(
    "full_outer_nation_presence",
    oracle="""
    SELECT coalesce(c.n, s.n) AS n_nationkey,
           coalesce(c.n_cust, 0) AS n_cust,
           coalesce(s.n_supp, 0) AS n_supp
    FROM (SELECT c_nationkey AS n, count(*) AS n_cust FROM customer GROUP BY 1) c
    FULL OUTER JOIN (SELECT s_nationkey AS n, count(*) AS n_supp FROM supplier GROUP BY 1) s
      ON c.n = s.n
    """,
)
def full_outer_nation_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates (both-sides-preserved semantics)."""
    cust = read_table(spark, sf_dir, "customer").groupBy(F.col("c_nationkey").alias("n")).agg(
        F.count(F.lit(1)).alias("n_cust")
    )
    supp = read_table(spark, sf_dir, "supplier").groupBy(F.col("s_nationkey").alias("n")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    j = cust.join(supp, "n", "full_outer")
    return j.select(
        F.col("n").alias("n_nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


@query(
    "right_join_parts_in_lineitem",
    oracle="""
    SELECT p.p_partkey, p.p_brand,
           count(l.l_orderkey) AS n_lineitems
    FROM lineitem l
    RIGHT JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey, p.p_brand
    """,
)
def right_join_parts_in_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT outer join (parts preserved even when never ordered)."""
    li = read_table(spark, sf_dir, "lineitem")
    part = read_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey, "right")
        .groupBy("p_partkey", "p_brand")
        .agg(F.count("l_orderkey").alias("n_lineitems"))
    )


@query(
    "grouping_sets_report",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS qty,
           grouping(l_returnflag) AS g_flag, grouping(l_linestatus) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (not expressible as rollup/cube): per-flag,
    per-status, grand total — via SQL on a temp view. Two-level: the
    finest (flag, status) aggregate runs over the fact rows once; the
    Expand (×3 grouping sets) then processes the handful of pre-summed
    rows. Exact: l_quantity is integral, so the double partials re-sum
    without reassociation error (and far below 2^53)."""
    li = read_table(spark, sf_dir, "lineitem")
    li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("__q")
    ).createOrReplaceTempView("__li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               round(sum(__q), 2) AS qty,
               CAST(grouping(l_returnflag) AS INT) AS g_flag,
               CAST(grouping(l_linestatus) AS INT) AS g_status
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "range_frame_window",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY epoch(ts)
                                  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 4)
               AS hour_trailing_sum
    FROM events
    """,
)
def range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame (value-based, not row-based): trailing 1-hour sum per
    user — duplicate timestamps share the same frame, unlike ROWS."""
    events = read_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").cast("long"))
        .rangeBetween(-3600, Window.currentRow)
    )
    return events.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("hour_trailing_sum"),
    )


@query(
    "from_json_struct",
    oracle="""
    SELECT event_id,
           CAST(json_extract(props, '$.k') AS BIGINT) AS k,
           CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket
    FROM events
    """,
)
def from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with an explicit schema (P1 generalized — the engine's
    json_normalize; struct field access after parse)."""
    events = read_table(spark, sf_dir, "events")
    parsed = events.select(
        "event_id",
        F.from_json("props", T.StructType([T.StructField("k", T.LongType())])).alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        (F.col("p.k") % 10).alias("k_bucket"),
    )


@query(
    "pandas_udf_gini",
    oracle="""
    WITH per_user AS (
        SELECT user_id,
               list_value(
                   count(CASE WHEN event_type = 'view'     THEN 1 END),
                   count(CASE WHEN event_type = 'click'    THEN 1 END),
                   count(CASE WHEN event_type = 'purchase' THEN 1 END),
                   count(CASE WHEN event_type = 'signup'   THEN 1 END),
                   count(CASE WHEN event_type = 'error'    THEN 1 END)) AS counts
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           round(1.0 - list_sum(list_transform(counts,
                 c -> (CAST(c AS DOUBLE) / list_sum(counts)) ** 2)), 6) AS gini
    FROM per_user
    """,
)
def pandas_udf_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered Arrow-batched pandas UDF surface: per-user event-type
    Gini impurity. (The oracle recomputes it with DuckDB list fns — the UDF
    is the engine's escape hatch, not the only expression.)"""
    from ..functions.udfs import gini_impurity, register_udfs

    register_udfs(spark)
    events = read_table(spark, sf_dir, "events")
    counts = events.groupBy("user_id").agg(
        F.array(
            *[
                F.count(F.when(F.col("event_type") == t, 1))
                for t in ("view", "click", "purchase", "signup", "error")
            ]
        ).alias("counts")
    )
    return counts.select("user_id", F.round(gini_impurity("counts"), 6).alias("gini"))


@query(
    "stats_moments",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_quantity), 6)       AS corr_price_qty,
           round(covar_samp(l_extendedprice, l_quantity), 4) AS covar_s,
           round(covar_pop(l_extendedprice, l_quantity), 4)  AS covar_p,
           round(stddev_samp(l_discount), 6)                 AS sd_discount,
           round(var_pop(l_discount), 6)                     AS var_discount,
           round(CAST(median(l_quantity) AS DOUBLE), 4)      AS med_qty,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6)    AS r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate surface: correlation, sample/population
    covariance, stddev/variance, exact median, and the regr_* linear
    regression family — all JVM partial-aggregate built-ins (each is a
    constant-size moment sketch per group; the shuffle carries one row
    per (group, aggregate), so this scales like any hash aggregate).
    median is the one exception: exact-sort based in both engines."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_extendedprice", "l_quantity"), 6).alias("corr_price_qty"),
        F.round(F.covar_samp("l_extendedprice", "l_quantity"), 4).alias("covar_s"),
        F.round(F.covar_pop("l_extendedprice", "l_quantity"), 4).alias("covar_p"),
        F.round(F.stddev_samp("l_discount"), 6).alias("sd_discount"),
        F.round(F.var_pop("l_discount"), 6).alias("var_discount"),
        F.round(F.median("l_quantity").cast("double"), 4).alias("med_qty"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 6).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
    )


@query(
    "bag_set_ops",
    oracle="""
    WITH hi AS (SELECT o_custkey FROM orders WHERE o_totalprice > 100000),
         ur AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
    SELECT 'intersect_all' AS op, o_custkey, count(*) AS n FROM (
        SELECT * FROM hi INTERSECT ALL SELECT * FROM ur
    ) GROUP BY o_custkey
    UNION ALL
    SELECT 'except_all' AS op, o_custkey, count(*) AS n FROM (
        SELECT * FROM hi EXCEPT ALL SELECT * FROM ur
    ) GROUP BY o_custkey
    """,
)
def bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag (multiset) semantics set ops — intersectAll/exceptAll keep
    duplicate multiplicity (min / difference of per-key counts), unlike
    the DISTINCT forms covered by intersect_except_nations. Both compile
    to a single aggregate over a union with per-side counts — no O(n²)
    anti-join; the follow-up count-rollup makes the result deterministic
    regardless of which physical duplicate survives."""
    orders = read_table(spark, sf_dir, "orders")
    hi = orders.filter(F.col("o_totalprice") > 100000).select("o_custkey")
    ur = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    both = (
        hi.intersectAll(ur)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("intersect_all").alias("op"), "o_custkey", "n")
    )
    only_hi = (
        hi.exceptAll(ur)
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.lit("except_all").alias("op"), "o_custkey", "n")
    )
    return both.unionByName(only_hi)


@query(
    "conditional_aggs",
    oracle="""
    SELECT l_returnflag,
           CAST(count_if(l_discount > 0.05) AS BIGINT)  AS n_discounted,
           bool_and(l_quantity > 0)                     AS all_positive_qty,
           bool_or(l_discount > 0.09)                   AS any_deep_discount,
           round(sum(DISTINCT l_quantity), 2)           AS sum_distinct_qty,
           max_by(l_orderkey, l_extendedprice * 100000 + l_orderkey) AS priciest_orderkey,
           min_by(l_orderkey, l_extendedprice * 100000 + l_orderkey) AS cheapest_orderkey
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional/selective aggregate surface: count_if, bool_and/or,
    sum(DISTINCT), max_by/min_by (argmax as an aggregate, not a window).
    The max_by ordering key folds the unique orderkey into the price so
    ties cannot make the result engine-dependent (the key stays integral
    and < 2^53, so the double ranking is exact). All single-pass partial
    aggregates except sum(DISTINCT), which Spark plans as the standard
    two-phase expand."""
    li = read_table(spark, sf_dir, "lineitem")
    rank = F.col("l_extendedprice") * 100000 + F.col("l_orderkey")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_discounted"),
        F.bool_and(F.col("l_quantity") > 0).alias("all_positive_qty"),
        F.bool_or(F.col("l_discount") > 0.09).alias("any_deep_discount"),
        F.round(F.sum_distinct(F.col("l_quantity")), 2).alias("sum_distinct_qty"),
        F.max_by("l_orderkey", rank).alias("priciest_orderkey"),
        F.min_by("l_orderkey", rank).alias("cheapest_orderkey"),
    )


@query(
    "map_collection_ops",
    oracle="""
    WITH m AS (
        SELECT event_type, CAST(month(ts) AS INT) AS mon, count(*) AS cnt
        FROM events GROUP BY event_type, month(ts)
    )
    SELECT event_type,
           CAST(count(*) AS INT) AS n_months,
           CAST(max(CASE WHEN mon = 6 THEN cnt END) AS BIGINT) AS june_cnt,
           string_agg(mon || '=' || cnt, ',' ORDER BY mon) AS by_month
    FROM m
    GROUP BY event_type
    """,
)
def map_collection_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType end-to-end: per event type, a month→count map built with
    map_from_entries(collect_list(struct…)), probed with element_at and
    sized with map_keys — then rendered to a sorted entries string so the
    oracle (which has no portable MAP literal) checks the same values.
    The map is built from pre-aggregated (type, month) counts — collect
    over ≤12 entries per group, never over raw events."""
    events = read_table(spark, sf_dir, "events")
    counts = events.groupBy(
        "event_type", F.month("ts").alias("mon")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    mapped = counts.groupBy("event_type").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("mon", "cnt")))
        ).alias("by_month_map")
    )
    return mapped.select(
        "event_type",
        F.size(F.map_keys("by_month_map")).alias("n_months"),
        F.element_at("by_month_map", F.lit(6)).alias("june_cnt"),
        F.concat_ws(
            ",",
            F.transform(
                F.map_entries("by_month_map"),
                lambda e: F.concat_ws("=", e.key.cast("string"), e.value.cast("string")),
            ),
        ).alias("by_month"),
    )


@query(
    "constraint_check",
    oracle="""
    SELECT CAST(count(*) AS BIGINT)                                   AS n_rows,
           CAST(count_if(o.o_custkey IS NULL) AS BIGINT)              AS null_custkey,
           CAST(count_if(o.o_totalprice <= 0) AS BIGINT)              AS nonpositive_price,
           CAST(count(*) - count(DISTINCT o.o_orderkey) AS BIGINT)    AS dup_orderkeys,
           CAST(count_if(c.c_custkey IS NULL) AS BIGINT)              AS orphan_orders,
           count_if(o.o_custkey IS NULL) = 0
               AND count_if(o.o_totalprice <= 0) = 0
               AND count(*) = count(DISTINCT o.o_orderkey)
               AND count_if(c.c_custkey IS NULL) = 0                  AS all_passed
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def constraint_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate (the validate step every ingestion pipeline runs
    before publishing a batch): null checks, domain check, key
    uniqueness, and referential integrity against the customer dim — ONE
    aggregate over one join pass, so the gate costs a single
    scan plus the key join at any scale. Returns a one-row summary with per-constraint
    violation counts and an overall verdict."""
    from ..sources.tables import corpus_width

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select("c_custkey")
    # customer is unhinted (q18 rule: it scales with the corpus, so a
    # broadcast pin is a scale bug) — the planner's estimate for the
    # single-column projection broadcasts it while small; past the
    # threshold the gate degrades to a shuffled referential check.
    # The o_orderkey repartition is the q16/q21 pattern (5th consumer):
    # count_distinct(o_orderkey) phase-1 groups by a 1:1 key, so its
    # map-side partial would build a near-input-sized hash map in every
    # scan task while deduplicating NOTHING; the exchange carries
    # ~|orders| rows either way, so pre-partitioning moves the maps into
    # corpus_width-bounded tasks at identical shuffle cost. At or below
    # the session default width the repartition IS the distinct phase's
    # own exchange.
    j = orders.join(cust, orders.o_custkey == cust.c_custkey, "left").repartition(
        corpus_width(sf_dir, "orders"), "o_orderkey"
    )
    null_ck = F.count_if(F.col("o_custkey").isNull())
    nonpos = F.count_if(F.col("o_totalprice") <= 0)
    dup = F.count(F.lit(1)) - F.count_distinct("o_orderkey")
    orphan = F.count_if(F.col("c_custkey").isNull())
    return j.agg(
        F.count(F.lit(1)).alias("n_rows"),
        null_ck.alias("null_custkey"),
        nonpos.alias("nonpositive_price"),
        dup.alias("dup_orderkeys"),
        orphan.alias("orphan_orders"),
        ((null_ck == 0) & (nonpos == 0) & (dup == 0) & (orphan == 0)).alias("all_passed"),
    )


@query(
    "xml_parsing",
    oracle="""
    SELECT c_custkey,
           c_custkey       AS parsed_id,
           c_mktsegment    AS parsed_seg,
           CAST(floor(c_acctbal) AS BIGINT) AS parsed_bal
    FROM customer
    """,
)
def xml_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML ingestion surface (Spark 4 from_xml): documents synthesized
    from the customer table are parsed back with an explicit schema, and
    the round-trip identity IS the oracle — the parsed fields must equal
    the source columns, so the check isolates the parser itself (a
    DuckDB XML twin does not exist). Parse runs in the JVM inside the
    scan projection; no UDF."""
    cust = read_table(spark, sf_dir, "customer")
    xml = F.concat(
        F.lit("<cust><id>"), F.col("c_custkey"),
        F.lit("</id><seg>"), F.col("c_mktsegment"),
        F.lit("</seg><bal>"), F.floor("c_acctbal").cast("long"),
        F.lit("</bal></cust>"),
    )
    parsed = cust.select(
        "c_custkey",
        F.from_xml(xml, "id BIGINT, seg STRING, bal BIGINT").alias("p"),
    )
    return parsed.select(
        "c_custkey",
        F.col("p.id").alias("parsed_id"),
        F.col("p.seg").alias("parsed_seg"),
        F.col("p.bal").alias("parsed_bal"),
    )


@query(
    "orc_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC format surface (the second built-in columnar format next to
    parquet): the nation dimension is written to ORC and read back with an
    explicit schema; the round-trip identity IS the oracle (same device as
    xml_parsing — DuckDB reads the parquet original, Spark the ORC copy,
    so the check isolates the format codec). ORC carries the same
    pushdown/pruning contract as parquet in Spark's DataSource V2, so the
    engine's scan discipline transfers unchanged. The copy goes to a
    private scratch directory (``scratch.py``) that the next invocation
    reaps, so repeated invocations do not accumulate files and concurrent
    processes do not overwrite each other's copy."""
    nation = read_table(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    path = scratch_dir("orc_roundtrip_")
    nation.write.format("orc").mode("overwrite").save(path)
    return spark.read.schema("n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT").orc(path)
