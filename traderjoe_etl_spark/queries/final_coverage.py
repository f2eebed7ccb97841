"""Final round-1 coverage: exact percentiles/median, NULL-ordering
semantics, array scalar ops, SCD2 snapshot versioning."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table, table_bytes
from . import query


def _exact_percentile_regime(sf_dir: str) -> bool:
    """True when lineitem is inside approx_percentiles' accuracy-1e5
    exact regime (rank error n/accuracy < 1), i.e. the byte gate the
    engine side switches on — the oracle is only valid there."""
    return 0 < table_bytes(sf_dir, "lineitem") <= (4 << 20)


@query(
    "percentiles_by_flag",
    oracle="""
    SELECT l_returnflag,
           median(l_quantity)                              AS med_qty,
           round(quantile_cont(l_quantity, 0.9), 6)        AS p90_qty,
           round(quantile_cont(l_extendedprice, 0.5), 6)   AS med_price,
           round(min(l_quantity), 2)                       AS min_qty,
           round(max(l_quantity), 2)                       AS max_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact median + continuous percentiles (both engines interpolate
    identically — verified). The approx_percentile variant is the scale
    path (single-pass sketch) and is rows-only by nature."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.median("l_quantity").alias("med_qty"),
        F.round(F.percentile("l_quantity", 0.9), 6).alias("p90_qty"),
        F.round(F.percentile("l_extendedprice", 0.5), 6).alias("med_price"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
    )


@query(
    "nulls_ordering_topk",
    oracle="""
    WITH gaps AS (
        SELECT o_custkey, o_orderkey,
               CAST(date_diff('day', o_orderdate,
                    lead(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey)) AS BIGINT)
                   AS days_to_next
        FROM orders
    )
    SELECT o_custkey, o_orderkey, days_to_next
    FROM gaps
    ORDER BY days_to_next DESC NULLS LAST, o_orderkey
    LIMIT 20
    """,
)
def nulls_ordering_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS LAST ordering — a cross-engine trap pinned down:
    Spark defaults nulls FIRST on desc, DuckDB nulls LAST; both sides say
    it explicitly so the result sets agree."""
    orders = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.to_date(F.lead("o_orderdate").over(w)), F.to_date("o_orderdate"))
        .cast("long")
        .alias("days_to_next"),
    )
    return gaps.orderBy(F.col("days_to_next").desc_nulls_last(), "o_orderkey").limit(20)


@query(
    "array_scalar_ops",
    oracle="""
    SELECT vec_id,
           len(embedding)                                             AS dim,
           round(CAST(embedding[1]  AS DOUBLE), 6)                    AS first_val,
           round(CAST(embedding[-1] AS DOUBLE), 6)                    AS last_val,
           round(list_sum(list_transform(embedding[1:4], x -> CAST(x AS DOUBLE))), 6) AS sum_first4,
           round(CAST(list_max(embedding) AS DOUBLE), 6)              AS max_val
    FROM embeddings
    """,
)
def array_scalar_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array scalar surface: size / element_at (positive + negative index) /
    slice + aggregate / array_max (SURVEY.md §2B array fns)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_val"),
        F.round(F.element_at("embedding", -1).cast("double"), 6).alias("last_val"),
        F.round(
            F.aggregate(
                F.slice("embedding", 1, 4), F.lit(0.0), lambda a, x: a + x.cast("double")
            ),
            6,
        ).alias("sum_first4"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_val"),
    )


@query(
    "approx_percentiles",
    oracle="""
    WITH ranked AS (
        SELECT l_returnflag,
               l_extendedprice AS v,
               ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice) AS rn,
               COUNT(*)    OVER (PARTITION BY l_returnflag)                           AS n
        FROM lineitem
    )
    SELECT l_returnflag,
           MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.5  * n) AS BIGINT)) THEN v END) AS approx_median_price,
           MAX(CASE WHEN rn = GREATEST(1, CAST(CEIL(0.99 * n) AS BIGINT)) THEN v END) AS approx_p99_price
    FROM ranked
    GROUP BY l_returnflag
    """,
    oracle_gate=_exact_percentile_regime,
)
def approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (single-pass Greenwald-Khanna summary) — the
    100-TB quantile path; the exact sort-based twin is percentiles_by_flag.

    Exact-regime oracle (the kll_quantile_rollup / theta_sketch_setops
    rule), with a SIZE-GATED accuracy LADDER because GK per-row insert
    cost grows superlinearly with sketch capacity — NOT with group
    count, and not from ambient sweep pressure (r8 fresh-session sf100
    anatomy, 600M rows: scan floor 4.8 s; groupBy(flag).count 3.1 s;
    acc=1e3 42.1 s; acc=1e4 UNGROUPED 240.3 s vs grouped 275.5 s — the
    r7 audit's 48.8x "anomaly" was real and is this insert cost). The
    compress pass every ~50k inserts touches the whole sampled array,
    whose length scales with accuracy, so cost/row rises ~6x from 1e3
    to 1e4 and a blanket 1e5 was measured as a scale killer (35.7 s at
    sf10, 1e6 never finished — caught live in r7).

    Ladder (capacity sized to the corpus, the way a real user sizes a
    sketch to an error budget):
      * lineitem <= 4 MB (oracle scale, <=170k rows): accuracy 1e5 —
        rank error n/accuracy < 1, so the answer IS the exact order
        statistic at 1-indexed rank ceil(q*n) (verified empirically at
        sf0.01; the differential sweep only evaluates the oracle here);
      * <= 2 GB (~60M rows): 1e4 — documented +-n*1e-4 rank estimate;
      * above: 1e3 — +-0.1% rank error (p99 lands in [p98.9, p99.1]),
        sf100 runs ~42 s instead of 275 s and the sf10->sf100 growth is
        ~3.8x on 10x data.
    Escape hatch when v's distinct count << n (true of this synthetic
    corpus: 583k distinct prices over 600M rows): pre-aggregate per
    (group, v) counts and take EXACT weighted quantiles via the
    distributed prefix scan — the weighted_quantiles_price query is
    that path; the sketch is the right tool when values are continuous
    and any per-value pre-agg would not shrink the relation."""
    li = read_table(spark, sf_dir, "lineitem")
    lb = table_bytes(sf_dir, "lineitem")
    acc = 100000 if 0 < lb <= (4 << 20) else (10000 if lb <= (2 << 30) else 1000)
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", 0.5, acc).alias("approx_median_price"),
        F.approx_percentile("l_extendedprice", 0.99, acc).alias("approx_p99_price"),
    )


@query(
    "bucketed_colocated_join",
    oracle="""
    SELECT c_mktsegment,
           count(*)                        AS n_orders,
           round(avg(o_totalprice), 4)     AS avg_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c_mktsegment
    """,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via same-key bucketed tables (the
    repeated-join answer at 100 TB: pay the shuffle once at write time).
    tests/test_bucketing.py asserts the plan has no shuffle Exchange; the
    oracle is the equivalent PLAIN join — bucketing must not change
    results, so the hash match is the 'bucketed ≡ unbucketed' proof
    (VERDICT r01 next-step #2)."""
    from ..operators.bucketing import bucketed_join, save_bucketed

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    save_bucketed(orders.withColumnRenamed("o_custkey", "custkey"), "q_b_orders", "custkey")
    save_bucketed(cust.withColumnRenamed("c_custkey", "custkey"), "q_b_customer", "custkey")
    j = bucketed_join(spark, "q_b_orders", "q_b_customer", "custkey")
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
    )


@query(
    "scd2_snapshot_versions",
    oracle="""
    WITH base AS (
        SELECT o_custkey AS pair_key,
               round(sum(o_totalprice), 2) AS position_value
        FROM orders GROUP BY o_custkey
    )
    -- batch-0 rows: even keys get closed at 01:00, odd keys stay current
    SELECT pair_key, position_value,
           '2026-01-01 00:00:00' AS valid_from,
           CASE WHEN pair_key % 2 = 0 THEN '2026-01-01 01:00:00' END AS valid_to,
           (pair_key % 2 = 1) AS is_current
    FROM base
    UNION ALL
    -- new open versions of the changed (even) keys
    SELECT pair_key, position_value + 1.0,
           '2026-01-01 01:00:00', NULL, true
    FROM base WHERE pair_key % 2 = 0
    UNION ALL
    -- the brand-new key inserted by batch 1
    SELECT 999999, 123.45, '2026-01-01 01:00:00', NULL, true
    """,
)
def scd2_snapshot_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 versioning of the snapshot table (K1 generalized to a
    warehouse dimension): derive batch-0/batch-1 pool states from orders,
    merge, return the full version history with validity ranges.

    The oracle is the lag/lead-free closed form of the expected history
    (each key's fate is determined by parity), so the hash match checks the
    merge semantics end to end — closed rows carry valid_to = new ts, new
    versions open at 01:00, untouched keys keep their original row."""
    from ..operators.scd import scd2_init, scd2_merge

    orders = read_table(spark, sf_dir, "orders")
    base = orders.groupBy(F.col("o_custkey").alias("pair_key")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("position_value"),
        F.max("o_orderdate").alias("ts"),
    )
    batch0 = base.withColumn("ts", F.to_timestamp(F.lit("2026-01-01 00:00:00")))
    # batch 1: half the keys change value, a synthetic new key appears.
    # +1.0 (exact double add on the 2dp grid), NOT round(x*1.1, 2) — a
    # re-round on a coarse grid lands on .005 ties where engines disagree.
    changed = base.filter(F.col("pair_key") % 2 == 0).withColumn(
        "position_value", F.col("position_value") + F.lit(1.0)
    )
    newkey = spark.createDataFrame(
        [(999999, 123.45)], "pair_key long, position_value double"
    ).withColumn("ts", F.lit(None).cast("timestamp"))
    batch1 = (
        changed.unionByName(base.filter(F.col("pair_key") % 2 == 1))
        .unionByName(newkey.select("pair_key", "position_value", "ts"))
        .withColumn("ts", F.to_timestamp(F.lit("2026-01-01 01:00:00")))
    )
    cur = scd2_init(batch0, "ts")
    merged = scd2_merge(cur, batch1, keys=["pair_key"], compare_cols=["position_value"], ts_col="ts")
    return merged.select(
        "pair_key",
        "position_value",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "is_current",
    )


def _profile_oracle() -> str:
    """DuckDB twin of operators.profiling.profile_columns over the derived
    events frame: one UNION ALL block per column."""
    ev = """(SELECT event_id, user_id, event_type, value,
                    CASE WHEN value >= 10 THEN value END AS value_nullable,
                    strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts_str
             FROM events)"""
    num_cols = ["event_id", "user_id", "value", "value_nullable"]
    str_cols = ["event_type", "ts_str"]
    blocks = []
    for c in num_cols + str_cols:
        is_num = c in num_cols
        minmax = (
            f"CAST(min({c}) AS DOUBLE) AS min_num, CAST(max({c}) AS DOUBLE) AS max_num,\n"
            f"  round(avg({c}), 4) AS avg_num,\n"
            "  CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str"
            if is_num
            else "CAST(NULL AS DOUBLE) AS min_num, CAST(NULL AS DOUBLE) AS max_num,\n"
            "  CAST(NULL AS DOUBLE) AS avg_num,\n"
            f"  min({c}) AS min_str, max({c}) AS max_str"
        )
        blocks.append(
            f"""SELECT '{c}' AS "column", count(*) AS n_rows, count({c}) AS n_nonnull,
  round((count(*) - count({c})) / CAST(nullif(count(*), 0) AS DOUBLE), 6) AS null_frac,
  count(DISTINCT {c}) AS n_distinct,
  {minmax}
FROM {ev}"""
        )
    return "\nUNION ALL\n".join(blocks)


@query("column_profile_events", oracle=_profile_oracle())
def column_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile over events (+ a deterministically
    nullified value column so the null-counting path has real evidence —
    the raw tables carry no NULLs): non-null/null-frac/min/max/avg in ONE
    aggregate over ONE scan plus one narrow exact-distinct aggregate per
    column (operators/profiling.py)."""
    from ..operators.profiling import profile_columns

    ev = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        "value",
        F.when(F.col("value") >= 10, F.col("value")).alias("value_nullable"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts_str"),
    )
    return profile_columns(ev)


@query(
    "fuzzy_name_matches",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
    FROM names a
    JOIN names b
      ON a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= 3
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def fuzzy_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution primitive: typo-level name matching by edit
    distance. The pair space is the DISTINCT name set (cardinality ≪ row
    count — aggregate first, then match), with a length-band blocking
    predicate (|len diff| ≤ 3 is a necessary condition of lev ≤ 3) so the
    quadratic levenshtein only runs inside bands — the same
    block-then-verify discipline as the MinHash/SimHash dedup family."""
    part = read_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    return (
        a.join(
            b,
            (F.col("name_a") < F.col("name_b"))
            & (
                F.abs(F.length("name_a") - F.length("name_b")) <= 3
            ),
        )
        .withColumn("dist", F.levenshtein("name_a", "name_b").cast("int"))
        .filter(F.col("dist") <= 3)
    )


@query(
    "array_set_ops",
    oracle="""
    WITH per_order AS (
        SELECT l_orderkey,
               list_sort(list_distinct(list(l_suppkey))) AS all_supps,
               list_sort(list_distinct(coalesce(
                   list(l_suppkey) FILTER (l_returnflag = 'R'), []))) AS ret_supps
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           len(all_supps)                                          AS n_supps,
           len(ret_supps)                                          AS n_ret_supps,
           coalesce(array_to_string(list_sort(list_filter(all_supps,
               x -> NOT list_contains(ret_supps, x))), ','), '')   AS clean_supps,
           coalesce(array_to_string(list_sort(list_filter(all_supps,
               x -> list_contains(ret_supps, x))), ','), '')       AS overlap_supps
    FROM per_order
    """,
)
def array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array set algebra — array_except / array_intersect over per-group
    collect_set results (suppliers per order vs suppliers with returned
    lines), rendered as sorted CSV so the oracle's list functions check
    the same values. One groupBy; the set ops are per-row JVM HOFs."""
    li = read_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("all_supps"),
        F.array_sort(
            F.collect_set(F.when(F.col("l_returnflag") == "R", F.col("l_suppkey")))
        ).alias("ret_supps"),
    )
    render = lambda c: F.concat_ws(",", F.transform(c, lambda x: x.cast("string")))
    return per_order.select(
        "l_orderkey",
        F.size("all_supps").alias("n_supps"),
        F.size("ret_supps").alias("n_ret_supps"),
        render(F.array_sort(F.array_except("all_supps", "ret_supps"))).alias("clean_supps"),
        render(F.array_sort(F.array_intersect("all_supps", "ret_supps"))).alias("overlap_supps"),
    )


@query(
    "nested_collections",
    oracle="""
    WITH per AS (
        SELECT l_orderkey,
               CAST(count(*) AS BIGINT) AS n_lines,
               list_sort(list_distinct(coalesce(
                   list(l_suppkey) FILTER (l_returnflag = 'R'), []))) AS rs
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey,
           u.rsupp AS returned_supp,
           '{"okey":' || l_orderkey || ',"n_lines":' || n_lines || '}' AS meta_json
    FROM per, unnest(CASE WHEN len(rs) = 0 THEN [NULL] ELSE rs END) AS u(rsupp)
    """,
)
def nested_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-preserving explode (explode_outer — orders with no returned
    lines keep one NULL row, where plain explode would drop the order)
    plus to_json struct serialization, checked byte-for-byte against a
    string-constructed oracle twin. The exploded array comes from a
    collect_set aggregate, so the Generate runs over per-order rows."""
    li = read_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.array_sort(
            F.collect_set(F.when(F.col("l_returnflag") == "R", F.col("l_suppkey")))
        ).alias("rs"),
    )
    return per.select(
        "l_orderkey",
        F.explode_outer("rs").alias("returned_supp"),
        F.to_json(
            F.struct(F.col("l_orderkey").alias("okey"), F.col("n_lines").alias("n_lines"))
        ).alias("meta_json"),
    )
