"""Statistical data-quality / audit analytics (round 4, session 3):
Benford first-digit fraud screening, a Great-Expectations-style
multi-rule gate in one pass, a chi-square independence test, and the
clamp-at-zero running balance (the canonical non-associative per-key
fold).

All four are engine-portable by the repo's standing discipline: counts
are integers, money is cents (exact int64), the only floats are final
rounded statistics, and every sequential computation is keyed by the
unique (ts, event_id) order over bounded per-key partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.tables import read_table
from . import query


@query(
    "benford_digit_test",
    oracle="""
    WITH cents AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS c
        FROM orders WHERE o_totalprice > 0
    ),
    digits AS (
        SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
               CAST(count(*) AS BIGINT) AS n_obs
        FROM cents GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM digits),
    contrib AS (
        SELECT d.digit, d.n_obs,
               round(t.n * log10(1 + 1.0 / d.digit), 4) AS expected,
               round(pow(d.n_obs - t.n * log10(1 + 1.0 / d.digit), 2)
                     / (t.n * log10(1 + 1.0 / d.digit)), 6) AS chi2_contrib
        FROM digits d CROSS JOIN tot t
    ),
    total AS (SELECT round(sum(chi2_contrib), 6) AS chi2_total FROM contrib)
    SELECT c.digit, c.n_obs, c.expected, c.chi2_contrib, t.chi2_total
    FROM contrib c CROSS JOIN total t
    """,
)
def benford_digit_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit screening on order totals — the
    forensic-accounting / fraud-detection staple: observed leading-digit
    counts vs the Benford expectation N·log10(1+1/d), with per-digit and
    total chi-square statistics.

    Parity discipline: the leading digit comes from the CENTS integer
    cast to a string (first char of a positive int64 — engine-exact),
    NOT from floor(x/10^floor(log10 x)) — log10 of an exact power of 10
    evaluates to 2.9999999999999996-style values whose floor is off by
    one, a real digit-extraction bug class. The chi-square pieces are
    floats but derive from identical integers on both engines; contribs
    round to 6 dp and the total sums the ROUNDED contribs.

    Plan shape: one map-combinable 9-key aggregate over the scan; the
    expectation/statistic algebra runs on 9 rows. Output is 9 rows at
    any corpus size."""
    orders = read_table(spark, sf_dir, "orders")
    cents = orders.filter(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c")
    )
    digits = (
        cents.select(F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    tot = digits.agg(F.sum("n_obs").cast("long").alias("n"))
    exp_raw = F.col("n") * F.log10(F.lit(1) + F.lit(1.0) / F.col("digit"))
    contrib = digits.join(F.broadcast(tot)).select(
        "digit",
        "n_obs",
        F.round(exp_raw, 4).alias("expected"),
        F.round(F.pow(F.col("n_obs") - exp_raw, F.lit(2)) / exp_raw, 6).alias(
            "chi2_contrib"
        ),
    )
    total = contrib.agg(F.round(F.sum("chi2_contrib"), 6).alias("chi2_total"))
    return contrib.join(F.broadcast(total))


_DQ_RULES_SQL = """
    SELECT 'totalprice_positive' AS rule,
           CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM orders
    UNION ALL
    SELECT 'status_domain',
           CAST(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'custkey_notnull',
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orderdate_range',
           CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
                           OR o_orderdate >= TIMESTAMP '2006-01-01' THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'priority_format',
           CAST(sum(CASE WHEN NOT regexp_matches(o_orderpriority, '^[1-5]-[A-Z ]+$')
                         THEN 1 ELSE 0 END) AS BIGINT),
           CAST(count(*) AS BIGINT)
    FROM orders
"""


@query(
    "dq_expectations",
    oracle=f"""
    SELECT rule, n_violations, n_rows,
           CASE WHEN n_violations = 0 THEN true ELSE false END AS passed
    FROM ({_DQ_RULES_SQL})
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-Expectations-style data-quality suite: five declarative
    expectations over the orders feed (positivity, enum domain,
    not-null, date range, format regexp), each reported as
    (rule, violations, rows, passed).

    Plan shape — the part that matters at 100 TB: ALL five rules
    evaluate in ONE scan as conditional aggregates (a single
    map-combinable agg producing five counters), then unpivot via
    stack() into the per-rule report. The oracle's UNION-of-scans form
    is equivalent SQL, but the engine plan reads the fact table exactly
    once — the difference between a 5×-cost QA gate and a free one.
    Integer counts throughout; no float discipline needed."""
    orders = read_table(spark, sf_dir, "orders")
    viol = orders.agg(
        F.sum((F.col("o_totalprice") <= 0).cast("int")).alias("v1"),
        F.sum((~F.col("o_orderstatus").isin("O", "F", "P")).cast("int")).alias("v2"),
        F.sum(F.col("o_custkey").isNull().cast("int")).alias("v3"),
        F.sum(
            (
                (F.col("o_orderdate") < F.lit("1992-01-01"))
                | (F.col("o_orderdate") >= F.lit("2006-01-01"))
            ).cast("int")
        ).alias("v4"),
        F.sum((~F.col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$")).cast("int")).alias("v5"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    stacked = viol.select(
        F.expr(
            "stack(5, 'totalprice_positive', v1, 'status_domain', v2, "
            "'custkey_notnull', v3, 'orderdate_range', v4, "
            "'priority_format', v5) AS (rule, n_violations)"
        ),
        F.col("n").alias("n_rows"),
    )
    return stacked.select(
        "rule",
        F.col("n_violations").cast("long").alias("n_violations"),
        "n_rows",
        (F.col("n_violations") == 0).alias("passed"),
    )


_CHI2_BUCKETS = 4


@query(
    "chi2_independence",
    oracle=f"""
    WITH obs AS (
        SELECT event_type, user_id % {_CHI2_BUCKETS} AS bucket,
               CAST(count(*) AS BIGINT) AS o
        FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, sum(o) AS r FROM obs GROUP BY 1),
    ct AS (SELECT bucket, sum(o) AS c FROM obs GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM obs)
    SELECT round(sum(pow(obs.o - rt.r * ct.c / n.n, 2) / (rt.r * ct.c / n.n)), 4)
               AS chi2,
           CAST((count(DISTINCT obs.event_type) - 1)
                * (count(DISTINCT obs.bucket) - 1) AS BIGINT) AS dof,
           CAST(max(n.n) AS BIGINT) AS n
    FROM obs JOIN rt USING (event_type) JOIN ct USING (bucket) CROSS JOIN n
    """,
)
def chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between event type and a
    user cohort (user_id mod 4) — the categorical-association readout an
    experimentation platform runs beside the z-test (ab_test_zscore's
    sibling for >2 groups).

    Plan shape: ONE corpus-scale aggregate builds the contingency table
    (|types|×|buckets| = 20 cells); row totals, column totals, N, and
    the statistic are all algebra over those 20 rows (broadcast-joined).
    Expected counts derive from identical integers on both engines; the
    20-term float sum rounds to 4 dp — far above the reassociation
    drift."""
    ev = read_table(spark, sf_dir, "events")
    obs = (
        ev.select("event_type", (F.col("user_id") % _CHI2_BUCKETS).alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    rt = obs.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = obs.groupBy("bucket").agg(F.sum("o").alias("c"))
    n = obs.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n")
    return (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "bucket")
        .join(F.broadcast(n))
        .agg(
            F.round(F.sum(F.pow(F.col("o") - e, F.lit(2)) / e), 4).alias("chi2"),
            (
                (F.countDistinct("event_type") - 1) * (F.countDistinct("bucket") - 1)
            ).cast("long").alias("dof"),
            F.max("n").cast("long").alias("n"),
        )
    )


@query(
    "clamped_running_balance",
    oracle="""
    WITH moves AS (
        SELECT user_id, ts, event_id,
               CASE WHEN event_type = 'purchase'
                    THEN CAST(round(value * 100) AS BIGINT)
                    ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
        FROM events WHERE event_type IN ('purchase', 'error')
    ),
    arrs AS (
        SELECT user_id, list(delta ORDER BY ts, event_id) AS ds
        FROM moves GROUP BY 1
    )
    SELECT user_id,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), ds),
                            (acc, x) -> greatest(acc + x, 0)) AS BIGINT)
               AS final_cents,
           CAST(len(ds) AS BIGINT) AS n_moves
    FROM arrs
    """,
)
def clamped_running_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clamp-at-zero running balance per user (purchases credit, errors
    debit, balance floors at 0 — the prepaid-wallet / inventory-level
    semantics): balanceᵢ = max(balanceᵢ₋₁ + Δᵢ, 0).

    This op exists to pin the NON-ASSOCIATIVE fold shape: the clamp
    makes the recurrence order-dependent, so no window frame, prefix
    sum, or two-level decomposition can express it — unlike every other
    running aggregate in the registry. The scalable form is exactly
    this: one user-keyed shuffle, an ordered bounded array per key
    (collect of (rank, delta) structs sorted engine-side), and a single
    sequential aggregate() fold per key — per-key sequential, cross-key
    embarrassingly parallel, the applyInPandasWithState batch analog.
    All-integer cents arithmetic → bit-exact on any engine; the oracle
    replays the identical fold with DuckDB's list_reduce (0-prepended,
    since list_reduce seeds from the first element)."""
    ev = read_table(spark, sf_dir, "events")
    moves = ev.filter(F.col("event_type").isin("purchase", "error")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.col("event_type") == "purchase",
            F.round(F.col("value") * 100).cast("long"),
        )
        .otherwise(-F.round(F.col("value") * 100).cast("long"))
        .alias("delta"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = moves.select("user_id", F.row_number().over(w).alias("rn"), "delta")
    arrs = ranked.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("rn").alias("rn"), F.col("delta").alias("d")))
            ),
            lambda s: s["d"],
        ).alias("ds")
    )
    return arrs.select(
        "user_id",
        F.aggregate(
            F.col("ds"),
            F.lit(0).cast("long"),
            lambda acc, x: F.greatest(acc + x, F.lit(0).cast("long")),
        ).alias("final_cents"),
        F.size("ds").cast("long").alias("n_moves"),
    )


@query(
    "order_reconciliation",
    oracle="""
    WITH li AS (
        SELECT l_orderkey,
               sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                   * (100 - CAST(round(l_discount * 100) AS BIGINT))
                   * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS computed_e6
        FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderkey,
           CAST(round(o.o_totalprice * 100) AS BIGINT) * 10000 AS stated_e6,
           CAST(coalesce(li.computed_e6, 0) AS BIGINT) AS computed_e6,
           CAST(coalesce(li.computed_e6, 0)
                - CAST(round(o.o_totalprice * 100) AS BIGINT) * 10000 AS BIGINT) AS diff_e6
    FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
    ORDER BY abs(coalesce(li.computed_e6, 0)
                 - CAST(round(o.o_totalprice * 100) AS BIGINT) * 10000) DESC,
             o.o_orderkey
    LIMIT 20
    """,
)
def order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Financial reconciliation: recompute each order's total from its
    line items — Σ extendedprice·(1−discount)·(1+tax) — and rank the 20
    largest absolute discrepancies against the stated o_totalprice (the
    ledger-vs-detail consistency audit every finance pipeline runs).

    Integer-exact: prices → cents, rates → integer percent, so the line
    term cents·(100−d)·(100+t) is an exact int64 in 1e-6-dollar units
    (headroom: ~1e11 per line, ~1e12 per order). No float enters the
    comparison, so the discrepancy ranking is bit-stable on any engine
    and any partitioning.

    Plan shape: one map-combinable per-order sum over lineitem, one
    equi-join to orders on the order key (both sides shuffle on the same
    key — co-partitioned at scale; a bucketed layout makes it
    shuffle-free), then TakeOrderedAndProject for the global top-20 (no
    full sort)."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    term = (
        F.round(F.col("l_extendedprice") * 100).cast("long")
        * (F.lit(100) - F.round(F.col("l_discount") * 100).cast("long"))
        * (F.lit(100) + F.round(F.col("l_tax") * 100).cast("long"))
    )
    per_order = li.groupBy("l_orderkey").agg(F.sum(term).alias("computed_e6"))
    stated = F.round(F.col("o_totalprice") * 100).cast("long") * 10000
    joined = orders.join(
        per_order, orders.o_orderkey == per_order.l_orderkey, "left"
    ).select(
        "o_orderkey",
        stated.alias("stated_e6"),
        F.coalesce("computed_e6", F.lit(0)).cast("long").alias("computed_e6"),
        (F.coalesce("computed_e6", F.lit(0)) - stated).cast("long").alias("diff_e6"),
    )
    return joined.orderBy(F.abs(F.col("diff_e6")).desc(), "o_orderkey").limit(20)


@query(
    "source_lang_entropy",
    oracle="""
    WITH c AS (
        SELECT source, lang, CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1, 2
    ),
    tot AS (SELECT source, sum(n) AS nt FROM c GROUP BY 1)
    SELECT c.source,
           CAST(max(tot.nt) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_langs,
           round(-sum((c.n * 1.0 / tot.nt) * ln(c.n * 1.0 / tot.nt)), 6) AS entropy,
           round(exp(-sum((c.n * 1.0 / tot.nt) * ln(c.n * 1.0 / tot.nt))), 4)
               AS effective_langs
    FROM c JOIN tot USING (source)
    GROUP BY c.source
    """,
)
def source_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity report: Shannon entropy of the language
    distribution within each source, plus the "effective number of
    languages" exp(H) — the mixture-balance readout a pre-training data
    committee reads before setting sampling temperatures (the
    temperature_mix_sources companion metric).

    Plan shape: one corpus-scale (source, lang) count (map-combinable),
    then all algebra over the |sources|×|langs| relation with a
    broadcast per-source total. Probabilities derive from identical
    integers on both engines; ln/exp 1-ulp wobble sits under the 6/4-dp
    rounding (the accepted libm class)."""
    docs = read_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = c.groupBy("source").agg(F.sum("n").alias("nt"))
    p = F.col("n") * F.lit(1.0) / F.col("nt")
    h = -F.sum(p * F.log(p))
    return (
        c.join(F.broadcast(tot), "source")
        .groupBy("source")
        .agg(
            F.max("nt").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_langs"),
            F.round(h, 6).alias("entropy"),
            F.round(F.exp(h), 4).alias("effective_langs"),
        )
    )


def _skew_oracle_one(table: str, col: str) -> str:
    return f"""
    SELECT '{col}' AS key_column, rnk.k AS key_value, rnk.n AS key_rows, rnk.rk,
           st.total_rows, st.n_keys,
           round(rnk.n * 1.0 / (st.total_rows * 1.0 / st.n_keys), 4) AS skew_factor
    FROM (
        SELECT k, n, row_number() OVER (ORDER BY n DESC, k) AS rk
        FROM (SELECT {col} AS k, CAST(count(*) AS BIGINT) AS n
              FROM {table} GROUP BY 1)
    ) rnk
    CROSS JOIN (
        SELECT CAST(sum(n) AS BIGINT) AS total_rows, CAST(count(*) AS BIGINT) AS n_keys
        FROM (SELECT {col} AS k, count(*) AS n FROM {table} GROUP BY 1)
    ) st
    WHERE rnk.rk <= 5
    """


@query(
    "key_skew_report",
    oracle=" UNION ALL ".join(
        [
            _skew_oracle_one("lineitem", "l_partkey"),
            _skew_oracle_one("lineitem", "l_suppkey"),
            _skew_oracle_one("orders", "o_custkey"),
        ]
    ),
)
def key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostics: for each candidate key column,
    the 5 heaviest keys with their row counts and skew factor (key rows
    ÷ the uniform per-key expectation) — the report that decides whether
    a join needs salting or AQE skew handling BEFORE the 3 a.m. straggler
    (operators/skew.py's salted join is the remedy; this is the
    detector).

    Plan shape: per column, one map-combinable count aggregate; the
    top-5 cut is orderBy+limit per column — TakeOrderedAndProject, the
    limit-then-rank discipline (a window over all keys of a column would
    rank the full key space through one task; three static columns →
    three bounded plans unioned). Stats (total, distinct) come from the
    SAME counted relation (lazily checkpointed — consumed twice), not a
    second scan. Counts are integers; the skew factor is one rounded
    division of exact integers."""
    from pyspark.sql import Window as W

    specs = [("lineitem", "l_partkey"), ("lineitem", "l_suppkey"), ("orders", "o_custkey")]
    parts = []
    for table, col in specs:
        t = read_table(spark, sf_dir, table)
        counts = (
            t.groupBy(F.col(col).alias("k"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"))
            .localCheckpoint(eager=False)
        )
        st = counts.agg(
            F.sum("n").cast("long").alias("total_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
        )
        top = counts.orderBy(F.col("n").desc(), "k").limit(5)
        w = W.orderBy(F.col("n").desc(), "k")
        ranked = top.withColumn("rk", F.row_number().over(w))
        parts.append(
            ranked.join(F.broadcast(st)).select(
                F.lit(col).alias("key_column"),
                F.col("k").alias("key_value"),
                F.col("n").alias("key_rows"),
                "rk",
                "total_rows",
                "n_keys",
                F.round(
                    F.col("n") * F.lit(1.0)
                    / (F.col("total_rows") * F.lit(1.0) / F.col("n_keys")),
                    4,
                ).alias("skew_factor"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out
