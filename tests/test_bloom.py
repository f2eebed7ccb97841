"""Bloom-prefilter join: exactness, false-positive bound, plan shape."""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from traderjoe_etl_spark.operators.bloom import (
    bloom_prefilter_join,
    build_bloom,
    might_contain,
)
from traderjoe_etl_spark.sources.tables import read_table


def test_bloom_no_false_negatives(spark):
    """Every build key must pass its own filter — bloom guarantees no FNs."""
    build = spark.range(0, 5000).select((F.col("id") * 7 + 3).alias("k"))
    words, m, k = build_bloom(build, "k")
    missed = build.where(~might_contain(F.col("k"), words, m, k)).count()
    assert missed == 0


def test_bloom_false_positive_rate_bounded(spark):
    """Non-member keys should pass at roughly the configured fpp (1%);
    allow generous slack for hash-family variance."""
    build = spark.range(0, 5000).select(F.col("id").alias("k"))
    words, m, k = build_bloom(build, "k")
    probe = spark.range(1_000_000, 1_050_000).select(F.col("id").alias("k"))
    fp = probe.where(might_contain(F.col("k"), words, m, k)).count()
    assert fp / 50_000 < 0.05, f"false-positive rate {fp / 50_000:.3%} way above fpp"


def test_bloom_prefilter_join_equals_plain_join(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000.0)
    got = (
        bloom_prefilter_join(orders, cust, "o_custkey", "c_custkey")
        .select("o_orderkey", "c_custkey")
    )
    want = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_custkey"
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0
    assert got.count() == want.count()


def test_bloom_filter_sits_on_probe_scan_before_exchange(spark, sf_dir):
    """The membership test must be a plain Filter in the probe branch —
    no UDF, no extra join, evaluated before any Exchange so the probe
    shuffle only carries plausibly-matching rows."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000.0)
    words, m, k = build_bloom(cust, "c_custkey")
    pref = orders.where(might_contain(F.col("o_custkey"), words, m, k))
    plan = pref._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan
    assert "Exchange" not in plan  # map-only: filter fused into the scan stage
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bloom_native_big_build_path(spark, sf_dir):
    """The big-build regime (a key bound whose bitmap exceeds the literal
    ceiling) must (a) produce a plan WITHOUT the giant literal array —
    the bitmap rides a broadcast value — and (b) return exactly the
    plain-join result."""
    from traderjoe_etl_spark.operators.bloom import MAX_LITERAL_BITS, _optimal_bits

    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000.0)
    # an overestimated key bound (exact either way) sizes the bitmap the
    # way a 10^5-key build would, past MAX_LITERAL_BITS
    bound = 300_000
    assert _optimal_bits(bound) > MAX_LITERAL_BITS
    got = bloom_prefilter_join(
        orders, cust, "o_custkey", "c_custkey", expected_keys=bound
    ).select("o_orderkey", "c_custkey")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "__bloom_words" in plan  # bitmap rides a broadcast column
    assert len(plan) < 2_000_000, "plan embeds a giant literal bitmap"
    want = orders.join(cust, orders.o_custkey == cust.c_custkey).select(
        "o_orderkey", "c_custkey"
    )
    assert got.subtract(want).count() == 0
    assert want.subtract(got).count() == 0
    assert got.count() == want.count()


def test_bloom_null_probe_keys_deterministically_drop(spark):
    """NULL probe keys must test FALSE (not hash the bare seeds): the
    standalone predicate is usable outside the join wrapper."""
    build = spark.range(0, 100).select(F.col("id").alias("k"))
    words, m, k = build_bloom(build, "k")
    probe = spark.createDataFrame([(None,), (5,), (10**9,)], "k long")
    kept = [r["k"] for r in probe.where(might_contain(F.col("k"), words, m, k)).collect()]
    assert 5 in kept and None not in kept


def test_bloom_warns_when_expected_keys_underestimated(spark):
    """An ``expected_keys`` 10× too low fills the literal bitmap (effective
    fpp ~97 % vs 1 %) and warns; a correct bound stays silent. Either way
    the join is exact."""
    build = spark.range(0, 2000).select(F.col("id").alias("k"))
    probe = spark.range(0, 4000).select(F.col("id").alias("k"))
    with pytest.warns(UserWarning, match="effective fpp"):
        under = bloom_prefilter_join(probe, build, "k", "k", expected_keys=200)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        right = bloom_prefilter_join(probe, build, "k", "k", expected_keys=2000)
    assert not [w for w in caught if "effective fpp" in str(w.message)]
    assert under.count() == right.count() == 2000
