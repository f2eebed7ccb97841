"""Deterministic hash sampling: partition-independence, nesting, strata."""

from __future__ import annotations

from pyspark.sql import functions as F

from traderjoe_etl_spark.operators.sampling import (
    hash_sample,
    rate_threshold_hex,
    sample_bucket,
    stratified_hash_sample,
)
from traderjoe_etl_spark.sources.tables import read_table


def _keys(df, col):
    return {r[0] for r in df.select(col).collect()}


def test_membership_partition_independent(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    a = _keys(hash_sample(orders.repartition(1), "o_orderkey", 0.1), "o_orderkey")
    b = _keys(hash_sample(orders.repartition(13), "o_orderkey", 0.1), "o_orderkey")
    assert a == b and len(a) > 0


def test_rate_is_approximately_honored(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    n = orders.count()
    k = hash_sample(orders, "o_orderkey", 0.1).count()
    assert 0.07 * n <= k <= 0.13 * n


def test_samples_nest_by_threshold_prefix(spark, sf_dir):
    """The 5% sample is a subset of the 20% sample (same seed): membership
    is a single threshold on one hash, so rates nest like quantiles."""
    orders = read_table(spark, sf_dir, "orders")
    small = _keys(hash_sample(orders, "o_orderkey", 0.05), "o_orderkey")
    big = _keys(hash_sample(orders, "o_orderkey", 0.20), "o_orderkey")
    assert small < big


def test_seed_changes_membership(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders")
    thr = F.lit(rate_threshold_hex(0.1))
    a = _keys(orders.filter(sample_bucket("o_orderkey", "42") < thr), "o_orderkey")
    b = _keys(orders.filter(sample_bucket("o_orderkey", "43") < thr), "o_orderkey")
    assert a != b and abs(len(a) - len(b)) < 0.05 * len(a) + 50


def test_coherent_across_tables_on_shared_key(spark, sf_dir):
    """Sampling orders and lineitem on the SAME key keeps the join closed:
    every sampled lineitem row finds its sampled order."""
    orders = hash_sample(read_table(spark, sf_dir, "orders"), "o_orderkey", 0.1)
    li = hash_sample(read_table(spark, sf_dir, "lineitem"), "l_orderkey", 0.1)
    dangling = li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
    assert dangling.count() == 0 and li.count() > 0


def test_stratified_rates(spark, sf_dir):
    cust = read_table(spark, sf_dir, "customer")
    sampled = stratified_hash_sample(
        cust, key="c_custkey", strata="c_mktsegment",
        rates={"BUILDING": 0.5, "AUTOMOBILE": 0.0},
    )
    by_seg = dict(
        sampled.groupBy("c_mktsegment").count().collect()
    )
    full = dict(cust.groupBy("c_mktsegment").count().collect())
    assert "AUTOMOBILE" not in by_seg  # rate 0 drops the stratum
    assert 0.35 * full["BUILDING"] <= by_seg["BUILDING"] <= 0.65 * full["BUILDING"]


def test_threshold_hex_bounds():
    assert rate_threshold_hex(0.0) == "00000000"
    assert rate_threshold_hex(1.0) == "ffffffff"
    assert len(rate_threshold_hex(0.1)) == 8


def test_filter_is_pushed_into_scan(spark, sf_dir):
    """Map-only: no Exchange in the sampled-scan plan."""
    orders = read_table(spark, sf_dir, "orders")
    plan = hash_sample(orders, "o_orderkey", 0.1)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
