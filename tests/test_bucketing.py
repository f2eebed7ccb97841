"""Bucketed-join test: same-key bucketed tables join with NO shuffle."""

from __future__ import annotations

import io
import contextlib
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F

from traderjoe_etl_spark.operators.bucketing import bucketed_join, save_bucketed
from traderjoe_etl_spark.sources.tables import read_table


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    orders = read_table(spark, sf_dir, "orders").limit(5000)
    cust = read_table(spark, sf_dir, "customer")
    save_bucketed(orders.withColumnRenamed("o_custkey", "custkey"), "b_orders", "custkey")
    save_bucketed(cust.withColumnRenamed("c_custkey", "custkey"), "b_customer", "custkey")

    # force the shuffle-join path (the planner would broadcast this small
    # side and skip bucketing entirely — at 100 TB neither side broadcasts)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_customer", "custkey")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain()
        plan = buf.getvalue()
        # co-located buckets: merge join with NO shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    # and the result is correct vs a plain join
    plain = (
        read_table(spark, sf_dir, "orders").limit(5000)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .count()
    )
    assert joined.count() == plain

    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")


def test_bucketed_query_leaves_no_tables_in_working_dir(tmp_path, sf_smoke):
    """``bucketed_colocated_join`` run from a fresh working directory writes
    no table there. Spark's in-memory catalog creates the default
    database's ``spark-warehouse/`` on first use, so the directory may
    exist, but it must stay empty: the bucketed tables live in a private
    scratch directory."""
    code = (
        f"import sys; sys.path.insert(0, {ROOT!r})\n"
        "from traderjoe_etl_spark.queries.final_coverage import bucketed_colocated_join\n"
        "from traderjoe_etl_spark.session import get_spark\n"
        f"assert bucketed_colocated_join(get_spark(), {sf_smoke!r}).count() > 0\n"
    )
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    subprocess.run([sys.executable, "-c", code], cwd=tmp_path, env=env, check=True, timeout=600)
    wh = tmp_path / "spark-warehouse"
    assert not wh.exists() or not any(wh.iterdir()), sorted(p.name for p in wh.iterdir())
