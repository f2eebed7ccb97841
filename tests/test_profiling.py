"""profile_columns: exact distinct counts without an Expand, null math."""

from __future__ import annotations

from pyspark.sql import functions as F

from traderjoe_etl_spark.operators.profiling import profile_columns
from traderjoe_etl_spark.sources.tables import read_table


def test_profile_values(spark, sf_dir):
    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type",
        F.when(F.col("value") >= 10, F.col("value")).alias("value_nullable"),
    )
    rows = {r["column"]: r for r in profile_columns(ev).collect()}
    n = ev.count()
    assert rows["event_id"]["n_nonnull"] == n and rows["event_id"]["null_frac"] == 0.0
    assert rows["event_id"]["n_distinct"] == n  # unique key
    vn = rows["value_nullable"]
    assert 0 < vn["n_nonnull"] < n
    assert abs(vn["null_frac"] - (n - vn["n_nonnull"]) / n) < 1e-6
    assert vn["min_num"] >= 10.0 and vn["min_str"] is None
    et = rows["event_type"]
    assert et["n_distinct"] == 5 and et["min_num"] is None and et["min_str"] == "click"


def test_profile_exact_mode_has_no_expand(spark, sf_dir):
    """Exact-distinct mode must NOT plan the N-distinct Expand (it
    replicates every row N times); each distinct count is its own narrow
    two-phase aggregate stitched on with broadcast joins."""
    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    plan = (
        profile_columns(ev)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" not in plan
