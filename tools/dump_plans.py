"""Dump .explain('formatted') for named queries to plans/<tag>/<q>_<suffix>.txt.

Usage: python tools/dump_plans.py <suffix> [query ...]
With no query names, dumps the bench HEADLINE set. Plans are captured at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) under the same session
confs the bench runs with (bench.py's old sf<=0.5 tiny-input pin was inert
— every registry query applies apply_runtime_confs at entry — and was
removed in r12, so no extra conf mirroring is needed here).
Output dir: $PLANS_OUT (default plans/r12).
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from traderjoe_etl_spark.queries import queries
    from traderjoe_etl_spark.session import get_spark

    import bench

    spark = get_spark("dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    if not names:
        names = [n for n in bench.HEADLINE if n in qs]
    out_dir = os.environ.get("PLANS_OUT", os.path.join(REPO, "plans", "r12"))
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"{name}: {plan.count('Exchange')} Exchange, "
              f"{plan.count('ReusedExchange')} Reused -> {path}")


if __name__ == "__main__":
    main()
