"""Full-registry oracle differential: the driver's CORRECTNESS check, locally.

Usage: python tools/oracle_sweep.py [sf_dir] [name_filter ...]

Runs EVERY query in __spark_entry__.queries() against its oracle_sql()
twin at the given sf_dir (default /root/testdata/sf0.01), comparing
row count, column names, and normalized values exactly like
tests/oracle_harness.compare. Queries without an oracle get a rows-only
check (runs, reports row count). Prints one line per query and a final
JSON summary; exit code 1 on any failure.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    name_filter = sys.argv[2:]

    from pyspark.sql import SparkSession

    # Vanilla session, like the driver builds — runtime confs must come
    # from the package itself (the @query wrapper applies them at entry).
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry
    from tests.oracle_harness import compare, duckdb_conn
    from traderjoe_etl_spark.queries import oracle_gates

    qs = entry.queries()
    osql = entry.oracle_sql()
    gates = oracle_gates()
    names = sorted(qs)
    if name_filter:
        names = [n for n in names if any(f in n for f in name_filter)]

    con = duckdb_conn(sf_dir)
    results: dict[str, dict] = {}
    n_pass = n_rows_only = n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, sf_dir)
            # A gated oracle is only valid at scales where its predicate
            # holds (e.g. approx_percentiles' exact sketch regime) —
            # degrade to rows-only elsewhere instead of a false FAIL.
            gated_off = name in gates and name in osql and not gates[name](sf_dir)
            if name in osql and not gated_off:
                odf = con.execute(osql[name]).df()
                problems = compare(sdf, odf)
                ok = not problems
                results[name] = {"status": "PASS" if ok else "FAIL", "problems": problems}
                if ok:
                    n_pass += 1
                else:
                    n_fail += 1
                    print(f"FAIL {name}: {problems[:2]}", flush=True)
            else:
                n = sdf.count()
                results[name] = {"status": "ROWS_ONLY", "rows": n}
                if gated_off:
                    results[name]["gated"] = "oracle only valid below its scale gate"
                n_rows_only += 1
        except Exception:
            n_fail += 1
            results[name] = {"status": "ERROR", "err": traceback.format_exc(limit=3)}
            print(f"ERROR {name}:\n{traceback.format_exc(limit=3)}", flush=True)
        dt = time.time() - t0
        print(f"{results[name]['status']:>9} {name} ({dt:.1f}s)", flush=True)

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "total": len(names),
                "pass": n_pass,
                "rows_only": n_rows_only,
                "fail": n_fail,
                "failures": [n for n, r in results.items() if r["status"] in ("FAIL", "ERROR")],
            }
        )
    )
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
