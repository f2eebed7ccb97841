"""CLI — the reference's ``python main.py`` entry point, engine-grade.

The reference runs one hard-coded pipeline in an hourly sleep loop
(main.py:353-359). The engine exposes the same two verbs a user
actually needs, over the whole query registry:

  python -m traderjoe_etl_spark run   --sf-dir DIR --out PATH
      one snapshot-pipeline cycle appended to the partitioned parquet
      sink (add --csv FILE for the reference's header-once CSV form).
      There is no scheduler yet: the registry pipeline stamps a fixed
      run time, so repeating it would append the same rows again.

  python -m traderjoe_etl_spark query NAME --sf-dir DIR [--limit N]
      run any registered query and print the result

  python -m traderjoe_etl_spark list
      list every registered query name
"""

from __future__ import annotations

import argparse
import sys
import time


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="traderjoe_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    run = sub.add_parser("run", help="run the snapshot pipeline")
    run.add_argument("--sf-dir", required=True)
    run.add_argument("--out", required=True, help="parquet sink directory")
    run.add_argument("--csv", default=None, help="also append the reference-style CSV")

    q = sub.add_parser("query", help="run one registered query")
    q.add_argument("name")
    q.add_argument("--sf-dir", required=True)
    q.add_argument("--limit", type=int, default=20)

    sub.add_parser("list", help="list registered queries")
    return p


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    from .queries import queries

    if args.cmd == "list":
        for name in sorted(queries()):
            print(name)
        return 0

    from .session import get_spark

    spark = get_spark("traderjoe-etl-cli")

    if args.cmd == "query":
        qs = queries()
        if args.name not in qs:
            print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
            return 2
        qs[args.name](spark, args.sf_dir).show(args.limit, truncate=False)
        return 0

    # run — the registered flagship pipeline (46-col snapshot DAG); its
    # prepared-plan cache makes repeat cycles analysis-free.
    from .sinks import append_snapshot, csv_export

    started = time.time()
    snap = queries()["snapshot_pipeline"](spark, args.sf_dir)
    append_snapshot(snap, args.out)
    if args.csv:
        csv_export(snap, args.csv)
    print(f"cycle done in {time.time() - started:.1f}s -> {args.out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
