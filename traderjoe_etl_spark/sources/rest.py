"""Distributed REST snapshot source.

The reference fetches four endpoints sequentially per (user, pool) pair on
one thread (main.py:36-42, 51, 90, 105, 156). The engine fetches every key
row on EXECUTORS with ``mapInPandas``; a failed key becomes an error row
instead of aborting the batch (main.py:13-17 try/except isolation,
SURVEY.md §3 EP3). Pushdown params (pageSize, startTime/endTime,
main.py:30-34) stay adapter options.

The source is eager: it fetches each key exactly once, at call time, and
pins the rows with ``localCheckpoint(eager=True)``, so every consumer (pool
dim, bin keys, both ``quarantine`` sides) reads the same rows and none
re-fetches. Fetch parallelism equals the key relation's partition count.
Trade-off: pinned rows live on the executors, so a lost executor fails the
job reading them; the next hourly cycle fetches again.

The HTTP client is injected (``fetcher``), so tests run fixture payloads
through the identical executor-side code path with zero network.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# fetcher(url: str, params: dict) -> list[dict]  (parsed JSON rows)
Fetcher = Callable[[str, dict], list]


def _default_fetcher(url: str, params: dict) -> list:
    """requests-based fetcher (reference get_api_data, main.py:36-42).
    Imported lazily so offline environments never touch it."""
    import urllib.parse
    import urllib.request

    q = urllib.parse.urlencode({k: v for k, v in params.items() if not k.startswith("_")})
    req = urllib.request.Request(f"{url}?{q}", headers=params.get("_headers", {}))
    with urllib.request.urlopen(req, timeout=30) as resp:  # noqa: S310
        data = json.loads(resp.read())
    return data if isinstance(data, list) else [data]


def rest_snapshot_source(
    keys_df: DataFrame,
    url_template: str,
    row_schema: T.StructType,
    params: dict | None = None,
    fetcher: Fetcher | None = None,
) -> DataFrame:
    """Fetch ``url_template.format(**key_row)`` once per key row, now, and
    return the pinned rows: ``row_schema`` plus the key columns and a
    ``_fetch_error`` column (NULL on success). Each partition of ``keys_df``
    fetches serially in one Python worker (rate-limit friendly).
    """
    params = dict(params or {})
    fetch = fetcher or _default_fetcher
    key_cols = keys_df.columns
    out_schema = T.StructType(
        [*(keys_df.schema.fields), *row_schema.fields, T.StructField("_fetch_error", T.StringType())]
    )
    field_names = [f.name for f in row_schema.fields]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out_rows = []
            for key in pdf.to_dict("records"):
                url = url_template.format(**key)
                try:
                    rows = fetch(url, params)
                    err = None
                except Exception as exc:  # per-pair isolation (main.py:13-17)
                    rows, err = [{}], f"{type(exc).__name__}: {exc}"
                for r in rows:
                    rec = dict(key)
                    for name in field_names:
                        rec[name] = r.get(name) if isinstance(r, dict) else None
                    rec["_fetch_error"] = err
                    out_rows.append(rec)
            yield pd.DataFrame(out_rows, columns=[*key_cols, *field_names, "_fetch_error"])

    return keys_df.mapInPandas(run, schema=out_schema).localCheckpoint(eager=True)


def quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split fetched rows into (ok, failed) — failed pairs land in a
    quarantine relation instead of killing the batch."""
    ok = df.filter(F.col("_fetch_error").isNull()).drop("_fetch_error")
    bad = df.filter(F.col("_fetch_error").isNotNull())
    return ok, bad
