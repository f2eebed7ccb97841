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
re-fetches. Each task (one partition of the key relation) overlaps its
round trips on up to ``FETCH_CONCURRENCY`` threads, so a source never has
more than (concurrent tasks × ``FETCH_CONCURRENCY``) calls in flight
against its endpoint; an upstream rate limit must allow that many.
Trade-off: pinned rows live on the executors, so a lost executor fails the
job reading them; the next hourly cycle fetches again.

The HTTP client is injected (``fetcher``), so tests run fixture payloads
through the identical executor-side code path with zero network. Fetchers
are called from several threads at once: one that keeps state (a call
counter, a session) must do so thread-safely.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# fetcher(url: str, params: dict) -> list[dict]  (parsed JSON rows)
Fetcher = Callable[[str, dict], list]

# Round trips one task keeps in flight. A key relation can reach a source
# as a single partition (AQE coalesces the small bin-key join to one), and
# without overlap all of its calls would run one after another in one task.
FETCH_CONCURRENCY = 8


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


def _fetch_per_key(
    keys_df: DataFrame,
    schema: T.StructType,
    fetch_rows: Callable[[dict], list],
) -> DataFrame:
    """The one per-key fetch loop under every source: ``fetch_rows(key)``
    maps one key row (a dict) to its payload rows (dicts), and the result
    is ``schema`` (key columns taken from the key row, payload columns from
    the payload row) plus ``_fetch_error``, pinned now. Each batch's keys
    run on a pool of ``FETCH_CONCURRENCY`` threads; rows keep key order.

    A key whose fetch raises yields ONE row: its key columns set, payload
    NULL, ``_fetch_error = "ExcType: msg"`` (per-pair isolation,
    main.py:13-17). An empty payload yields zero rows. Every column is set
    explicitly (``None`` when missing): a column pandas fills with NaN
    would break the Arrow cast to a non-float type.
    """
    out_schema = T.StructType([*schema.fields, T.StructField("_fetch_error", T.StringType())])
    key_cols = set(keys_df.columns)
    names = schema.fieldNames()

    def fetch_one(key: dict) -> list:
        try:
            rows, err = fetch_rows(key), None
        except Exception as exc:
            rows, err = [{}], f"{type(exc).__name__}: {exc}"
        recs = []
        for r in rows:
            rec = {n: key[n] if n in key_cols else r.get(n) for n in names}
            rec["_fetch_error"] = err
            recs.append(rec)
        return recs

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        with ThreadPoolExecutor(FETCH_CONCURRENCY) as pool:
            for pdf in batches:
                out_rows = [rec for recs in pool.map(fetch_one, pdf.to_dict("records")) for rec in recs]
                yield pd.DataFrame(out_rows, columns=out_schema.fieldNames())

    return keys_df.mapInPandas(run, schema=out_schema).localCheckpoint(eager=True)


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
    is one task with up to ``FETCH_CONCURRENCY`` calls in flight, so
    ``fetcher`` runs on several threads at once and must be thread-safe.

    A payload holding any non-object element fails its whole key with a
    ``TypeError``, as the reference's per-entry ``.get`` does
    (main.py:107-123): a partial payload must not pass as ok.
    """
    params = dict(params or {})
    fetch = fetcher or _default_fetcher

    def rows(key: dict) -> list:
        payload = fetch(url_template.format(**key), params)
        for r in payload:
            if not isinstance(r, dict):
                raise TypeError(f"payload element is {type(r).__name__}, not an object")
        return payload

    schema = T.StructType([*keys_df.schema.fields, *row_schema.fields])
    return _fetch_per_key(keys_df, schema, rows)


def quarantine(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Split fetched rows into (ok, failed) — failed pairs land in a
    quarantine relation instead of killing the batch."""
    ok = df.filter(F.col("_fetch_error").isNull()).drop("_fetch_error")
    bad = df.filter(F.col("_fetch_error").isNotNull())
    return ok, bad
