"""traderjoe_etl_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the capabilities of the reference ETL pipeline
(noobie1506/traderjoe-etl, ``/root/reference/main.py``), re-expressed as a
Spark-first operator library:

- ``sources``    — parquet/JSON readers with explicit schemas, distributed
  REST/RPC snapshot fetchers (reference main.py:36-42, 203-219).
- ``functions``  — scalar helpers: lenient casts (main.py:125-126, 195-196),
  inf/NaN scrub (main.py:268-269, 284-286), Python-repr float rendering
  (main.py:163-170, 239-244).
- ``operators``  — the generalized relational surface (joins, aggregates,
  windows, set ops, top-k, MERGE upsert, connected components,
  skew/salting) plus LLM-data-pipeline ops (dedup, similarity search, text
  analysis, multimodal plumbing) exercised on the driver's
  documents/embeddings.
- ``plans``      — the reference pipeline recomposed as one SQL statement,
  plus physical-plan audit helpers (plans/audit.py).
- ``streaming``  — event-time Structured Streaming jobs: windows,
  watermarks, stream-static enrichment, stateful dedup and position
  tracking. The reference's hourly loop (main.py:353-359) has no
  scheduler here yet: CLI ``run`` runs one cycle.
- ``sinks``      — pool-bucketed parquet snapshot store, header-once CSV
  export (main.py:345-351).
- ``queries``    — the registry behind ``__spark_entry__`` (222 named
  queries, DuckDB oracle twins for everything SQL-expressible).

CLI: ``python -m traderjoe_etl_spark run|query|list``.

Everything is built on the public PySpark DataFrame/SQL API; Catalyst/AQE
does the physical planning.
"""

__version__ = "0.1.0"
