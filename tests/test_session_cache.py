"""session_cache + table-stat helper units (ADVICE r7 items 2-3)."""

from __future__ import annotations

import os

from traderjoe_etl_spark.functions import session_cache
from traderjoe_etl_spark.sources.tables import table_bytes, table_fingerprint


def test_get_value_evicts_stale_fingerprints_same_app(spark):
    """Regenerating a corpus under the same path (same evict_key, new
    fingerprint suffix) must REPLACE the cached bank, not accumulate —
    a long-lived session sweeping regenerated benchdata would otherwise
    grow one orphan entry per regeneration."""
    cache: dict = {}
    builds = []

    def build(v):
        def _b():
            builds.append(v)
            return v

        return _b

    ek = "benchdata/sf1::cosine_topk"
    v1 = session_cache.get_value(cache, spark, f"{ek}::fp1", build("a"), evict_key=ek)
    assert v1 == "a" and len(cache) == 1
    # same fingerprint → cache hit, no rebuild
    v1b = session_cache.get_value(cache, spark, f"{ek}::fp1", build("X"), evict_key=ek)
    assert v1b == "a" and builds == ["a"]
    # new fingerprint, same evict group → stale entry dropped, one entry total
    v2 = session_cache.get_value(cache, spark, f"{ek}::fp2", build("b"), evict_key=ek)
    assert v2 == "b" and len(cache) == 1
    # a DIFFERENT evict group coexists (multi-corpus sessions are legal)
    ek2 = "benchdata/sf10::cosine_topk"
    session_cache.get_value(cache, spark, f"{ek2}::fp9", build("c"), evict_key=ek2)
    assert len(cache) == 2


def test_table_stats_walk_nested_layouts(tmp_path):
    """table_bytes/table_fingerprint must see part files nested under
    partition dirs (key=value layout), not just top-level files."""
    t = tmp_path / "fact.parquet" / "day=2026-01-01"
    t.mkdir(parents=True)
    (t / "part-0000.parquet").write_bytes(b"x" * 128)
    (tmp_path / "fact.parquet" / "part-top.parquet").write_bytes(b"y" * 64)
    assert table_bytes(str(tmp_path), "fact") == 192
    fp1 = table_fingerprint(str(tmp_path), "fact")
    assert fp1.startswith("192:")
    # touching a NESTED file must change the fingerprint
    os.utime(t / "part-0000.parquet", ns=(1, 2**62))  # far future > any real mtime
    assert table_fingerprint(str(tmp_path), "fact") != fp1


def test_corpus_width_formula(tmp_path):
    """corpus_width pins the shared reduce-side width formula (one helper,
    three call sites: Q16 distinct, pagerank edge dedup, sparse-cosine
    postings join — VERDICT r8 item 3): bytes x selectivity // bytes_per_part,
    clamped to [32, 1024]; unknown table -> floor (conservative small plan)."""
    from traderjoe_etl_spark.sources.tables import corpus_width

    p = tmp_path / "fact.parquet"
    p.mkdir()
    (p / "part-0.parquet").write_bytes(b"x" * 10240)  # 10 KB
    sf = str(tmp_path)
    # mid-range: 10240 * 1.0 // 128 = 80
    assert corpus_width(sf, "fact", bytes_per_part=128) == 80
    # selectivity scales the byte estimate (pagerank's 1/7-year edge slice)
    assert corpus_width(sf, "fact", bytes_per_part=128, selectivity=0.5) == 40
    # clamps: floor when tiny, ceiling when huge
    assert corpus_width(sf, "fact", bytes_per_part=10**9) == 32
    assert corpus_width(sf, "fact", bytes_per_part=1) == 1024
    # unknown table -> table_bytes 0 -> floor
    assert corpus_width(sf, "missing", bytes_per_part=1024) == 32
