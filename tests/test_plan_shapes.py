"""Plan-SHAPE regression tests: the scale properties of the headline
plans (pushdown, pruning, broadcast, shuffle discipline) asserted as
facts, so a lost optimization fails here instead of shipping."""

from __future__ import annotations

import pytest

from traderjoe_etl_spark.plans.audit import plan_facts
from traderjoe_etl_spark.queries import queries

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def qs():
    return queries()


def test_pricing_summary_shape(spark, qs):
    f = plan_facts(qs["pricing_summary"](spark, SF))
    assert f.pushed_filters, "shipdate filter must reach the parquet scan"
    # pruned scan: only the 7 referenced measure/key columns are read
    assert all(len(cols) <= 7 for cols in f.scan_columns())
    # one shuffle: the partial->final aggregate exchange
    assert f.n_exchanges <= 1


def test_revenue_by_region_shape(spark, qs):
    f = plan_facts(qs["revenue_by_region"](spark, SF))
    # dims ride broadcasts; the only hash exchanges are the per-order
    # partials, the orders map, and the final 5-row region rollup
    assert f.n_broadcasts >= 1
    assert f.n_exchanges <= 3
    assert "BroadcastHashJoin" in f.operators


def test_rollup_two_level_shape(spark, qs):
    f = plan_facts(qs["rollup_fees_report"](spark, SF))
    # the Expand must run over the pre-aggregated rows, never the scan
    assert not f.has_expand_over_scan
    assert "Expand" in f.operators


def test_topk_uses_take_ordered(spark, qs):
    f = plan_facts(qs["topk_orders"](spark, SF))
    assert "TakeOrderedAndProject" in f.operators


def test_latest_deposit_window_group_limit(spark, qs):
    f = plan_facts(qs["latest_deposit_per_user"](spark, SF))
    # rank-filter argmax must plan the map-side WindowGroupLimit prune
    assert "WindowGroupLimit" in f.text
    assert f.pushed_filters, "event_type filter must push to the scan"


def test_q5_broadcasts_all_dims(spark, qs):
    f = plan_facts(qs["local_supplier_volume_q5"](spark, SF))
    assert f.n_broadcasts >= 3  # supplier, nation, region
    assert f.pushed_filters  # orderdate + r_name reach the scans


def test_constraint_check_single_pass(spark, qs):
    f = plan_facts(qs["constraint_check"](spark, SF))
    # one broadcast (customer dim); aggregation collapses in <=2 exchanges
    assert f.n_broadcasts >= 1
    assert len(f.scans) == 2  # orders + customer, each scanned once


def test_asof_join_no_blowup(spark, qs):
    """The union-window as-of join must never plan a range cross product."""
    f = plan_facts(qs["asof_join_last_order"](spark, SF))
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_minhash_lsh_no_cartesian(spark, qs):
    """LSH candidate generation must pair via band-bucket equi-keys —
    an O(n^2) cross product can never appear in the plan."""
    f = plan_facts(qs["minhash_near_dup"](spark, SF))
    assert "CartesianProduct" not in f.text
    assert "BroadcastNestedLoopJoin" not in f.text


def test_gap_fill_copartitioned(spark, qs):
    """Spine build, rollup, join, and forward-fill window all hash on
    user_id — the whole query needs at most 3 exchanges."""
    f = plan_facts(qs["gap_fill_hourly"](spark, SF))
    assert f.n_exchanges <= 3


def test_partition_pruning_static_and_dynamic(spark, tmp_path):
    """A partition-clustered fact joined to a selective dim must prune
    partitions at the scan — at 100 TB this is the difference between
    scanning 12 months and 1. Two regimes, both pinned here:

    - dim filtered ON the join key → Catalyst infers a STATIC partition
      filter (month = 3) at plan time;
    - dim filtered on a NON-key column → the qualifying months are only
      known at runtime, so the scan gets a dynamicpruningexpression
      (DPP subquery) instead.
    """
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.sources.tables import read_table

    p = str(tmp_path / "orders_by_month")
    orders = read_table(spark, "/root/testdata/sf0.001", "orders")
    orders.withColumn("month", F.month("o_orderdate")).write.partitionBy(
        "month"
    ).parquet(p)
    fact = spark.read.parquet(p)
    dim = spark.createDataFrame(
        [(m, f"x{m}") for m in range(1, 13)], "month INT, label STRING"
    )

    static_j = fact.join(dim.filter(F.col("month") == 3), "month").groupBy("label").count()
    static_plan = static_j._jdf.queryExecution().executedPlan().toString()
    static_filters = static_plan.split("PartitionFilters:")[1].split("]")[0]
    assert "= 3" in static_filters, static_plan[:2000]

    dpp_j = fact.join(dim.filter(F.col("label") == "x3"), "month").groupBy("label").count()
    dpp_plan = dpp_j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in dpp_plan.lower(), dpp_plan[:2000]

    expected = orders.filter(F.month("o_orderdate") == 3).count()
    assert dpp_j.collect()[0]["count"] == expected
    assert static_j.collect()[0]["count"] == expected


def test_join_strategy_hints_are_honored(spark):
    """The three join-strategy hints must reach the physical plan: at
    100 TB picking SMJ vs SHJ vs broadcast is the single biggest lever a
    user has over a join, so the engine must not silently drop the hint."""
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.sources.tables import read_table

    orders = read_table(spark, "/root/testdata/sf0.001", "orders")
    cust = read_table(spark, "/root/testdata/sf0.001", "customer")
    cases = {
        "merge": "SortMergeJoin",
        "shuffle_hash": "ShuffledHashJoin",
        "broadcast": "BroadcastHashJoin",
    }
    for hint, op in cases.items():
        j = orders.join(cust.hint(hint), orders.o_custkey == cust.c_custkey)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert op in plan, f"hint {hint!r} did not plan {op}: {plan[:500]}"


def test_tfidf_bm25_df_is_aggregated_not_windowed(spark, qs):
    """Document frequency must come from a partial+final aggregate and
    ride a broadcast back onto the term rows — never from
    count(*) OVER (PARTITION BY term): a window partition ships every
    (doc, term) row of a term to ONE task, so at 100 TB a stopword's df
    partition is billions of rows on a single core (VERDICT r03 #1)."""
    for name in ("tfidf_top_terms", "bm25_search"):
        f = plan_facts(qs[name](spark, SF))
        assert "windowspecdefinition(term" not in f.text.lower(), name
        # df joins back as a broadcast (plus the 1-row corpus scalars)
        assert f.n_broadcasts >= 2, name


def test_text_profile_tokenizes_once(spark):
    """text_profile computes four token-based metrics; the token split must
    be projected once and referenced, not re-inlined per metric (HOF/split
    expressions are not CSE'd, and CollapseProject must not merge the
    two-step shape because a non-cheap alias referenced 4x is kept)."""
    from traderjoe_etl_spark.operators.text import text_profile
    from traderjoe_etl_spark.sources.tables import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents")
    plan = (
        text_profile(docs, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("split(") == 1, f"tokenizer inlined {plan.count('split(')}x"


GLOBAL_TOPK = [
    "dsir_importance_resample",
    "logreg_quality_gate",
    "pmi_collocations",
    "bigram_surprisal_scores",
    "pagerank_sources",
    "bm25_search",
    "vocab_top_terms",
]


@pytest.mark.parametrize("name", GLOBAL_TOPK)
def test_global_topk_is_limit_then_rank(spark, qs, name):
    """Global ranked top-k must cut with TakeOrderedAndProject (per-
    partition k-heaps) BEFORE the rank window: Spark's WindowGroupLimit
    prune never fires for an empty partition spec, so a pre-limit global
    window ranks the entire input through one task at scale. The window
    may only ever see the already-limited k rows — i.e. it must sit
    ABOVE the TakeOrderedAndProject in the plan."""
    f = plan_facts(qs[name](spark, SF))
    assert "TakeOrderedAndProject" in f.operators, name
    # the Window node (if any) must consume the limited rows: in the
    # formatted plan the TakeOrderedAndProject appears below (= higher
    # operator id than) the Window it feeds
    text = f.text
    if "Window" in f.operators:
        assert text.index("Window") < text.index("TakeOrderedAndProject"), name


def test_segment_dedup_no_window_no_text_shuffle(spark, qs):
    """segment_dedup_corpus: first-occurrence = partial-aggregated min —
    never a window over the fingerprint partition; segment text must not
    appear in any exchange (only fingerprints + packed keys shuffle)."""
    f = plan_facts(qs["segment_dedup_corpus"](spark, SF))
    assert "windowspecdefinition" not in f.text.lower()
    assert "Window" not in f.operators


def test_kmeans_assignment_is_map_only(spark, qs):
    """kmeans_cluster_stats: the returned plan is one mapInArrow
    assignment + one k-group aggregate — a single exchange, no window,
    no broadcast join (centroids enter as kernel constants)."""
    f = plan_facts(qs["kmeans_cluster_stats"](spark, SF))
    assert f.n_exchanges <= 1
    assert "Window" not in f.operators


def test_funnel_stages_are_equi_joins(spark, qs):
    """funnel_progression: stage joins must be user-keyed equi-joins with
    the strict-inequality as a post-condition — never a nested-loop over
    events. (The 1-row scalar count joins legitimately plan as
    BroadcastNestedLoopJoin — broadcast by size — so only multi-row
    nested loops are banned, i.e. any CartesianProduct.)"""
    f = plan_facts(qs["funnel_progression"](spark, SF))
    assert "CartesianProduct" not in f.operators


def test_ks_prefix_sum_is_range_partitioned(spark, qs):
    """The distributed prefix scan under ks_two_sample/pareto must be a
    rangepartitioning exchange feeding per-pid windows — never one global
    sum(...) OVER (ORDER BY v) window over the value relation (which ships
    every distinct value through a single task at scale).  The production
    path pins its boundary split with a lazy checkpoint, which truncates
    the formatted plan, so the shape is asserted on the checkpoint-free
    form of the shared operator."""
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.operators.prefix import global_running_agg

    df = spark.range(100).select(
        F.col("id").alias("v"), (F.col("id") % 7).alias("x")
    )
    f = plan_facts(
        global_running_agg(df, "v", {"rs": ("x", "sum")}, checkpoint=False)
    )
    assert "rangepartitioning" in f.text.lower()
    # every window over the value relation is partitioned by __pid; the
    # only empty-partition-spec window is the pid-offset scan over the
    # <=32-row totals relation (bounded by partition COUNT)
    specs = [ln for ln in f.text.splitlines() if "windowspecdefinition" in ln]
    assert any("pid" in s for s in specs)
    # and the checkpointed production plan still computes the same thing
    got = ks_like = qs["ks_two_sample"](spark, SF)
    assert got.columns == ["n_a", "n_b", "ks_d", "ks_stat"]


def test_naive_bayes_model_is_broadcast(spark, qs):
    """The NB model must stay broadcast-sized: the vocab cut is a
    TakeOrderedAndProject (never a global rank window) and scoring joins
    the log-prob relation in as a broadcast."""
    f = plan_facts(qs["naive_bayes_lang_confusion"](spark, SF))
    assert "TakeOrderedAndProject" in f.operators
    assert f.n_broadcasts >= 2


def test_gopher_rules_map_only(spark, qs):
    """gopher_quality_rules: per-row expressions + one tiny rollup — no
    windows anywhere, no regexp_replace char-class copies in the plan."""
    f = plan_facts(qs["gopher_quality_rules"](spark, SF))
    assert "Window" not in f.operators
    assert "regexp_replace" not in f.text.lower()


def test_cosine_topk_single_job_per_execution(spark, qs):
    """cosine_topk re-executions must be ONE job with no Python workers at
    small scale (VERDICT r6 item 4: the old broadcast-subquery form paid a
    second job dispatch per execution — 6.7x DuckDB at sf1 in pure
    scheduling). The cached query bank is inlined as a constant literal,
    so the plan is a single codegen scan into TakeOrderedAndProject."""
    df = qs["cosine_topk"](spark, SF)
    f = plan_facts(df)
    assert "TakeOrderedAndProject" in f.operators
    assert f.n_exchanges == 0, "single-stage plan: no shuffle anywhere"
    # no Python evaluation in the small-corpus plan (const-literal path)
    assert "ArrowEvalPython" not in f.operators and "MapInArrow" not in f.text
    df.collect()  # warm
    # count jobs inside a dedicated job group: len(getJobIdsForGroup(None))
    # is unreliable on the long-lived suite session once retainedJobs
    # (default 1000) starts evicting old entries
    sc = spark.sparkContext
    sc.setJobGroup("cosine_topk_jobcount", "plan test")
    try:
        df.collect()
    finally:
        sc.setJobGroup(None, None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("cosine_topk_jobcount") or [])
    assert n_jobs == 1, f"expected exactly 1 job/execution, got {n_jobs}"


def test_cosine_topk_batch_kernel_prunes(spark, qs):
    """cosine_topk_batch: the arrow kernel must prune in-kernel (the
    exchange downstream carries ~k rows per query-batch, never the
    corpus x Q product) and the final rank must be a WindowGroupLimit-
    eligible row_number filter."""
    f = plan_facts(qs["cosine_topk_batch"](spark, SF))
    assert "MapInArrow" in f.text or "MapInArrow" in f.operators
    assert f.n_exchanges <= 1


# ---------------------------------------------------------------------------
# Registry-wide lint: no unbounded empty-partition-spec windows (VERDICT r7
# item 1 — the ntile_customer_quartiles class: Spark executes a global
# window in ONE task, and WindowGroupLimit never fires for it).


# Whitelisted global windows: input is bounded BY CONSTRUCTION but not by a
# form the lint can prove mechanically. Every entry needs a justification.
_GLOBAL_WINDOW_WHITELIST = {
    # RANGE frame over the PRE-AGGREGATED daily relation: window input
    # cardinality = |calendar days in the data's time range| (~2.5k for
    # the 1995-2001 testdata), independent of corpus size. A 100x corpus
    # adds rows to the upstream day-aggregate, not to this window.
    "rolling_median_revenue_7d",
}


def test_global_window_lint_unit(spark):
    """The lint itself: flags a bare global window; accepts the two
    bounded forms (limit-then-rank, __pid-keyed prefix offsets)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.operators.prefix import global_running_agg
    from traderjoe_etl_spark.plans.audit import global_window_violations

    df = spark.range(100).select(
        F.col("id").alias("v"), (F.col("id") % 7).alias("x")
    )
    bad = df.select("v", F.row_number().over(Window.orderBy("v")).alias("rk"))
    assert global_window_violations(bad), "bare global window must flag"

    cut = df.orderBy("v").limit(5)
    ranked = cut.select(
        "v", F.row_number().over(Window.orderBy("v")).alias("rk")
    )
    assert not global_window_violations(ranked), "limit-then-rank is bounded"

    pref = global_running_agg(df, "v", {"rs": ("x", "sum")}, checkpoint=False)
    assert not global_window_violations(pref), "__pid offsets are bounded"

    # a limit on ONE join branch must NOT whitelist a global window over
    # the join output — the other branch still flows corpus-scale rows
    dims = spark.range(20).select(F.col("id").alias("v"), F.lit("d").alias("tag"))
    joined = df.join(dims.orderBy("v").limit(3), "v")
    ranked_join = joined.select(
        "v", F.row_number().over(Window.orderBy("v")).alias("rk")
    )
    assert global_window_violations(ranked_join), (
        "one-branch limit must not bound the join output"
    )


def test_no_unbounded_global_windows_registry_wide(spark, qs):
    """EVERY registered query's optimized plan must be free of
    empty-partition-spec windows over unbounded input — the one
    confirmed scale-killer class (r7: ntile 19.1x growth on 10x data).
    Whitelist entries must stay justified and non-stale."""
    from traderjoe_etl_spark.plans.audit import global_window_violations

    offenders: dict[str, list[str]] = {}
    for name, fn in sorted(qs.items()):
        bad = global_window_violations(fn(spark, SF))
        if bad:
            offenders[name] = bad
    stale = _GLOBAL_WINDOW_WHITELIST - set(offenders)
    assert not stale, f"whitelist entries no longer needed: {stale}"
    real = {k: v for k, v in offenders.items() if k not in _GLOBAL_WINDOW_WHITELIST}
    assert not real, "unbounded global windows:\n" + "\n".join(
        f"{k}: {v[0][:160]}" for k, v in sorted(real.items())
    )


# ---------------------------------------------------------------------------
# Registry-wide lint: no broadcast HINT over an unaggregated corpus-scaled
# scan (VERDICT r8 item 1 — the q18 class: F.broadcast(customer) is
# correct-looking at bench scale, "Not enough memory to build and broadcast"
# at sf100; a hint overrides the engine's stats unconditionally, so it must
# never wrap a relation that grows with the corpus).


# Whitelisted broadcast hints: every entry applies its hint via
# operators.joins.gated_broadcast — a table_bytes-gated pin that DECLINES
# itself past a byte cap, so the hint the lint sees at small SF is gone at
# corpus scale (test_gated_broadcasts_decline_at_scale pins the decline
# against the 160 GB benchdata/sf100 plans). Each entry's selectivity derivation
# lives at its call site.
_FORCED_BROADCAST_WHITELIST = {
    # order_nation map (1-of-6-years x 2-of-6-cols of orders) + the 2-of-5-col
    # customer projection; both decline at sf100 (est 115 MB / 70 MB >= cap).
    "local_supplier_volume_q5",
    # 2-of-25-nation customer cohort + its order map: genuinely selective, so
    # both stay under cap through sf100 (est ~6 / ~55 MB) and decline ~sf120+.
    "volume_shipping_q7",
    # custkey->region map (2-of-5 cols of customer, declines at sf100) + the
    # small-SF branch's order_region map (already inside an orders<96MB
    # table_bytes branch — gated by construction, never built at scale).
    "revenue_by_region",
}


def test_forced_broadcast_lint_unit(spark, monkeypatch):
    """The lint itself: flags a pinned corpus dim; accepts aggregated /
    limit-capped / fixed-cardinality build sides; and gated_broadcast
    declines (= lint-clean) past its byte cap."""
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.operators.joins import gated_broadcast
    from traderjoe_etl_spark.plans.audit import forced_broadcast_violations
    from traderjoe_etl_spark.sources.tables import read_table

    sf = SF
    li = read_table(spark, sf, "lineitem")
    orders = read_table(spark, sf, "orders")
    nation = read_table(spark, sf, "nation")

    # deliberately-pinned corpus dim — the q18 bug, must flag
    dim = li.select("l_orderkey", "l_quantity").filter(F.col("l_quantity") > 10)
    bad = forced_broadcast_violations(orders.join(F.broadcast(dim), orders.o_orderkey == dim.l_orderkey))
    assert bad and "l_" in bad[0], f"pinned corpus dim must flag: {bad}"

    # aggregated build side is reduced by construction — clean
    agg = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    assert not forced_broadcast_violations(orders.crossJoin(F.broadcast(agg)))

    # limit-capped corpus side (top-k cut) — clean
    cut = li.select("l_orderkey").orderBy("l_orderkey").limit(5)
    assert not forced_broadcast_violations(
        orders.join(F.broadcast(cut), orders.o_orderkey == cut.l_orderkey)
    )

    # fixed-cardinality dim — clean
    assert not forced_broadcast_violations(
        orders.crossJoin(F.broadcast(nation.limit(1).drop("n_name")))
    )

    # literal LocalRelation reusing GENERIC corpus column names (value,
    # event_type) — fixed-size by construction, must NOT flag even though
    # the names intersect _CORPUS_SCAN_COLS (only storage-backed scan
    # leaves count)
    lookup = spark.createDataFrame(
        [("view", 0.5), ("click", 2.0)], "event_type string, value double"
    )
    assert not forced_broadcast_violations(
        orders.crossJoin(F.broadcast(lookup))
    )

    # gated_broadcast: hint under the cap (flags, whitelist territory)...
    hinted = orders.join(
        gated_broadcast(li.select("l_orderkey"), sf, "lineitem"),
        orders.o_orderkey == F.col("l_orderkey"),
    )
    assert forced_broadcast_violations(hinted)
    # ...and DECLINED past the cap (a 1-byte cap forces the at-scale branch)
    from traderjoe_etl_spark.operators import joins

    with monkeypatch.context() as m:
        m.setattr(joins, "GATED_BROADCAST_CAP", 1)
        declined = orders.join(
            gated_broadcast(li.select("l_orderkey"), sf, "lineitem"),
            orders.o_orderkey == F.col("l_orderkey"),
        )
    assert not forced_broadcast_violations(declined)
    # unknown table stat -> conservative: no hint
    unknown = orders.join(
        gated_broadcast(li.select("l_orderkey"), "/nonexistent", "lineitem"),
        orders.o_orderkey == F.col("l_orderkey"),
    )
    assert not forced_broadcast_violations(unknown)


def test_no_forced_corpus_broadcasts_registry_wide(spark, qs):
    """EVERY registered query's optimized plan must be free of broadcast
    hints over unaggregated corpus-scaled scans — the q18 OOM class. The
    manual grep audit found q18's bug only after an sf100 OOM; this net
    catches the next one at pytest time. Whitelist entries must stay
    justified (size-gated) and non-stale."""
    from traderjoe_etl_spark.plans.audit import forced_broadcast_violations

    offenders: dict[str, list[str]] = {}
    for name, fn in sorted(qs.items()):
        bad = forced_broadcast_violations(fn(spark, SF))
        if bad:
            offenders[name] = bad
    stale = _FORCED_BROADCAST_WHITELIST - set(offenders)
    assert not stale, f"whitelist entries no longer needed: {stale}"
    real = {k: v for k, v in offenders.items() if k not in _FORCED_BROADCAST_WHITELIST}
    assert not real, "forced corpus-dim broadcasts:\n" + "\n".join(
        f"{k}: {v[0][:160]}" for k, v in sorted(real.items())
    )


@pytest.mark.skipif(
    not __import__("os").path.isdir("benchdata/sf100"),
    reason="benchdata/sf100 not generated on this box",
)
def test_gated_broadcasts_decline_at_scale(spark, qs):
    """The whitelist's justification, pinned: building the SAME queries
    against the 160 GB benchdata/sf100 tables (plan-build only — lazy, no
    execution), the table_bytes gates must have DECLINED every hint whose
    estimate crossed the cap. q5 and revenue_by_region go fully clean; q7's
    2-of-25-nation cohort stays legitimately under cap (its estimate scales
    with customer/orders bytes, so it declines at larger corpora — the
    mechanism is covered by the 1-byte-cap arm of the unit test)."""
    from traderjoe_etl_spark.plans.audit import forced_broadcast_violations

    sf100 = "benchdata/sf100"
    assert forced_broadcast_violations(qs["local_supplier_volume_q5"](spark, sf100)) == []
    assert forced_broadcast_violations(qs["revenue_by_region"](spark, sf100)) == []
    # q7: both hints remain (selective cohort, under cap at this scale) —
    # same set as at sf0.01, nothing new appears at scale
    q7_small = forced_broadcast_violations(qs["volume_shipping_q7"](spark, SF))
    q7_big = forced_broadcast_violations(qs["volume_shipping_q7"](spark, sf100))
    assert set(q7_big) <= set(q7_small)


# ---------------------------------------------------------------------------
# Partial-agg hazard diagnostic + hinted-aggregate warn lint (round 10)
# ---------------------------------------------------------------------------


def test_partial_agg_hazards_unit(spark):
    """The r7–r9 heap-OOM family's detector (q16 distinct / pagerank
    dropDuplicates / q21 agg+window / constraint_check count_distinct):
    a map-side aggregate grouping on a near-unique corpus key flags; the
    corpus_width-repartition fix clears it; a low-cardinality grouping
    never flags."""
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.plans.audit import partial_agg_hazards
    from traderjoe_etl_spark.sources.tables import read_table

    li = read_table(spark, SF, "lineitem")

    # the q21 pre-fix shape: barely-deduplicating pair key, map-side
    bad = partial_agg_hazards(
        li.groupBy("l_orderkey", "l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    )
    assert bad and "l_orderkey" in bad[0], f"pair-key map-side agg must flag: {bad}"

    # the established fix: exact-key repartition puts an Exchange below — clean
    fixed = partial_agg_hazards(
        li.repartition(32, "l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert fixed == []

    # low-cardinality grouping (the normal map-side combine) — never a hit
    ok = partial_agg_hazards(
        li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    )
    assert ok == []

    # BOUNDED derivation of a listed key (ADVICE r10): pmod(hash(key), 32)
    # groups on the transform's fixed 32-way cardinality, not the key's —
    # the old substring match false-positived here and forced a bogus
    # adjudication entry; bare-attribute matching stays quiet.
    bucketed = partial_agg_hazards(
        li.groupBy(F.pmod(F.hash("l_orderkey"), F.lit(32)).alias("b")).agg(
            F.sum("l_quantity").alias("q")
        )
    )
    assert bucketed == [], f"fixed-cardinality key derivation must not flag: {bucketed}"


def test_q4_size_gate_branches(spark, qs, monkeypatch):
    """q4's at-scale branch (corpus_width orderkey repartition + reduce-side
    distinct + left-semi join — the r10 in-sweep sort-task heap-OOM fix)
    must return exactly the SQL EXISTS branch's rows, plan the explicit
    exchange, and keep the near-unique distinct off the map side."""
    from traderjoe_etl_spark.plans.audit import partial_agg_hazards
    from traderjoe_etl_spark.queries import subquery_shapes as sq

    sql_rows = {
        tuple(r) for r in qs["exists_priority_counts_q4"](spark, SF).collect()
    }
    assert sql_rows  # the gate's small branch is the oracle-checked form

    monkeypatch.setattr(sq, "_Q4_SQL_CAP_BYTES", 1)  # force the at-scale branch
    big = sq.exists_priority_counts_q4(spark, SF)
    assert {tuple(r) for r in big.collect()} == sql_rows
    plan = big._jdf.queryExecution().sparkPlan().toString()
    assert "LeftSemi" in plan
    # the l_orderkey distinct is near-unique: must sit above its exchange
    assert partial_agg_hazards(big) == []


def test_near_unique_hits_bare_attribute_only():
    """ADVICE r10 unit pin: only a grouping expression that IS a bare
    attribute (name#exprId, optional physical type suffix) of a listed key
    matches — containment (hash/pmod/date_trunc derivations) does not.
    The documented false-negative mirror (cardinality-preserving transforms
    like cast) is accepted alongside the rename limitation."""
    from traderjoe_etl_spark.plans.audit import _near_unique_hits

    assert _near_unique_hits(["l_orderkey#12L"]) == ["l_orderkey"]
    assert _near_unique_hits(["o_orderkey#3", "doc_id#7"]) == ["doc_id", "o_orderkey"]
    assert _near_unique_hits(["pmod(hash(l_orderkey#12L, 42), 32)"]) == []
    assert _near_unique_hits(["date_trunc(month, o_orderdate#5)"]) == []
    assert _near_unique_hits(["l_returnflag#9"]) == []  # not a listed key
    assert _near_unique_hits(["cast(l_orderkey#12L as string)"]) == []  # documented FN


def test_partial_agg_sweep_registry_adjudicated(spark, qs):
    """Every map-side near-unique-key partial agg in the registry (at the
    oracle SF) must carry an adjudication entry in
    tools/partial_agg_sweep.ADJUDICATIONS — the committed form of the r9
    22-hit assessment, so the next q21-class hazard is caught at pytest
    time instead of by an sf100 OOM. (A DIAGNOSTIC, not a lint: dedup
    ratio is data-dependent and map-side combine is the designed win for
    doc_id-over-exploded-token groups — the adjudication is the point.)"""
    from tools.partial_agg_sweep import ADJUDICATIONS

    from traderjoe_etl_spark.plans.audit import partial_agg_hazards

    unadjudicated: dict[str, list[str]] = {}
    for name, fn in sorted(qs.items()):
        hz = partial_agg_hazards(fn(spark, SF))
        if hz and name not in ADJUDICATIONS:
            unadjudicated[name] = hz
    assert not unadjudicated, (
        "map-side partial aggs on near-unique corpus keys without an "
        "adjudication entry (add to tools/partial_agg_sweep.ADJUDICATIONS "
        "with a dedup-ratio / fallback-bound / size-gate argument, or fix "
        "with the corpus_width repartition):\n"
        + "\n".join(f"{k}: {v[0][:160]}" for k, v in sorted(unadjudicated.items()))
    )


def test_hinted_aggregate_warn_unit(spark):
    """ADVICE r9: the broadcast lint treats any Aggregate as reducing, so
    a hint over an aggregate grouped on a near-unique corpus key (the q21
    hazard class) is lint-clean yet scales with the corpus. The warn-level
    companion must surface exactly that shape — and stay quiet for
    vocab-keyed aggregates and unhinted joins."""
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.plans.audit import (
        forced_broadcast_violations,
        hinted_aggregate_warnings,
    )
    from traderjoe_etl_spark.sources.tables import read_table

    li = read_table(spark, SF, "lineitem")
    orders = read_table(spark, SF, "orders")

    per_order = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("q"))
    hinted = orders.join(
        F.broadcast(per_order), orders.o_orderkey == per_order.l_orderkey
    )
    # lint-clean (Aggregate reduces) ...
    assert forced_broadcast_violations(hinted) == []
    # ... but warned (the aggregate's cardinality IS the corpus's)
    warns = hinted_aggregate_warnings(hinted)
    assert warns and "l_orderkey" in warns[0], f"near-unique hinted agg must warn: {warns}"

    # vocab-keyed aggregate under the same hint: genuinely reduced — quiet
    vocab = li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("q"))
    assert hinted_aggregate_warnings(orders.crossJoin(F.broadcast(vocab))) == []

    # same near-unique aggregate WITHOUT a hint: planner's call — quiet
    assert hinted_aggregate_warnings(
        orders.join(per_order, orders.o_orderkey == per_order.l_orderkey)
    ) == []

    # inner near-unique aggregate BOUNDED by a vocab-keyed outer aggregate
    # (or a Limit): the OUTERMOST reducer sets the hinted relation's size,
    # so these are provably tiny — must stay quiet (review fix r10)
    rebounded = per_order.groupBy(F.col("q")).agg(F.count(F.lit(1)).alias("n"))
    assert hinted_aggregate_warnings(orders.crossJoin(F.broadcast(rebounded))) == []
    cut = per_order.limit(100)
    assert hinted_aggregate_warnings(
        orders.join(F.broadcast(cut), orders.o_orderkey == cut.l_orderkey)
    ) == []

    # Deduplicate on a near-unique key is the pagerank class — must warn
    dd = li.select("l_orderkey", "l_suppkey").dropDuplicates(["l_orderkey", "l_suppkey"])
    ddw = hinted_aggregate_warnings(
        orders.join(F.broadcast(dd), orders.o_orderkey == dd.l_orderkey)
    )
    assert ddw and "l_orderkey" in ddw[0], f"near-unique Deduplicate must warn: {ddw}"


def test_hinted_aggregate_warn_registry_wide(spark, qs):
    """No registry query ships a broadcast hint whose bounding aggregate
    groups on a near-unique corpus key (warn-level today — if a justified
    site ever appears, whitelist it HERE with its size-gate note)."""
    from traderjoe_etl_spark.plans.audit import hinted_aggregate_warnings

    offenders = {}
    for name, fn in sorted(qs.items()):
        w = hinted_aggregate_warnings(fn(spark, SF))
        if w:
            offenders[name] = w
    assert not offenders, "hinted near-unique-key aggregates:\n" + "\n".join(
        f"{k}: {v[0][:160]}" for k, v in sorted(offenders.items())
    )


def test_broadcast_lint_sees_subquery_plans(spark):
    """ADVICE r9 residual: hints inside scalar-subquery plans were
    unvisited (children()-only traversal). A broadcast hint over a corpus
    scan planted INSIDE a scalar subquery must now flag."""
    from traderjoe_etl_spark.plans.audit import forced_broadcast_violations
    from traderjoe_etl_spark.sources.tables import read_table

    read_table(spark, SF, "orders").createOrReplaceTempView("bl_sub_orders")
    read_table(spark, SF, "lineitem").createOrReplaceTempView("bl_sub_li")
    df = spark.sql(
        """
        SELECT o_orderkey FROM bl_sub_orders
        WHERE o_totalprice > (
            SELECT /*+ BROADCAST(l) */ avg(l_extendedprice)
            FROM bl_sub_li l JOIN bl_sub_orders o2 ON l.l_orderkey = o2.o_orderkey
        )
        """
    )
    bad = forced_broadcast_violations(df)
    assert bad, "hint inside a scalar subquery must be visible to the lint"


def test_gated_broadcast_derives_column_fraction(spark, monkeypatch):
    """ADVICE r9: the gate's column fraction is DERIVED from the frame
    (len(df.columns) / parquet-footer ncols), not hand-maintained — so a
    widened projection automatically widens the byte estimate. Pinned by
    choosing a cap between the 2-column and full-width estimates: the
    narrow projection broadcasts, the full-width frame declines. Row
    selectivity stays caller-owned and must be a fraction."""
    import pytest as _pytest

    from traderjoe_etl_spark.operators import joins
    from traderjoe_etl_spark.operators.joins import gated_broadcast
    from traderjoe_etl_spark.plans.audit import forced_broadcast_violations
    from traderjoe_etl_spark.sources.tables import read_table, table_bytes, table_ncols

    li = read_table(spark, SF, "lineitem")
    orders = read_table(spark, SF, "orders")
    ncols = table_ncols(SF, "lineitem")
    assert ncols == 11  # parquet footer, FIXTURES.md §B
    # cap between the 2/11 estimate and the full-width estimate
    monkeypatch.setattr(joins, "GATED_BROADCAST_CAP", int(table_bytes(SF, "lineitem") * (5 / 11)))

    narrow = li.select("l_orderkey", "l_quantity")
    hinted = orders.join(
        gated_broadcast(narrow, SF, "lineitem"),
        orders.o_orderkey == narrow.l_orderkey,
    )
    assert forced_broadcast_violations(hinted), "2/11-width estimate must pass the gate"

    wide = li  # full width: estimate = table_bytes > cap — gate declines
    declined = orders.join(
        gated_broadcast(wide, SF, "lineitem"),
        orders.o_orderkey == wide.l_orderkey,
    )
    assert forced_broadcast_violations(declined) == []

    with _pytest.raises(ValueError):
        gated_broadcast(narrow, SF, "lineitem", selectivity=1.5)


def test_partial_agg_hazard_sees_subquery_plans(spark):
    """Review finding r10: the physical walk can't see subquery plans
    (they are still LOGICAL at sparkPlan stage), so partial_agg_hazards
    checks them with the logical twin of the same hazard. A near-unique
    distinct inside a scalar subquery must flag; the corpus_width-style
    explicit repartition clears it; a vocab-keyed subquery aggregate
    never flags."""
    from traderjoe_etl_spark.plans.audit import partial_agg_hazards
    from traderjoe_etl_spark.sources.tables import read_table

    read_table(spark, SF, "orders").createOrReplaceTempView("pa_sub_orders")
    read_table(spark, SF, "lineitem").createOrReplaceTempView("pa_sub_li")

    hazard = spark.sql(
        """
        SELECT o_orderkey FROM pa_sub_orders
        WHERE o_totalprice > (
            SELECT count(*) FROM (
                SELECT DISTINCT l_orderkey, l_suppkey FROM pa_sub_li
            )
        )
        """
    )
    bad = partial_agg_hazards(hazard)
    assert any("subquery" in b and "l_orderkey" in b for b in bad), (
        f"near-unique distinct inside a scalar subquery must flag: {bad}"
    )

    fixed = spark.sql(
        """
        SELECT o_orderkey FROM pa_sub_orders
        WHERE o_totalprice > (
            SELECT count(*) FROM (
                SELECT DISTINCT l_orderkey, l_suppkey
                FROM (SELECT /*+ REPARTITION(32, l_orderkey) */ l_orderkey, l_suppkey
                      FROM pa_sub_li)
            )
        )
        """
    )
    assert [b for b in partial_agg_hazards(fixed) if "subquery" in b] == []

    vocab = spark.sql(
        """
        SELECT o_orderkey FROM pa_sub_orders
        WHERE o_totalprice > (
            SELECT count(*) FROM (SELECT DISTINCT l_returnflag FROM pa_sub_li)
        )
        """
    )
    assert [b for b in partial_agg_hazards(vocab) if "subquery" in b] == []


def test_sparse_shingle_single_canonical_postings_exchange(spark, qs):
    """r11 rewrite pin: every shuffle exchange feeding the sparse-cosine
    postings pipeline must be CANONICALLY IDENTICAL (hashpartitioning on
    sk alone over the same explode subtree) — the precondition for AQE's
    shuffle-stage reuse to materialize the tokenize→explode→hash pass
    exactly once per execution. The pre-r11 shape keyed the weights
    branch on (doc_id, sk) and the df branch on a post-agg (sk) with
    diverging pruned projections, so no two copies were canonical and
    the explode ran per branch (sf0.1: 3.35 s vs 1.13 s rewritten)."""
    from traderjoe_etl_spark.plans.audit import _kids

    df = qs["sparse_shingle_cosine_pairs"](spark, SF)
    root = df._jdf.queryExecution().executedPlan()
    if root.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        # AQE wraps the whole plan in a childless adaptive node; the
        # EnsureRequirements-prepared tree (exchanges inserted) is its
        # initialPlan
        root = root.initialPlan()

    def walk(n):
        yield n
        for k in _kids(n):
            yield from walk(k)

    def subtree_has(n, cls_fragment):
        return any(cls_fragment in m.getClass().getSimpleName() for m in walk(n))

    def is_exchange(n):
        return n.getClass().getSimpleName() == "ShuffleExchangeExec"

    # bottom-most shuffles only: the exchanges whose subtree holds the
    # explode (Generate) and no further shuffle below — i.e. the postings
    # repartition itself, not the aggregations stacked above it
    postings_exchanges = [
        n
        for n in walk(root)
        if is_exchange(n)
        and subtree_has(n, "Generate")
        and not any(is_exchange(m) for m in walk(n) if m is not n)
    ]
    assert postings_exchanges, "postings pipeline must shuffle (repartition by sk)"
    hashes = {n.canonicalized().semanticHash() for n in postings_exchanges}
    # exactly ONE canonical form (r12): the explicit isnotnull(doc_id)
    # filter ahead of the postings repartition puts the same constraint on
    # every branch copy, so the sh-side (which used to carry an optimizer-
    # inferred isnotnull) and the df-side copies are now byte-canonical and
    # AQE materializes the explode shuffle once per execution. Pre-r12 two
    # forms survived (double explode); pre-r11 every copy was its own form
    # (8) and the explode ran per branch.
    assert len(hashes) == 1, (
        f"{len(postings_exchanges)} postings exchanges collapse to "
        f"{len(hashes)} canonical forms — AQE stage reuse broken"
    )
    # and the shared exchange is keyed by sk ALONE (subset-satisfies rule
    # lets groupBy(doc_id, sk), groupBy(sk), and both joins reuse it)
    args = postings_exchanges[0].toString().splitlines()[0]
    assert "hashpartitioning(sk#" in args.replace(" ", "") or "hashpartitioning(sk" in args, args
    # the postings stream must never be broadcast DIRECTLY (no shuffle in
    # between): that would re-run the explode as a broadcast build per
    # occurrence. Broadcasts that merely sit above the reused postings
    # shuffle (e.g. the tiny norm attaches) are fine — their build reads
    # the materialized shuffle, not the raw scan.
    bad_broadcasts = [
        n
        for n in walk(root)
        if "BroadcastExchange" in n.getClass().getSimpleName()
        and subtree_has(n, "Generate")
        and not any(is_exchange(m) for m in walk(n))
    ]
    assert not bad_broadcasts, "postings subtree must not be broadcast un-shuffled"


def test_multi_touch_attribution_is_joinless_single_sort_pipeline(spark, qs):
    """r11 rewrite pin: the conversion value rides the (user, epoch)
    window (each purchase closes its own epoch, so the group holds at
    most one qualifying purchase) — the plan must be one linear pass:
    no join operator of any kind, one scan of events, and at most three
    exchanges (user_id window hash + 3-row final agg + output sort).
    HashPartitioning(user_id) satisfies ClusteredDistribution(user_id,
    epoch), so the second window adds a sort but never an exchange."""
    f = plan_facts(qs["multi_touch_attribution"](spark, SF))
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_op not in f.text, f"unexpected {join_op} in plan"
    assert len(f.scans) == 1, "events must be scanned exactly once"
    assert f.n_exchanges <= 3


def test_q16_heavy_exchange_carries_hashed_bts_key(spark, qs):
    """r11 narrow-key pin: q16's corpus-width distinct exchange must carry
    the 8-byte xxhash64(brand, type, size) surrogate + l_suppkey — two
    longs — never the three attribute strings (~45 B/row; string sort
    keys are what thrashed the execution pool in the sf100 post-mortems).
    The strings may only appear in the tiny post-aggregation dim
    exchange (7k rows)."""
    import re

    f = plan_facts(qs["notin_supplier_variety_q16"](spark, SF))
    # non-greedy up to '), REPARTITION_BY_NUM' so a nested expression in
    # the key list (e.g. an inlined xxhash64(...)) cannot truncate the
    # capture and make the string-absence check pass vacuously (ADVICE r11)
    reparts = re.findall(r"hashpartitioning\((.*?)\), REPARTITION_BY_NUM", f.text)
    assert reparts, "corpus-width repartition missing from the plan"
    for args in reparts:
        # capture must end with the partition count — proves the full
        # argument list was captured, not a paren-truncated prefix
        assert re.search(r", \d+$", args), f"truncated capture: {args!r}"
        assert "p_brand" not in args and "p_type" not in args, (
            f"attribute strings leaked into the heavy exchange: {args}"
        )
        assert "bk#" in args and "l_suppkey#" in args, args


def test_source_result_is_a_scan_of_pinned_rows(spark):
    """The REST and RPC sources fetch in one single-stage job over the key
    relation's own partitions (no spread shuffle) and return pinned rows:
    a source result's executed plan holds neither an Exchange nor the
    MapInPandas fetch, so no consumer can re-fetch."""
    from pyspark.sql import types as T

    from traderjoe_etl_spark.sources.rest import rest_snapshot_source
    from traderjoe_etl_spark.sources.rpc import rpc_bins_source

    keys = spark.createDataFrame(
        [("u", f"p{i}", i) for i in range(8)], "user_address string, poolAddress string, activeBinId int"
    ).coalesce(3)
    sources = {
        "rest": lambda: rest_snapshot_source(
            keys, "https://api/{poolAddress}", T.StructType([T.StructField("v", T.DoubleType())]),
            fetcher=lambda url, params: [{"v": 1.0}],
        ),
        "rpc": lambda: rpc_bins_source(keys, lambda pool, user, active, plus, minus: [(active, 1, 1, 1, 1)]),
    }
    sc, tracker = spark.sparkContext, spark.sparkContext.statusTracker()
    for name, make in sources.items():
        group = f"source-shape-{name}"
        sc.setJobGroup(group, group)
        try:
            df = make()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        stages = [s for j in tracker.getJobIdsForGroup(group) for s in tracker.getJobInfo(j).stageIds]
        assert len(stages) == 1, f"{name}: fetch ran in stages {stages}"
        assert tracker.getStageInfo(stages[0]).numTasks == 3  # the key relation's partitions
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan, plan
        assert "Exchange" not in plan and "MapInPandas" not in plan, plan


def test_snapshot_statement_exchanges(spark):
    """The one-statement ``build_snapshot`` over the parity fixture plans no
    more shuffle exchanges than the Column-composed plan it replaced (9),
    with the pool dim still its one broadcast."""
    from test_pipeline_parity import RUN_TS, _fixture_inputs

    from traderjoe_etl_spark.plans.traderjoe import build_snapshot

    pairs, inputs = _fixture_inputs(spark)
    f = plan_facts(build_snapshot(pairs, inputs, RUN_TS, strict_repr=True))
    assert f.n_exchanges <= 9, f.n_exchanges
    assert f.n_broadcasts == 1, f.n_broadcasts


def test_history_queries_over_the_store_plan_no_exchange(spark, tmp_path):
    """The five analyst query shapes over a store written by
    ``append_snapshot`` read it as a bucketed scan and move no rows: each
    groups or partitions on ``pool_address`` or (user, pool), which the
    store's pool buckets already satisfy."""
    from pyspark.sql import functions as F

    from traderjoe_etl_spark.operators.aggregates import argmax_rows, group_agg
    from traderjoe_etl_spark.operators.topk import top_k_per_group
    from traderjoe_etl_spark.operators.windows import moving_agg, snapshot_delta
    from traderjoe_etl_spark.plans.traderjoe import PAIR_KEYS
    from traderjoe_etl_spark.sinks import append_snapshot, read_snapshots
    from tests.test_sinks import snapshot_frame

    store = str(tmp_path / "snapshots")
    for hour in range(0, 48, 12):  # two days
        rows = spark.range(24).selectExpr(
            "concat('0xuser', id % 6) AS user_address",
            "concat('0xpool', id % 4) AS pool_address",
            f"1767225600L + {hour} * 3600 AS current_unix_timestamp",
            "id * 1.5D AS `total_token_value(USD)`",
            f"id * {hour + 1} * 0.1D AS `accrued_fees_token_x(USD)`",
            "id * 0.01D AS `APR%`",
            "-id * 0.2D AS `impermanent_loss(USD)`",
        )
        append_snapshot(snapshot_frame(rows), store)
    df = read_snapshots(spark, store)
    day = df.withColumn("day", F.col("snapshot_date").cast("string"))
    pool_day = ["pool_address", "day"]
    hourly = group_agg(df, ["pool_address", "current_unix_timestamp"], {"apr": ("avg", "APR%")})
    shapes = {
        "argmax_rows": argmax_rows(df, PAIR_KEYS, ["current_unix_timestamp"]),
        "snapshot_delta": group_agg(
            snapshot_delta(day, PAIR_KEYS, ["current_unix_timestamp"], "accrued_fees_token_x(USD)", out="g"),
            pool_day,
            {"g": ("sum", "g")},
        ),
        "moving_agg": moving_agg(hourly, ["pool_address"], ["current_unix_timestamp"], "apr", 23, "avg"),
        "top_k_per_group": top_k_per_group(
            group_agg(df, PAIR_KEYS, {"il": ("max", "impermanent_loss(USD)")}), ["pool_address"], ["il"], 10
        ),
        "group_agg": group_agg(day, pool_day, {"n": ("count", "user_address"), "tvl": ("sum", "total_token_value(USD)")}),
    }
    for name, q in shapes.items():
        f = plan_facts(q)
        assert f.n_exchanges == 0, (name, f.text)
        assert "Bucketed: true" in f.text, (name, f.text)
