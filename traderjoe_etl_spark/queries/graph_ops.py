"""Graph analytics beyond the existing PageRank / connected-components
coverage (round 4, session 3): triangle counting + global transitivity
on the part co-purchase graph.

Triangle counting is the canonical "join explosion" graph workload — the
naive wedge join over raw edges is quadratic in hot-node degree. The
scalable form (degree orientation: orient every edge from its
lower-(degree, id) endpoint to the higher one, then join oriented wedges
with the closing oriented edge) bounds every out-degree by O(√m), which
is exactly what survives a power-law degree distribution at 100 TB. Both
the Spark plan and the DuckDB oracle replay the same orientation
CTE-for-CTE, so the counts are integer-exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..sources.tables import read_table
from . import query


# Packed total-order key for degree orientation: deg * 1e10 + node_id.
# Unique because node ids are unique; headroom: deg ≤ |parts| ≪ 1e10 and
# deg·1e10 ≪ 2^63 for any realistic part dimension.
_PK = 10_000_000_000

# Shared one-year co-purchase relations — the SAME slice/dedup rule for the
# whole graph/recommendation family (triangle, BFS, item-item CF).  A drift
# in the date range or distinct rule in one query would silently break the
# documented "same edge set" invariant, so there is exactly one builder.
_CP_LO, _CP_HI = "1996-01-01", "1997-01-01"


def co_purchase_op(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (orderkey, partkey) pairs in the one-year slice."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit(_CP_LO))
            & (F.col("l_shipdate") < F.lit(_CP_HI))
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("p"))
        .distinct()
    )


def co_purchase_pairs(op: DataFrame) -> DataFrame:
    """Unordered within-order part pairs (a < b), NOT deduplicated — the
    per-order self-join whose fan-out is bounded by order SIZE (~7 lines),
    never |parts|^2. Callers distinct() for an edge set or groupBy-count
    for co-occurrence weights."""
    x, y = op.alias("x"), op.alias("y")
    return x.join(
        y, (F.col("x.ok") == F.col("y.ok")) & (F.col("x.p") < F.col("y.p"))
    ).select(F.col("x.p").alias("a"), F.col("y.p").alias("b"))



@query(
    "triangle_count_copurchase",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    ),
    e AS (
        SELECT DISTINCT x.p AS a, y.p AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p
    ),
    deg AS (
        SELECT n, CAST(count(*) AS BIGINT) AS d
        FROM (SELECT a AS n FROM e UNION ALL SELECT b AS n FROM e)
        GROUP BY n
    ),
    keyed AS (
        SELECT e.a, e.b, da.d * {_PK} + e.a AS ka, db.d * {_PK} + e.b AS kb
        FROM e JOIN deg da ON da.n = e.a JOIN deg db ON db.n = e.b
    ),
    o AS (
        SELECT CASE WHEN ka < kb THEN a ELSE b END AS src,
               CASE WHEN ka < kb THEN b ELSE a END AS dst,
               CASE WHEN ka < kb THEN kb ELSE ka END AS kdst
        FROM keyed
    ),
    tri AS (
        SELECT CAST(count(*) AS BIGINT) AS t
        FROM o e1
        JOIN o e2 ON e1.src = e2.src AND e1.kdst < e2.kdst
        JOIN o e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    ),
    wed AS (SELECT CAST(sum((d * (d - 1)) // 2) AS BIGINT) AS w,
                   CAST(count(*) AS BIGINT) AS nn
            FROM deg),
    ec AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e)
    SELECT wed.nn AS n_nodes, ec.m AS n_edges, wed.w AS n_wedges,
           tri.t AS n_triangles,
           round(3.0 * tri.t / wed.w, 6) AS transitivity
    FROM tri, wed, ec
    """,
)
def triangle_count_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient (transitivity =
    3·triangles / wedges) of the part co-purchase graph: nodes are parts,
    an edge joins two parts bought in the same order (one year's slice;
    distinct unordered pairs).

    Plan shape — the scalable triangle plan, not the naive one:
    1. per-order part pairs via an equi-self-join on orderkey (bounded by
       order size, ~7 lines), distinct-ed into an edge set — an
       edge-list build, linear in pair volume;
    2. degrees via union+groupBy (map-side combinable);
    3. DEGREE ORIENTATION: each edge points from its lower packed
       (deg·1e10 + id) endpoint to the higher. Out-degree after
       orientation is O(√m) even on power-law graphs — the hot-node
       wedge explosion the naive plan dies on cannot happen;
    4. wedges e1(u→v), e2(u→w) joined on src (bounded fan-out per node),
       closed by an equi-join against the oriented edge (v→w). All three
       joins are equi-joins on graph keys — every one shuffles on a node
       id, AQE-skew-splittable, no broadcast of anything corpus-scale.
    The edge set and the oriented edge set are each consumed 3× — both
    are lazily localCheckpoint-ed so the distinct self-join builds once
    (the static-relation rule from the PageRank family: a lazy plan
    re-derives a multi-consumed subtree per consumer).
    Wedge count for the denominator comes from degrees alone
    (Σ d(d−1)/2, integer-exact). Counts are integers; the only float is
    the final rounded transitivity ratio."""
    e = (
        co_purchase_pairs(co_purchase_op(spark, sf_dir))
        .distinct()
        # DISK_ONLY: corpus-scale edge sets held deserialized on-heap
        # GC-kill the sf100 audit JVM (pagerank-edges rule)
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    deg = (
        e.select(F.col("a").alias("n"))
        .unionAll(e.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    keyed = (
        e.join(da, F.col("da.n") == F.col("a"))
        .join(db, F.col("db.n") == F.col("b"))
        .select(
            "a",
            "b",
            (F.col("da.d") * _PK + F.col("a")).alias("ka"),
            (F.col("db.d") * _PK + F.col("b")).alias("kb"),
        )
    )
    o = keyed.select(
        F.when(F.col("ka") < F.col("kb"), F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(F.col("ka") < F.col("kb"), F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(F.col("ka") < F.col("kb"), F.col("kb")).otherwise(F.col("ka")).alias("kdst"),
    ).localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    e1, e2, e3 = o.alias("e1"), o.alias("e2"), o.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.kdst") < F.col("e2.kdst")),
        )
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst")) & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
    )
    wed = deg.agg(
        F.expr("CAST(sum((d * (d - 1)) div 2) AS BIGINT)").alias("w"),
        F.count(F.lit(1)).cast("long").alias("nn"),
    )
    ec = e.agg(F.count(F.lit(1)).cast("long").alias("m"))
    return (
        tri.join(F.broadcast(wed))
        .join(F.broadcast(ec))
        .select(
            F.col("nn").alias("n_nodes"),
            F.col("m").alias("n_edges"),
            F.col("w").alias("n_wedges"),
            F.col("t").alias("n_triangles"),
            F.round(F.lit(3.0) * F.col("t") / F.col("w"), 6).alias("transitivity"),
        )
    )


@query(
    "bfs_hop_distance",
    oracle=f"""
    WITH RECURSIVE op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    ),
    e AS (
        SELECT DISTINCT x.p AS a, y.p AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p
    ),
    ge AS (SELECT a AS s, b AS d FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT s AS n, count(*) AS dg FROM ge GROUP BY s),
    seed AS (SELECT n FROM deg ORDER BY dg DESC, n ASC LIMIT 1),
    bfs(node, hop) AS (
        SELECT n, 0 FROM seed
        UNION
        SELECT ge.d, bfs.hop + 1
        FROM bfs JOIN ge ON ge.s = bfs.node
        WHERE bfs.hop < 4
    ),
    md AS (SELECT node, CAST(min(hop) AS INT) AS hop FROM bfs GROUP BY node)
    SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes, CAST(sum(node) AS BIGINT) AS sum_ids
    FROM md GROUP BY hop ORDER BY hop
    """,
)
def bfs_hop_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first hop distance (≤ 4 hops) from the highest-degree part
    in the co-purchase graph — the iterative-graph-traversal primitive
    (the DuckDB oracle is the same traversal as a recursive CTE, so the
    per-hop node counts and id sums are integer-exact across engines).

    Spark has no recursive CTE; the scalable form is frontier iteration:

    1. the same one-year co-purchase edge set as triangle_count_copurchase,
       made undirected (union of both orientations) and
       localCheckpoint-ed — the static-relation rule for iterative
       algorithms (a lazy plan re-derives the distinct self-join per
       consumer, ~7x; see pagerank_sources);
    2. seed = argmax-degree node (TakeOrderedAndProject limit 1 — a
       bounded collect, never a global rank window);
    3. per round: frontier ⋈ edges (equi-join shuffle on node id,
       AQE-skew-splittable) → candidate nodes, ANTI-joined against the
       visited set (min-hop falls out of visit order), each round
       localCheckpoint-ed eagerly so round k's plan never re-inlines
       round k-1 (the (n^2)^k composition blowup from the BPE family).

    Every round is one shuffle bounded by |frontier| x avg-degree; the
    visited set carries (node, hop) only — 16 bytes a row at 100 TB.
    Rounds are driver-side Python over KB-sized plans, not data collects.
    """
    # e is consumed by BOTH unionAll branches of ge — checkpoint it so the
    # distinct self-join (the dominant cost) builds once, then checkpoint
    # ge too for the seed-degree agg + every BFS round (pagerank rule).
    e = (
        co_purchase_pairs(co_purchase_op(spark, sf_dir))
        .distinct()
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    ge = (
        e.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionAll(e.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    seed_row = (
        ge.groupBy(F.col("s").alias("n"))
        .agg(F.count(F.lit(1)).alias("dg"))
        .orderBy(F.col("dg").desc(), F.col("n").asc())
        .limit(1)
        .collect()
    )
    if not seed_row:  # empty slice/graph: degrade to an empty result
        return spark.createDataFrame(
            [], "hop int, n_nodes bigint, sum_ids bigint"
        )
    seed = int(seed_row[0]["n"])
    frontiers = [
        spark.createDataFrame(
            [(seed, 0)], "node bigint, hop int"
        ).localCheckpoint(eager=True)
    ]
    for hop in range(1, 5):
        # visited = lazy union of the already-checkpointed frontiers: no
        # per-round re-materialization of the whole visited set (each round
        # checkpoints only its OWN new frontier)
        visited = frontiers[0]
        for fr in frontiers[1:]:
            visited = visited.unionAll(fr)
        nxt = (
            frontiers[-1].join(ge, frontiers[-1]["node"] == ge["s"])
            .select(F.col("d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .select("node", F.lit(hop).cast("int").alias("hop"))
            .localCheckpoint(eager=True)
        )
        frontiers.append(nxt)
    visited = frontiers[0]
    for fr in frontiers[1:]:
        visited = visited.unionAll(fr)
    return (
        visited.groupBy("hop")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.sum("node").cast("long").alias("sum_ids"),
        )
        .orderBy("hop")
    )


@query(
    "label_propagation_communities",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    ),
    e AS (
        SELECT DISTINCT x.p AS a, y.p AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p
    ),
    ge AS (SELECT a AS s, b AS d FROM e UNION ALL SELECT b, a FROM e),
    l0 AS (SELECT DISTINCT s AS node, s AS lbl FROM ge),
    r1c AS (
        SELECT ge.d AS node, l0.lbl, CAST(count(*) AS BIGINT) AS c
        FROM ge JOIN l0 ON l0.node = ge.s
        GROUP BY ge.d, l0.lbl
    ),
    l1 AS (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
            FROM r1c
        ) WHERE rn = 1
    ),
    r2c AS (
        SELECT ge.d AS node, l1.lbl, CAST(count(*) AS BIGINT) AS c
        FROM ge JOIN l1 ON l1.node = ge.s
        GROUP BY ge.d, l1.lbl
    ),
    l2 AS (
        SELECT node, lbl FROM (
            SELECT node, lbl,
                   row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl ASC) AS rn
            FROM r2c
        ) WHERE rn = 1
    )
    SELECT lbl AS community, CAST(count(*) AS BIGINT) AS size,
           CAST(sum(node) AS BIGINT) AS sum_ids
    FROM l2 GROUP BY lbl
    ORDER BY size DESC, community ASC LIMIT 20
    """,
)
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two synchronized rounds of label propagation (LPA community
    detection) on the co-purchase graph: every node starts labeled with its
    own id; each round it adopts the most frequent label among its
    neighbors (ties broken by the smallest label — the deterministic LPA
    variant, so the result is partition- and engine-invariant).  Output:
    the 20 largest communities after round 2 with exact sizes and member-id
    sums.

    Scale shape: each round is one equi-join of the label relation (16
    bytes/node) against the checkpointed edge set plus a map-combinable
    (node, label) count and a per-node rank window bounded by the node's
    distinct neighbor-label count.  Labels are re-checkpointed per round
    (the iterative-algorithm rule); the final top-20 cut is
    TakeOrderedAndProject, never a global rank window.  Fixed 2 rounds =
    fully SQL-replayable oracle (the convergence loop is a driver-side
    wrapper at deployment; each round's cost profile is identical)."""
    e = (
        co_purchase_pairs(co_purchase_op(spark, sf_dir))
        .distinct()
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    ge = (
        e.select(F.col("a").alias("s"), F.col("b").alias("d"))
        .unionAll(e.select(F.col("b").alias("s"), F.col("a").alias("d")))
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    labels = ge.select(F.col("s").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lbl").asc())
    for _ in range(2):
        counts = (
            ge.join(labels, labels["node"] == ge["s"])
            .groupBy(F.col("d").alias("nd"), "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .withColumnRenamed("nd", "node")
        )
        labels = (
            counts.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("node", "lbl")
            .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        )
    return (
        labels.groupBy(F.col("lbl").alias("community"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("size"),
            F.sum("node").cast("long").alias("sum_ids"),
        )
        .orderBy(F.col("size").desc(), F.col("community").asc())
        .limit(20)
    )


_KCORE_K = 3
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    head = """
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS p
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
    ),
    e0 AS (
        SELECT DISTINCT x.p AS a, y.p AS b
        FROM op x JOIN op y ON x.ok = y.ok AND x.p < y.p
    )"""
    parts = [head]
    for r in range(1, _KCORE_ROUNDS + 1):
        prev = f"e{r - 1}"
        parts.append(f""",
    d{r} AS (SELECT n, count(*) AS d
             FROM (SELECT a AS n FROM {prev} UNION ALL SELECT b FROM {prev})
             GROUP BY n),
    s{r} AS (SELECT n FROM d{r} WHERE d >= {_KCORE_K}),
    e{r} AS (SELECT p.a, p.b FROM {prev} p
             JOIN s{r} x ON x.n = p.a JOIN s{r} y ON y.n = p.b),
    r{r} AS (SELECT {r} AS round,
                    (SELECT CAST(count(*) AS BIGINT) FROM s{r}) AS n_nodes,
                    (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) FROM s{r}) AS sum_ids,
                    (SELECT CAST(count(*) AS BIGINT) FROM e{r}) AS n_edges)""")
    unions = " UNION ALL ".join(f"SELECT * FROM r{r}" for r in range(1, _KCORE_ROUNDS + 1))
    parts.append(f"\n    {unions}")
    return "".join(parts)


@query("kcore_peeling", oracle=_kcore_oracle())
def kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative k-core peeling (k=3, 3 rounds) over the co-purchase
    graph: each round drops every node whose CURRENT degree is < k and
    restricts the edge set to surviving endpoints — the standard
    "dense-core extraction" primitive (spam/boilerplate hub detection,
    community seeding) beside BFS/LPA/PageRank in the iterative family.
    Emits (round, n_nodes, sum_ids, n_edges) per round, integer-exact;
    the oracle replays the identical unrolled peel.

    Scale shape: the same one-year co-purchase edge builder as
    triangle/BFS/LPA (checkpointed once — static-relation rule), then per
    round one endpoint-union degree aggregate (map-combinable, shuffle
    carries ≤|nodes| rows) and two LEFT SEMI joins on the survivor set,
    with the shrinking edge set lazily DISK_ONLY-checkpointed per round
    (each round's edges feed the next round's degrees, its own stats, and
    the restriction — 3 consumers; and un-checkpointed lazy composition
    would re-inline round k−1's joins at every consumer, the (n²)^k
    iterative-HOF lesson)."""
    e = (
        co_purchase_pairs(co_purchase_op(spark, sf_dir))
        .distinct()
        .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    )
    rows = []
    for r in range(1, _KCORE_ROUNDS + 1):
        deg = (
            e.select(F.col("a").alias("n"))
            .unionAll(e.select(F.col("b").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        surv = deg.filter(F.col("d") >= _KCORE_K).select("n").localCheckpoint(
            eager=False, storageLevel=StorageLevel.DISK_ONLY
        )
        e = (
            e.join(surv.withColumnRenamed("n", "a"), "a", "left_semi")
            .join(surv.withColumnRenamed("n", "b"), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
        )
        stats = surv.agg(
            F.count(F.lit(1)).cast("long").alias("n_nodes"),
            F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("sum_ids"),
        ).crossJoin(e.agg(F.count(F.lit(1)).cast("long").alias("n_edges")))
        rows.append(stats.select(F.lit(r).alias("round"), "n_nodes", "sum_ids", "n_edges"))
    out = rows[0]
    for x in rows[1:]:
        out = out.unionAll(x)
    return out
