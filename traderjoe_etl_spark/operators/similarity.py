"""Similarity search over embedding columns (SURVEY.md §2B ◆).

- ``cosine_topk_brute`` — exact single-query top-k: one shuffle-free
  scan into TakeOrderedAndProject. Correct at any scale where a full
  scan is acceptable.
- ``cosine_topk_batch`` — exact per-query top-k for a batch of queries.
- ``ivf_assign`` / ``ivf_topk`` — the scale path: an IVF coarse
  quantizer, then exact cosine within the probed clusters only.
- ``cosine_near_dup_pairs`` — LSH-bucketed near-duplicate pairs.

Dense vector math runs in ``mapInArrow`` numpy-GEMM kernels: Spark HOFs
are interpreted per element, so dim×k math belongs in one vectorized
matmul per Arrow batch, with zero-copy list buffers and no per-row Python
objects. ``F.zip_with`` / ``F.aggregate`` expressions remain where one
side is a constant vector (the ``const`` single-query scan, the LSH plane
bank) and in the bucket self-join of ``cosine_near_dup_pairs``. Kernels
and expressions compute dot-then-normalize in the same operation order,
so they agree with each other and with the SQL oracles.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Column names of the embedding tables: the corpus (vec_id, embedding)
# and the query bank (query_id, qv).
ID_COL, VEC_COL, QUERY_ID_COL, QUERY_VEC_COL = "vec_id", "embedding", "query_id", "qv"
# Rows one near-dup kernel group may hold before a bucket is
# block-partitioned (see _near_dup_pairs_arrow).
MAX_BUCKET_ROWS = 4096
# The top-k operators rank on the cosine rounded to this many decimals,
# ties broken by id: the grid the SQL oracles order by.
SCORE_DIGITS = 6
# IVF coarse quantizer size (seeded from the first rows by id).
IVF_CENTROIDS = 8
# Seed of the LSH plane bank; the near-dup oracle inlines the same planes.
LSH_SEED = 42


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _l2(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def _dot_const_sql(vec_sql: str, const_vec: list[float]) -> str:
    """SQL text for dot(vec_col, constant vector). Building constant-vector
    expressions as ONE F.expr string instead of dim×py4j Column calls keeps
    plan construction ~5× faster for plane/centroid banks (the literals are
    constant-folded at analysis; repr() round-trips doubles exactly)."""
    arr = "array(" + ", ".join(f"CAST('{x!r}' AS DOUBLE)" for x in const_vec) + ")"
    return (
        f"aggregate(zip_with({vec_sql}, {arr}, (x, y) -> CAST(x AS DOUBLE) * y), "
        f"CAST(0 AS DOUBLE), (a, v) -> a + v)"
    )


def cosine(a: Column | str, b: Column | str) -> Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return _dot(ca, cb) / F.nullif(_l2(ca) * _l2(cb), F.lit(0.0))


def cosine_topk_brute(
    corpus: DataFrame,
    query: DataFrame,
    k: int,
    impl: str,
    cache_key: str | None = None,
) -> DataFrame:
    """Exact top-k by cosine against a single-row query DataFrame.
    Ranks by the score rounded to ``SCORE_DIGITS`` (ties broken by id) so
    cross-engine comparisons share one grid; the emitted ``cosine`` stays
    raw (callers round for display).

    The query vector is collected once (cached via ``cache_key``); two
    physical strategies, same result, chosen by the caller from the
    corpus size (the ``cosine_topk`` query gates on table bytes):

    - ``impl="const"`` — the vector is INLINED as a constant-array
      literal, so scoring is one pure-JVM codegen scan into
      TakeOrderedAndProject: a single job with no Python workers. The
      fastest small-corpus form (measured sf1: 0.060 s/execution vs 0.15
      arrow, which pays a Python-worker round trip per task).
    - ``impl="arrow"`` — numpy matvec per Arrow batch with in-kernel
      top-k pruning; wins once interpreted-HOF cost dominates dispatch
      (big corpora).

    The scan stays shuffle-free either way; orderBy + limit plans
    TakeOrderedAndProject (per-partition heaps), deterministic tie-break
    by id."""
    q = query.select(F.lit(-1).cast("long").alias("__qid"), F.col(QUERY_VEC_COL))
    q_ids, Q = _collect_query_bank(q, "__qid", QUERY_VEC_COL, cache_key=cache_key)
    if impl == "const":
        if len(q_ids) != 1:
            raise ValueError(f"impl='const' needs exactly one query row, got {len(q_ids)}")
        qv = [float(x) for x in Q[0]]
        qn = math.sqrt(sum(x * x for x in qv))
        dot = F.expr(_dot_const_sql(VEC_COL, qv))
        scored = corpus.select(
            F.col(ID_COL),
            (dot / F.nullif(_l2(F.col(VEC_COL)) * F.lit(qn), F.lit(0.0))).alias("cosine"),
        )
    elif impl == "arrow":
        scored = _topk_scores_arrow(
            corpus, q_ids, Q, k, ID_COL, VEC_COL, "__qid", quantum=10.0 ** -SCORE_DIGITS
        ).drop("__qid")
    else:
        raise ValueError(f"unknown impl {impl!r}")
    return scored.orderBy(F.round("cosine", SCORE_DIGITS).desc(), F.col(ID_COL)).limit(k)


def cosine_topk_batch(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    cache_key: str | None = None,
) -> DataFrame:
    """Exact top-k per query for a BATCH of query vectors (the retrieval /
    dedup-against-a-set shape): score corpus × Q in one shuffle-free scan,
    per-query top-k via row_number. A corpus vector whose id equals the
    query's id never ranks for that query.

    The query bank is collected (it is small
    by contract — a broadcastable set), and a ``mapInArrow`` kernel scores
    each Arrow batch of corpus vectors against ALL queries with one numpy
    GEMM and prunes to the per-batch top-k inside the kernel — this is
    the case the UDF doctrine carves out: Spark's higher-order functions
    are interpreted per element, so dim×|Q| HOF ops/row lose to one
    vectorized GEMM, and emitting only ~k rows per (query, batch) keeps
    the corpus×Q product out of the exchange entirely (see
    ``_topk_scores_arrow`` for why the pruning is exact under rounded
    ranking; 20k×64×25 at sf1 measured 11.5 s as a full-scoring pandas
    UDF vs 0.7 s with the pruning kernel).

    Spark plans the rank≤k filter as WindowGroupLimit (partial → final):
    each map task keeps a k-heap per query BEFORE the exchange, so the
    shuffle carries ≤ k·partitions rows per query — no corpus×Q blowup even
    with a skewed handful of query keys. The emitted ``cosine`` is rounded
    to ``SCORE_DIGITS`` and orders the rows (tie-broken by id), so
    cross-engine comparisons are deterministic at the rounding grid."""
    from pyspark.sql import Window

    q_ids, Q = _collect_query_bank(queries, QUERY_ID_COL, QUERY_VEC_COL, cache_key=cache_key)
    scored = _topk_scores_arrow(
        corpus,
        q_ids,
        Q,
        k,
        ID_COL,
        VEC_COL,
        QUERY_ID_COL,
        quantum=10.0 ** -SCORE_DIGITS,
        exclude_self=True,
    )
    scored = scored.withColumn("cosine", F.round("cosine", SCORE_DIGITS))
    w = Window.partitionBy(QUERY_ID_COL).orderBy(F.col("cosine").desc(), F.col(ID_COL))
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


# Collected query banks, keyed (applicationId, cache_key): the bank pull is
# a whole Spark job (scan + filter + collect) per PLAN BUILD — for a repeat
# search workload (bench, dashboards, batch retrieval loops) re-running it
# per build is the dominant dispatch cost at small corpora. The bank is
# kilobytes of plain numpy (nothing bound to a SparkContext), deterministic
# per corpus, so the cache is safe across sessions of one application.
_QUERY_BANKS: dict[tuple[str, str], tuple] = {}


def _collect_query_bank(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    cache_key: str | None = None,
):
    """(q_ids int64[], Q float64[nq×dim]) from a query DataFrame — small by
    contract (a broadcastable retrieval set), so the collect is kilobytes.
    ``cache_key`` (e.g. the corpus dir + a query-spec tag) memoizes the
    collect per application — pass it when the same bank is rebuilt across
    plan builds."""
    import numpy as np

    def _pull():
        q_rows = queries.select(query_id_col, query_vec_col).collect()
        q_ids = np.array([int(r[0]) for r in q_rows], dtype=np.int64)
        Q = np.array([[float(x) for x in r[1]] for r in q_rows], dtype=np.float64)
        return q_ids, Q

    if cache_key is None:
        return _pull()
    from ..functions import session_cache

    # cache_key convention (the llm_ops call sites): "sf_dir::fp::tag"
    # where fp is the corpus content fingerprint. The eviction group drops
    # the fingerprint so regenerating a table under the same path replaces
    # the stale bank instead of accumulating keys forever in a long-lived
    # session (ADVICE r7).
    parts = cache_key.split("::")
    evict = f"{parts[0]}::{parts[2]}" if len(parts) == 3 else cache_key
    return session_cache.get_value(
        _QUERY_BANKS, queries.sparkSession, cache_key, _pull, evict_key=evict
    )


def _topk_scores_arrow(
    corpus: DataFrame,
    q_ids,
    Q,
    k: int,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    quantum: float = 0.0,
    exclude_self: bool = False,
) -> DataFrame:
    """(query_id, id, cosine) candidate rows via ``mapInArrow``: one numpy
    GEMM per Arrow batch — ``S = (A @ Q.T) / (|A| ⊗ |Q|)``, dot-then-
    normalize, the HOF/SQL operation order — followed by IN-KERNEL top-k
    pruning: only rows within ``quantum`` of each query's per-batch k-th
    score are emitted, so the exchange downstream carries ~k rows per
    (query, batch) instead of the full corpus×Q product (the pandas-UDF
    full-scoring form was measured 12× slower at 20k×64×25 — dominated by
    per-row Python list conversion and the 500k-row explode).

    The pruning is EXACT for rank-by-round(cosine, d) with
    ``quantum = 10^-d``: if raw x < kth − 10^-d then round(x) < round(kth)
    strictly (grid spacing 10^-d), so no pruned row can reach the rounded
    top-k; with ``quantum = 0`` it is exact for raw-score ranking
    (boundary ties are kept inclusively either way). Arrow list buffers
    feed numpy zero-copy — no Python objects per row in either direction.
    NaN cosines (zero-norm vectors) are emitted as NULL and rank last,
    matching the nullif contract of :func:`cosine` and the SQL oracles."""
    import numpy as np
    import pyarrow as pa

    qn = np.sqrt((Q * Q).sum(axis=1))

    def score(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64, copy=False)
            A = (
                b.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, -1)
            )
            an = np.sqrt((A * A).sum(axis=1))
            den = np.outer(an, qn)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = np.where(den > 0.0, (A @ Q.T) / den, np.nan)
            R = np.nan_to_num(S, nan=-2.0)  # NULL scores rank below any cosine
            if exclude_self:
                R[ids[:, None] == q_ids[None, :]] = -3.0  # never occupies a slot
            if n > k:
                kth = np.partition(R, n - k, axis=0)[n - k]
                mask = R >= (kth - quantum)
            else:
                mask = np.ones_like(R, dtype=bool)
            if exclude_self:
                mask &= ids[:, None] != q_ids[None, :]
            rows, cols = np.nonzero(mask)
            cos = S[rows, cols]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(q_ids[cols]),
                    pa.array(ids[rows]),
                    pa.array(cos, mask=np.isnan(cos)),
                ],
                names=[query_id_col, id_col, "cosine"],
            )

    src = corpus.select(F.col(id_col).cast("long").alias(id_col), F.col(vec_col))
    return src.mapInArrow(score, f"{query_id_col} long, {id_col} long, cosine double")


def adaptive_n_planes(n: int, target_bucket: int = 64) -> int:
    """Corpus-adaptive sign-LSH plane count: the smallest bank whose
    EXPECTED bucket load is ≤ ``target_bucket`` (2^planes ≥ n/target + 1),
    floored at 4 so tiny corpora keep a few buckets.

    Why adaptive: in-bucket pair work is ~n²/2^planes, so a PINNED bank
    silently goes quadratic as the corpus grows (a 4-plane bank at sf10's
    200k vectors is ~1.25e9 candidate pairs — a multi-hour stall), while
    this sizing keeps expected pair volume ~n·target/2, LINEAR in n. The
    regime is pinned empirically by
    tests/test_operators.py::test_adaptive_lsh_regime_pair_volume_linear."""
    import math

    return max(4, math.ceil(math.log2(max(n, 1) / target_bucket + 1)))


def random_hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    """Deterministic unit-ish Gaussian hyperplanes drawn from ``LSH_SEED``
    (driver-side constants, broadcast into the plan as literals)."""
    rng = random.Random(LSH_SEED)
    planes = []
    for _ in range(n_planes):
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def lsh_bucket_key(vec_col: str, planes: list[list[float]]) -> Column:
    """Bucket id = sign-bit string of dot products with each plane, built
    as ONE SQL expression (n_planes × dim literals via composed Columns
    would dominate plan-build time)."""
    bits_sql = ", ".join(
        f"CASE WHEN {_dot_const_sql(f'`{vec_col}`', plane)} >= 0 THEN '1' ELSE '0' END"
        for plane in planes
    )
    return F.expr(f"concat({bits_sql})")


def _assign_arrow(emb: DataFrame, cents, vec_col: str, unit) -> DataFrame:
    """Nearest-centroid assignment as one numpy GEMM per Arrow batch:
    ``A @ C.T`` against unit centroids (argmax dot == argmax cosine, the
    row norm being constant per row), ties to the highest cluster id.
    Input columns pass through the kernel zero-copy; only the int32
    cluster column is appended."""
    import numpy as np
    import pyarrow as pa

    cluster_ids = np.array([i for i, _ in cents], dtype=np.int32)
    C = np.array([unit(v) for _, v in cents], dtype=np.float64)

    def assign_batches(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            vi = b.schema.get_field_index(vec_col)
            A = (
                b.column(vi)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, -1)
            )
            S = A @ C.T
            # last argmax = highest cluster id on ties
            idx = (S.shape[1] - 1) - np.argmax(S[:, ::-1], axis=1)
            yield pa.RecordBatch.from_arrays(
                list(b.columns) + [pa.array(cluster_ids[idx])],
                names=list(b.schema.names) + ["cluster"],
            )

    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in emb.schema.fields)
    return emb.mapInArrow(assign_batches, ddl + ", cluster int")


def l2_assign_arrow(
    emb: DataFrame, cents: list[tuple[int, list[float]]], vec_col: str
) -> DataFrame:
    """Nearest-centroid assignment under squared-L2, emitting the distance:
    appends ``cluster int`` and ``dist double`` (rounded to 6 dp) to the
    input columns. One vectorized numpy pass per Arrow batch computes
    ``sum((x - c)**2)`` per centroid EXPLICITLY (no ``|x|²-2x·c+|c|²``
    expansion — the expansion's cancellation amplifies float error near
    zero distances, which matters because identical vectors must score a
    clean 0.0 against their own centroid). Assignment is argmin over the
    ROUNDED distance with first-occurrence (= lowest cluster id) tie-break
    — the exact semantics a SQL oracle replays with
    ``row_number() OVER (ORDER BY round(d, 6), cid)``.

    Rounding note: np.round is half-even while SQL round() is half-away;
    a float64 sum of squares landing exactly on a representable 5e-7
    half-grid point is the only divergence case and does not occur for
    non-degenerate data (0.0 and other exact grid values round identically
    everywhere). Same 1-ulp caveat class as the cosine kernels above.
    """
    import numpy as np
    import pyarrow as pa

    cluster_ids = np.array([i for i, _ in cents], dtype=np.int32)
    C = np.array([v for _, v in cents], dtype=np.float64)

    def assign_batches(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            vi = b.schema.get_field_index(vec_col)
            A = (
                b.column(vi)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, -1)
            )
            D = np.empty((n, C.shape[0]), dtype=np.float64)
            for j in range(C.shape[0]):
                diff = A - C[j]
                D[:, j] = np.einsum("ij,ij->i", diff, diff)
            Dr = np.round(D, 6)
            idx = np.argmin(Dr, axis=1)  # first min = lowest cluster id
            yield pa.RecordBatch.from_arrays(
                list(b.columns)
                + [pa.array(cluster_ids[idx]), pa.array(Dr[np.arange(n), idx])],
                names=list(b.schema.names) + ["cluster", "dist"],
            )

    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in emb.schema.fields)
    return emb.mapInArrow(assign_batches, ddl + ", cluster int, dist double")


def ivf_assign(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer: deterministic seeding (first ``IVF_CENTROIDS``
    rows by id) + one k-means refinement pass, then assign every vector to
    its nearest centroid.

    Returns (assigned, centroids): ``assigned`` = corpus + ``cluster``
    column; ``centroids`` = (cluster, centroid array). Centroids live on
    the driver between passes (IVF_CENTROIDS × dim floats — kilobytes)
    and re-enter the plan as constants of the assignment kernel; the
    corpus is never collected.
    """
    centroids_df = emb.orderBy(ID_COL).limit(IVF_CENTROIDS).select(F.col(VEC_COL).alias("centroid"))
    # stable small collect → cluster id = enumeration order of the
    # id-ordered seed rows
    cents = [(i, list(r.centroid)) for i, r in enumerate(centroids_df.collect())]
    spark = emb.sparkSession

    def _unit(v: list[float]) -> list[float]:
        n = math.sqrt(sum(float(x) * float(x) for x in v)) or 1.0
        return [float(x) / n for x in v]

    # map-only nearest-centroid (the _assign_arrow GEMM kernel): no
    # crossJoin, no per-id window shuffle; the corpus scan stays
    # pipeline-parallel at any scale. A k×dim HOF expression bank would
    # cost k·dim interpreted ops/row against one numpy matmul per batch
    # (the registered sf1 query dropped 7.7→0.9 s with the arrow
    # assign+score kernels).
    assigned = _assign_arrow(emb, cents, VEC_COL, _unit)
    n_dim = len(cents[0][1]) if cents else 0
    # centroid update = per-cluster element-wise mean: one groupBy with
    # dim sum-aggregates (map-side partial combine → the shuffle carries
    # n_clusters × (dim+1) doubles per map partition), instead of
    # posexplode-ing n×dim rows through two shuffles
    sums = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.element_at(F.col(VEC_COL), i + 1).cast("double")).alias(f"__s{i}")
            for i in range(n_dim)
        ],
    )
    cents = [
        (r["cluster"], [r[f"__s{i}"] / r["__n"] for i in range(n_dim)])
        for r in sums.collect()
    ]
    assigned = _assign_arrow(emb, cents, VEC_COL, _unit)
    cent_final = spark.createDataFrame(cents, "cluster int, centroid array<float>")
    return assigned, cent_final


def ivf_topk(
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    query: DataFrame,
    k: int,
    n_probe: int = 3,
) -> DataFrame:
    """IVF search for a single query vector: rank centroids against the
    query, probe the ``n_probe`` nearest clusters, exact cosine within
    them (scored by the mapInArrow GEMM kernel). Scan cost ≈
    n_probe/n_centroids of the corpus — the 100-TB ANN path.

    Centroid ranking happens on the DRIVER: the coarse quantizer is
    n_centroids × dim floats (kilobytes) by construction, so ranking it is
    O(n_centroids·dim) flops — spinning up a cluster job (crossJoin +
    sort + broadcast exchange) for that would cost three scheduling
    round-trips to save microseconds. The resulting probe set enters the
    plan as an ``isin`` filter pushed into the corpus scan — partition-
    prunable when the index is stored partitioned by ``cluster``."""
    import numpy as np

    cent_rows = centroids.collect()
    qv = [float(x) for x in query.select(QUERY_VEC_COL).first()[0]]

    def _cos(a: list[float], b: list[float]) -> float:
        num = sum(x * y for x, y in zip(a, b))
        den = math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        return num / den if den else 0.0

    ranked = sorted(
        ((r["cluster"], _cos(qv, [float(x) for x in r["centroid"]])) for r in cent_rows),
        key=lambda t: (-t[1], t[0]),
    )
    probe_ids = [c for c, _ in ranked[:n_probe]]
    cand = corpus_assigned.filter(F.col("cluster").isin(probe_ids))
    scored = _topk_scores_arrow(
        cand,
        np.array([-1], dtype=np.int64),
        np.array([qv], dtype=np.float64),
        k,
        ID_COL,
        VEC_COL,
        "__qid",
    ).drop("__qid")
    return scored.orderBy(F.col("cosine").desc(), F.col(ID_COL)).limit(k)


def cosine_near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    dim: int,
    n_planes: int | None = 8,
    impl: str = "hof",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucket self-join, then
    exact cosine filter ≥ threshold. The bucket join bounds the pair count;
    no O(n²) cross product — PROVIDED the plane count matches the corpus:
    in-bucket pair work is ~n²/2^planes, so a plane bank tuned for a small
    corpus silently goes quadratic at scale (measured: 4 planes on 50k
    vectors = 78M candidate pairs, 64 s; auto-sizing cut it to ~1 M).

    ``n_planes=None`` auto-sizes from the corpus: enough planes that the
    EXPECTED bucket holds ~32 vectors (one count() pass — metadata-cheap
    next to the pair join it prevents). More planes lower recall for
    borderline pairs (single-bank sign-LSH AND-amplifies); for high-recall
    retrieval at scale use the banded MinHash family (text) or the IVF
    path (ivf_assign/ivf_topk) instead — this operator targets the
    near-DUPLICATE regime where cosines are high and bucket collisions
    are likely.

    ``impl="hof"`` scores candidate pairs with the JVM HOF cosine after a
    bucket self-JOIN — materializing each pair row. ``impl="arrow"`` skips
    the pair join entirely: one ``applyInPandas`` per bucket runs a
    blocked numpy GEMM over the bucket's vectors and emits only surviving
    pairs. That is the scale path for REAL near-dup corpora, where
    duplicate clusters all collide into the same bucket by construction —
    bucket loads are skewed and the per-pair row overhead dominates
    (measured at 200k vectors / 12 planes: 115 s hof → GEMM seconds; the
    plane bank cannot fix this because the collisions are the signal).
    Both impls emit the same pairs up to float associativity: GEMM dot
    products reassociate the sum, so cosines can differ in the last ulp —
    callers that hash-compare round to ≤6 dp (the repo-wide oracle rule),
    and a cosine sitting within 1 ulp of ``threshold`` itself can flip
    pair MEMBERSHIP between impls (none of the synthetic corpora place a
    pair that close; a caller that needs impl-stable membership should
    round before thresholding). The arrow kernel's output schema follows
    the id column's own type (integers, strings/UUIDs, dates …): pair
    orientation compares ids with numpy element comparisons, which for
    strings is code-point order — identical to Spark's UTF8_BINARY byte
    order, because UTF-8 byte order preserves code-point order.

    ``MAX_BUCKET_ROWS`` bounds what a single Python worker materializes on
    the arrow path: buckets over the cap are block-partitioned (see
    :func:`_near_dup_pairs_arrow`) so a degenerate duplicate cluster —
    which extra hyperplanes can NEVER split, identical vectors share every
    sign — streams through bounded block-pair groups instead of one
    bucket-sized group. Pair output is identical: every unordered pair is
    scored in exactly one block-pair group."""
    if n_planes is None:
        n_planes = adaptive_n_planes(emb.count(), target_bucket=32)
    planes = random_hyperplanes(dim, n_planes)
    b = emb.select(
        F.col(ID_COL).alias("__id"),
        F.col(VEC_COL).alias("__v"),
        lsh_bucket_key(VEC_COL, planes).alias("__bucket"),
    )
    if impl == "arrow":
        id_type = dict(emb.dtypes)[ID_COL]
        return _near_dup_pairs_arrow(b, threshold, MAX_BUCKET_ROWS, id_type)
    a = b.select(F.col("__id").alias("id_a"), F.col("__v").alias("v_a"), "__bucket")
    c = b.select(F.col("__id").alias("id_b"), F.col("__v").alias("v_b"), "__bucket")
    pairs = a.join(c, "__bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.select("id_a", "id_b", cosine(F.col("v_a"), F.col("v_b")).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .distinct()
    )


def _normed(pdf) -> tuple:
    """(ids, row-L2-normalized matrix) for a kernel group; zero-norm rows
    become NaN and later fail every ``>= threshold`` comparison, matching
    the HOF path's ``nullif`` NULL."""
    import numpy as np

    ids = pdf["__id"].to_numpy()  # dtype follows the caller's id column
    X = np.array(pdf["__v"].to_list(), dtype=np.float64)
    norms = np.sqrt((X * X).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        return ids, X / norms[:, None]


def _pairs_frame(out_a: list, out_b: list, out_c: list):
    import numpy as np
    import pandas as pd

    if not out_a:
        # empty object-dtype id columns: Arrow casts them to whatever the
        # declared id type is, for any id dtype
        return pd.DataFrame({"id_a": pd.Series(dtype="object"),
                             "id_b": pd.Series(dtype="object"),
                             "cosine": pd.Series(dtype="float64")})
    return pd.DataFrame({
        "id_a": np.concatenate(out_a),
        "id_b": np.concatenate(out_b),
        "cosine": np.concatenate(out_c),
    })


def _triangle_score(pdf, threshold: float):
    """Upper-triangle pair scoring within one group: sort by id so index
    order == id order (pairs emit as id_a < id_b exactly like the join
    path), L2-normalize once, score in 2048-row blocks so the score
    MATRIX stays at block×group doubles."""
    import numpy as np

    pdf = pdf.sort_values("__id", ignore_index=True)
    ids, Xn = _normed(pdf)
    n = len(ids)
    out_a: list[np.ndarray] = []
    out_b: list[np.ndarray] = []
    out_c: list[np.ndarray] = []
    block = 2048
    for s in range(0, n, block):
        e = min(s + block, n)
        S = Xn[s:e] @ Xn.T  # (e-s) × n
        for li in range(e - s):
            gi = s + li
            row = S[li, gi + 1 :]
            hits = np.nonzero(row >= threshold)[0]
            if hits.size:
                js = hits + gi + 1
                out_a.append(np.full(js.size, ids[gi]))
                out_b.append(ids[js])
                out_c.append(row[hits])
    return _pairs_frame(out_a, out_b, out_c)


def _block_assignments(big: DataFrame, max_bucket_rows: int) -> DataFrame:
    """Block-pair replication for over-cap buckets (input: the bucketed
    rows already joined with their bucket count as ``__cnt`` and filtered
    to count > cap): rows hash into ``nb = ceil(count / cap)`` blocks by
    id, and each row is emitted once into every block-pair group
    ``(__i, __j) = (min(bi, p), max(bi, p))`` it participates in (p
    sweeps the partner blocks). Every unordered vector pair lands in
    exactly ONE group — the one keyed by its two block ids — and a group
    holds ~2·cap rows regardless of bucket size."""
    big = (
        big.withColumn("__nb", F.ceil(F.col("__cnt") / F.lit(max_bucket_rows)).cast("int"))
        .withColumn("__bi", F.pmod(F.xxhash64("__id"), F.col("__nb")).cast("int"))
    )
    return big.select(
        "__bucket",
        "__id",
        "__v",
        "__bi",
        F.explode(F.sequence(F.lit(0), F.col("__nb") - 1)).alias("__p"),
    ).select(
        "__bucket",
        "__id",
        "__v",
        "__bi",
        F.least("__bi", "__p").alias("__i"),
        F.greatest("__bi", "__p").alias("__j"),
    )


def _near_dup_pairs_arrow(
    bucketed: DataFrame,
    threshold: float,
    max_bucket_rows: int,
    id_type: str,
) -> DataFrame:
    """Per-bucket blocked-GEMM pair scoring for ``cosine_near_dup_pairs``,
    with a bounded-peak path for skewed buckets.

    Buckets at or under ``max_bucket_rows`` score as one
    ``groupBy(bucket).applyInPandas`` group (upper-triangle blocked GEMM).
    Buckets OVER the cap — real near-dup corpora collide duplicate
    clusters into shared buckets by design, and a degenerate
    all-identical-vector cluster can never be split by adding hyperplanes
    (identical vectors share every sign bit) — are block-partitioned by
    :func:`_block_assignments`: rows hash into ceil(count/cap) blocks and
    each unordered BLOCK pair becomes its own kernel group, so a worker
    holds ~2·cap rows (~2·cap·dim float64) however large the bucket. The
    diagonal group (``__i == __j``) scores its upper triangle; an
    off-diagonal group scores the full A×B rectangle. Total replicated
    rows for a k-row bucket are k·ceil(k/cap) ≈ k²/cap — proportional to
    the pair work the bucket inherently owes, never materialized at once.
    Pair sets from the two paths are identical (each unordered pair is
    scored exactly once, emitted id_a < id_b). ``id_type`` is the Spark
    type of the caller's id column — the kernel output schema follows it,
    and the kernels never cast ids (numpy comparisons on string ids use
    code-point order == Spark's UTF8_BINARY byte order)."""
    import pandas as pd

    pair_schema = f"id_a {id_type}, id_b {id_type}, cosine double"

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        return _triangle_score(pdf, threshold)

    def score_block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        i, j = int(pdf["__i"].iat[0]), int(pdf["__j"].iat[0])
        if i == j:
            return _triangle_score(pdf, threshold)
        a = pdf[pdf["__bi"] == i]
        b = pdf[pdf["__bi"] == j]
        if a.empty or b.empty:
            return _pairs_frame([], [], [])
        ids_a, An = _normed(a)
        ids_b, Bn = _normed(b)
        # 2048² tile blocking: an unblocked An @ Bn.T is cap² doubles —
        # ~134 MB per group at the default cap, i.e. the very spike class
        # this path exists to prevent (and quadratic in any raised cap)
        out_a: list = []
        out_b: list = []
        out_c: list = []
        block = 2048
        for s0 in range(0, len(ids_a), block):
            Ab = An[s0 : s0 + block]
            ia_blk = ids_a[s0 : s0 + block]
            for t0 in range(0, len(ids_b), block):
                S = Ab @ Bn[t0 : t0 + block].T
                ai, bj = np.nonzero(S >= threshold)
                if ai.size:
                    ia = ia_blk[ai]
                    ib = ids_b[t0 : t0 + block][bj]
                    out_a.append(np.minimum(ia, ib))
                    out_b.append(np.maximum(ia, ib))
                    out_c.append(S[ai, bj])
        return _pairs_frame(out_a, out_b, out_c)

    # ONE bucket-count aggregate feeds both paths (the small filter and
    # the big path's block sizing) — the count join is shared, not built
    # twice
    cnt = bucketed.groupBy("__bucket").agg(F.count(F.lit(1)).alias("__cnt"))
    joined = bucketed.join(cnt, "__bucket")
    small = joined.filter(F.col("__cnt") <= max_bucket_rows).drop("__cnt")
    big = joined.filter(F.col("__cnt") > max_bucket_rows)
    small_pairs = small.groupBy("__bucket").applyInPandas(score, pair_schema)
    big_pairs = (
        _block_assignments(big, max_bucket_rows)
        .groupBy("__bucket", "__i", "__j")
        .applyInPandas(score_block_pair, pair_schema)
    )
    return small_pairs.unionByName(big_pairs)


def pca_fit(
    emb: DataFrame,
    dim: int,
    k: int,
):
    """Distributed PCA fit: ``(mean, components[dim×k], explained_ratio)``.

    One ``mapInArrow`` pass emits per-batch moment partials — count, sum
    vector, and the flattened Gram matrix ``XᵀX`` (dim² doubles) — so the
    full corpus reduces to ~33 KB per Arrow batch regardless of row
    count; the partials collect to the driver (bounded: #batches rows)
    and the dim×dim covariance eigendecomposes THERE — for dim=64 that is
    microseconds, and spinning up a cluster job to avoid a 64×64 ``eigh``
    would cost three scheduling round-trips to save nothing (the same
    driver-side-small argument as ``ivf_topk`` centroid ranking). At
    100 TB the scan is the cost and it is one embarrassingly-parallel
    pass with map-side reduction to constants.

    Component signs are canonicalized (largest-|coordinate| positive) so
    the basis is reproducible run to run up to float-sum reassociation;
    eigenvalues/loadings are data properties, not engine properties, so
    correctness is pinned by pytest invariants (orthonormality, variance
    ordering, per-component projection variance == eigenvalue,
    full-rank reconstruction) rather than a SQL oracle — no SQL engine
    exposes an eigensolver.

    Numerical stability: partials accumulate around a PIVOT (one corpus
    vector, fetched with a one-row job before the scan), i.e.
    ``Y = X − pivot`` and ``cov = E[YYᵀ] − E[Y]E[Y]ᵀ`` — algebraically
    identical for any pivot, but the shifted form keeps the Gram entries
    O(spread²) instead of O(offset²), so an offset-heavy corpus (mean ≫
    standard deviation) no longer cancels catastrophically in the naive
    ``G/n − outer(mean, mean)``: with |mean| ~1e8 and unit variance the
    unshifted subtraction loses ALL significant digits in float64
    (1e16 − 1e16 ≈ variance). Pinned by a large-offset regression test."""
    import numpy as np
    import pyarrow as pa

    # pivot determinism (ADVICE r6): a bare first() is partition-order-
    # dependent, so the fitted mean/components could drift at ulp level
    # across repartitionings. The pivot is the minimum-id row — a
    # TakeOrderedAndProject one-row job, bit-stable for a given corpus
    # regardless of layout.
    pivot_row = emb.orderBy(ID_COL).select(VEC_COL).first()
    if pivot_row is None:
        raise ValueError("pca_fit: empty input corpus (no vectors to fit)")
    pivot = np.asarray(
        [float(x) for x in pivot_row[0]], dtype=np.float64
    )
    if pivot.shape != (dim,):
        raise ValueError(f"pca_fit: vector dim {pivot.shape[0]} != dim={dim}")

    def partials(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            X = (
                b.column(0)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, -1)
            )
            Y = X - pivot  # shifted accumulation — see docstring
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([n], type=pa.int64()),
                    pa.array([Y.sum(axis=0)]),
                    pa.array([(Y.T @ Y).ravel()]),
                ],
                names=["n", "s", "g"],
            )

    parts = (
        emb.select(VEC_COL)
        .mapInArrow(partials, "n long, s array<double>, g array<double>")
        .collect()
    )
    if not parts:
        raise ValueError("pca_fit: empty input corpus (no vectors to fit)")
    n = sum(r["n"] for r in parts)
    s = np.sum([np.asarray(r["s"], dtype=np.float64) for r in parts], axis=0)
    G = np.sum(
        [np.asarray(r["g"], dtype=np.float64).reshape(dim, dim) for r in parts], axis=0
    )
    shifted_mean = s / n
    mean = pivot + shifted_mean
    cov = G / n - np.outer(shifted_mean, shifted_mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(evals)[::-1][:k]
    comps = evecs[:, order].copy()
    for j in range(comps.shape[1]):
        i = int(np.argmax(np.abs(comps[:, j])))
        if comps[i, j] < 0:
            comps[:, j] = -comps[:, j]
    total = float(evals.sum()) or 1.0
    explained = [float(evals[o]) / total for o in order]
    return mean.tolist(), comps.tolist(), explained


def pca_project(
    emb: DataFrame,
    mean: list[float],
    components: list[list[float]],
) -> DataFrame:
    """Map-only PCA projection ``(X − mean) @ components`` via one
    ``mapInArrow`` GEMM per batch — no shuffle, no Python objects per
    row; the (dim×k) loading matrix ships as a closure constant (KBs).
    Output schema: ``(id, proj array<double>)`` with the id column's own
    type preserved."""
    import numpy as np
    import pyarrow as pa

    mu = np.asarray(mean, dtype=np.float64)
    C = np.asarray(components, dtype=np.float64)

    def proj(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            X = (
                b.column(1)
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64, copy=False)
                .reshape(n, -1)
            )
            P = (X - mu) @ C
            yield pa.RecordBatch.from_arrays(
                [b.column(0), pa.array(P.tolist())], names=[ID_COL, "proj"]
            )

    id_type = dict(emb.dtypes)[ID_COL]
    return emb.select(ID_COL, VEC_COL).mapInArrow(
        proj, f"{ID_COL} {id_type}, proj array<double>"
    )
