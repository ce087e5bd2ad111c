"""Vector similarity search over embedding columns (SURVEY.md X3).

Embeddings are array<float> columns; all math is JVM-side higher-order
functions (zip_with / aggregate) over double-cast arrays -- deterministic,
engine-portable, no UDFs.

Scale posture:
- brute-force cosine top-k: one pass, no shuffle except the final top-k;
  correct baseline and the verify stage for approximate paths.  At 100 TB
  the query side is tiny (broadcast) and the scan is embarrassingly
  parallel: cost O(n * d).
- random-hyperplane LSH (SimHash-for-vectors): h deterministic
  pseudo-random hyperplanes -> h-bit bucket signature; candidates share a
  bucket (optionally with multi-probe neighbor buckets).  Turns top-k
  into a bucket-local problem: the candidate join is on bucket ids.
  This is the IVF-style scale path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64
from ..sinks import versioned


def as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


# Bytes of input a single fanned-out task should own.  The guard only
# ever fires on under-split SMALL inputs (see ensure_scan_parallelism)
# where the downstream work is interpreted higher-order-function math
# at ~1 us per element step (~ms per KB), so a ~96 KiB slice carries
# roughly 0.1-0.5 s of compute -- comparable to the per-task
# scheduling floor, past which more tasks are pure overhead (r16:
# BENCH_r15_c8 showed 8 cores beating a 32-way fan-out on every
# sub-second query; splitting 2,000 rows 32 ways was scheduling, not
# compute).  Env-overridable for other hardware; the value never
# matters at scale because the guard is structurally a no-op there.
def _fanout_target_bytes() -> int:
    import os

    return int(
        os.environ.get("SPARK_GRAFT_FANOUT_TARGET_BYTES", str(96 * 1024))
    )


def ensure_scan_parallelism(df: DataFrame, key: str) -> DataFrame:
    """Guarded fan-out for under-split inputs (r15, guide §2.5; r16
    size-capped): when the frame has fewer partitions than its
    estimated size warrants, hash-repartition it by `key` so the
    vector-math map work that follows (unit-norm, signature, argmin
    folds -- interpreted higher-order functions at ~1 us per element
    step) runs on enough cores to matter.

    Measured motivation: the sf bench tables are single-row-group
    parquet files, so the scan is ONE task and every downstream
    map-side stage inherited that single partition -- the embedding
    family's per-row fold work was running single-threaded on a
    32-core executor (e.g. one k-means assignment pass over 2,000
    vectors: ~2 s on one core, ~0.1 s fanned out).

    The fan-out width is SIZE-ADAPTIVE, not defaultParallelism (r16,
    VERDICT r15 items 3/8): ceil(plan-estimated bytes / ~96 KiB per
    task), capped at defaultParallelism.  The r15 guard fanned every
    small frame to all 32 slots, which over-partitioned 2,000-row
    frames (BENCH_r15_c8: the 8-core bench beat 32 cores fleet-wide --
    the extra tasks were pure scheduling floor) and cost +0.5 s inside
    in-query ANN store builds; sizing by bytes gives those frames
    ~4-8 tasks and leaves metadata-sized frames (upsert batches,
    centroid sets) untouched.

    The guard applies ONLY to exchange-free (scan-shaped) plans
    (ADVICE r15, medium): probing `.rdd` under AQE forces
    getFinalPhysicalPlan, which EXECUTES any upstream shuffle or
    broadcast stages at frame-build time -- a caller passing a
    joined/aggregated frame would run those stages twice.  A plan that
    already contains an Exchange has, by definition, already paid a
    partitioning decision; the fan-out is for raw under-split scans.

    Scale posture: structurally a no-op at real scale -- a 100 TB
    table scans as thousands of splits, the partition count exceeds
    every plausible bytes-derived target, and NO shuffle is added (the
    condition is evaluated at plan-construction time from the scan's
    split count and the optimizer's size estimate, not data).
    Hash-on-key, not round-robin: a deterministic partitioner keeps
    retried tasks reproducible (SPARK-38388) and skips round-robin's
    sort-before-repartition."""
    jqe = df._jdf.queryExecution()
    # exchange-free plans only: string probe of the INITIAL physical
    # plan (no execution under AQE -- executedPlan wraps the plan in
    # AdaptiveSparkPlanExec without running it)
    if "Exchange" in jqe.executedPlan().toString():
        return df
    sc = df.sparkSession.sparkContext
    size = int(jqe.optimizedPlan().stats().sizeInBytes())
    target = min(
        sc.defaultParallelism,
        -(-size // _fanout_target_bytes()),  # ceil div
    )
    if 1 < target and df.rdd.getNumPartitions() < target:
        return df.repartition(target, F.col(key))
    return df


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """NULL (not an ANSI DIVIDE_BY_ZERO job abort) for zero-norm inputs:
    cosine is undefined there, and one degenerate vector must never kill
    a 100 TB job. NULL scores sort last under desc ordering, so top-k
    silently ignores degenerate rows."""
    den = l2_norm(a) * l2_norm(b)
    return F.when(den > 0, dot(a, b) / den)


def cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k of `embeddings` against a 1-row `query`
    frame (same vec_col).  Deterministic tie-break on id.

    The query side is crossJoined (1 row -> broadcast by Catalyst); the
    scan side never shuffles until the final k-row sort.
    """
    q = query.select(as_double(vec_col).alias("__qvec"))
    scored = embeddings.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        cosine(as_double(vec_col), F.col("__qvec")).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def norm_stats_by_label(
    embeddings: DataFrame, vec_col: str = "embedding", label_col: str = "label"
) -> DataFrame:
    """Per-label embedding-norm statistics -- sanity profile of a vector
    corpus (and a fully SQL-expressible differential anchor)."""
    return (
        embeddings.select(F.col(label_col), l2_norm(as_double(vec_col)).alias("norm"))
        .groupBy(label_col)
        .agg(
            F.count("*").alias("n"),
            F.avg("norm").alias("avg_norm"),
            F.min("norm").alias("min_norm"),
            F.max("norm").alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# approximate path: random-hyperplane LSH
# ---------------------------------------------------------------------------


def _plane_component(plane: int, dim: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    derived from the portable 64-bit hash of (plane, dim) -- the same
    md5 formula as functions.hashing.hash64, evaluated driver-side so
    plane vectors become plan literals (an in-lambda hash expression
    would cost one md5 per element per plane per row)."""
    import hashlib

    h = int(hashlib.md5(f"plane:{plane}:{dim}".encode()).hexdigest()[:15], 16)
    return (h % 10000) / 5000.0 - 1.0


def _plane_literal(plane: int, dim: int) -> Column:
    return F.array(*[F.lit(_plane_component(plane, i)) for i in range(dim)])


def lsh_bucket(vec_col: Column, n_planes: int = 12, dim: int = 64) -> Column:
    """h-bit signature: bit p = sign(dot(vec, plane_p)) -- packed into a
    bigint bucket id.  Plane vectors are literal arrays; per row the
    work is n_planes fused multiply-add passes, no hashing."""
    bucket = F.lit(0).cast("bigint")
    for p in range(n_planes):
        d = F.aggregate(
            F.zip_with(vec_col, _plane_literal(p, dim), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket.bitwiseOR(
            F.when(d > 0, F.lit(1 << p).cast("bigint")).otherwise(F.lit(0).cast("bigint"))
        )
    return bucket


def cosine_topk_multi(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    assume_normalized: bool = False,
) -> DataFrame:
    """Brute-force top-k for a SET of queries in one pass: broadcast the
    query frame, score corpus x queries, rank per query with a window.

    Output: (query_id, vec_id, cosine_sim, rank).  One corpus scan
    regardless of query count; the only shuffle is the per-query-id
    window (keyed on query_id, so it parallelizes across queries).
    With assume_normalized, vectors are taken as unit-length and the
    score is a bare dot product (pre-normalize once instead of per
    pair -- the right call at scale, and rank-stable vs any engine
    computing the same dot)."""
    score = dot if assume_normalized else cosine
    q = queries.select(
        F.col(query_id_col), as_double(vec_col).alias("__qvec")
    )
    scored = embeddings.select(
        F.col(id_col), as_double(vec_col).alias("__vec")
    ).crossJoin(F.broadcast(q)).select(
        F.col(query_id_col),
        F.col(id_col),
        score(F.col("__vec"), F.col("__qvec")).alias("cosine_sim"),
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# approximate path 2: IVF (inverted-file) coarse quantizer
# ---------------------------------------------------------------------------


def _assign_cells(
    frame: DataFrame, cents: DataFrame, keep_d2: bool = False
) -> DataFrame:
    """Nearest centroid by squared L2 for an (id, vec) frame against
    (centroid_id, cvec): argmin via array_min over a per-row struct
    array, ties broken on the lowest centroid_id.  TRULY map-side
    (r15): the centroid SET is folded into one array row and
    broadcast, so the argmin is a per-row expression -- the previous
    shape crossJoined the broadcast centroid ROWS and ran a
    groupBy(id) argmin, which partially aggregated map-side but still
    SHUFFLED every (id, vec) row once per assignment pass (the full
    corpus with vector payloads, twice per ivf_index build).
    array_min over struct(d2, centroid_id) is the identical ordering
    to the old min(struct(...)) aggregate, and the per-element d2
    arithmetic is unchanged, so assignments are bit-identical.
    Boundedness: the array row is exactly the old broadcast's
    centroid set (n_centroids x dim doubles) -- same cap, one row.
    keep_d2 additionally returns the winning squared distance (the
    store's assignment-quality drift metric rides this at zero extra
    passes; Catalyst prunes the column away wherever it is dropped)."""
    # coalesce(1) first: a single-partition child already satisfies the
    # aggregate's distribution, so no SinglePartition exchange (and no
    # extra stage) is planned inside the broadcast subtree
    cents_arr = cents.coalesce(1).agg(
        F.collect_list(F.struct("centroid_id", "cvec")).alias("__cents")
    )
    d2_of = lambda cvec: F.aggregate(  # noqa: E731
        F.zip_with(F.col("vec"), cvec, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = F.array_min(
        F.transform(
            "__cents",
            lambda c: F.struct(
                d2_of(c["cvec"]).alias("d2"),
                c["centroid_id"].alias("centroid_id"),
            ),
        )
    )
    cols = ["id", "vec", F.col("__dc.centroid_id").alias("centroid_id")]
    if keep_d2:
        cols.append(F.col("__dc.d2").alias("d2"))
    return (
        frame.crossJoin(F.broadcast(cents_arr))
        .select("id", "vec", best.alias("__dc"))
        .select(*cols)
    )


def _subvectors(vecs: DataFrame, m: int, d_sub: int) -> DataFrame:
    """Explode an (id, vec) frame into (id, subspace, svec) -- the PQ
    subvector layout (one row per subspace)."""
    return vecs.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        F.slice("vec", j * d_sub + 1, d_sub).alias("svec"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("id", "s.subspace", "s.svec")


def _assign_codes(frame: DataFrame, books: DataFrame) -> DataFrame:
    """Nearest codebook entry per (id, subspace): argmin via array_min
    over a per-row struct array, ties broken on the lowest code id.
    TRULY map-side (r15, same restructure as `_assign_cells`): the
    codebook is collapsed to one array row PER SUBSPACE and
    broadcast-joined, so the argmin is a per-row expression -- the
    previous shape broadcast-joined the codebook ROWS (x n_codes row
    blowup) and ran a groupBy(id, subspace) argmin that shuffled every
    subvector row of the corpus once per encode pass.  array_min over
    struct(d2, code) is the identical ordering to the old
    min(struct(...)) aggregate with unchanged per-element arithmetic,
    so codes are bit-identical."""
    # coalesce(1): m * n_codes rows -- the single partition satisfies
    # the groupBy's clustered distribution, eliding its exchange
    books_arr = books.coalesce(1).groupBy("subspace").agg(
        F.collect_list(F.struct("code", "cvec")).alias("__codes")
    )
    d2_of = lambda cvec: F.aggregate(  # noqa: E731
        F.zip_with(F.col("svec"), cvec, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = F.array_min(
        F.transform(
            "__codes",
            lambda c: F.struct(
                d2_of(c["cvec"]).alias("d2"), c["code"].alias("code")
            ),
        )
    )
    return (
        frame.join(F.broadcast(books_arr), "subspace")
        .select("id", "subspace", "svec", best.alias("__dc"))
        .select("id", "subspace", "svec", F.col("__dc.code").alias("code"))
    )


def ivf_index(
    embeddings: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lazy_checkpoint: bool = False,
    keep_d2: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Build a deterministic IVF index: seed centroids are the
    `n_centroids` lowest-id vectors, refined by one Lloyd iteration
    (assign-all -> per-dimension mean).  Returns
    (assignments(id, vec, centroid_id), centroids(centroid_id, cvec));
    keep_d2 adds the winning squared distance to assignments (fed to
    the store's build-time drift baseline without a second pass).

    lazy_checkpoint truncates BOTH returned frames' lineage (for eval
    harnesses that reference the build many times): centroids
    checkpoint BEFORE the final assignment pass so materializing
    assignments populates the centroid blocks in the same job --
    checkpointing the returned tuple from outside would run the
    k-means twice, once per independent checkpoint.

    At 100 TB: centroids are tiny and always broadcast; the assignment
    pass is a map-only scan; materialize `assignments` partitioned (or
    bucketed) by centroid_id so probe queries prune partitions.
    """
    if n_centroids < 1:
        # ADVICE r15: _assign_cells' per-row argmin yields NULL
        # centroid_ids for an empty centroid set where the old
        # crossJoin shape emitted zero rows -- reject the degenerate
        # parameterization at the entry point instead
        raise ValueError("n_centroids must be >= 1")
    vecs = ensure_scan_parallelism(
        embeddings.select(
            F.col(id_col).alias("id"), as_double(vec_col).alias("vec")
        ),
        "id",
    )
    w = Window.orderBy("id")
    seeds = (
        vecs.orderBy("id")
        .limit(n_centroids)
        .select(
            (F.row_number().over(w) - 1).alias("centroid_id"),
            F.col("vec").alias("cvec"),
        )
    )

    # one Lloyd refinement: per-dimension mean of each seed's members
    assigned0 = _assign_cells(vecs, seeds)
    centroids = (
        assigned0.select("centroid_id", F.posexplode("vec").alias("pos", "x"))
        .groupBy("centroid_id", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("centroid_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cvec")
        )
    )
    if lazy_checkpoint:
        # n_centroids rows: 1 partition, or every downstream reference
        # schedules shuffle.partitions near-empty tasks
        centroids = centroids.coalesce(1).localCheckpoint(eager=False)
    assignments = _assign_cells(vecs, centroids, keep_d2=keep_d2)
    if lazy_checkpoint:
        assignments = assignments.localCheckpoint(eager=False)
    return assignments, centroids


def ivf_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """IVF approximate top-k: probe the `n_probe` centroids nearest the
    query and score only their inverted lists (~n_probe/n_centroids of
    the corpus).  n_probe = n_centroids degrades to exact search.

    `index` optionally supplies prebuilt (assignments, centroids) --
    the offline eval harnesses build ONE index (localCheckpoint-ed)
    and sweep parameters over it instead of re-deriving the build per
    variant (VERDICT r10 item 4).

    round_digits rounds the score BEFORE the final order/limit so the
    selected k rows (id tie-break at the rounded precision) are
    reproducible across engines -- the differential oracle needs the
    same rows, not just the same ordering."""
    assignments, centroids = (
        index
        if index is not None
        else ivf_index(embeddings, n_centroids, id_col, vec_col)
    )
    q = query.select(as_double(vec_col).alias("__qvec"))
    d2 = F.aggregate(
        F.zip_with(F.col("cvec"), F.col("__qvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probes = (
        centroids.crossJoin(F.broadcast(q))
        .select("centroid_id", d2.alias("d2"))
        .orderBy("d2", "centroid_id")
        .limit(n_probe)
        .select("centroid_id")
    )
    cands = assignments.join(F.broadcast(probes), "centroid_id")
    scored = cands.crossJoin(F.broadcast(q)).select(
        F.col("id").alias(id_col),
        cosine(F.col("vec"), F.col("__qvec")).alias("cosine_sim"),
    )
    if round_digits is not None:
        scored = scored.withColumn("cosine_sim", F.round("cosine_sim", round_digits))
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def ann_recall(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Self-evaluating ANN quality: recall@k of the IVF index against
    the exact brute-force cosine top-k, in ONE composed plan (the same
    in-plan self-verification discipline as the HLL error-bound and
    windowed-WAU queries -- an approximate path ships with its own
    measured quality, not a hoped-for one).

    Output: 1 row (k, n_exact, n_hits, recall).  recall divides by the
    exact side's ACTUAL row count, not the nominal k -- a corpus (or
    filtered probe set) smaller than k yields fewer than k true
    neighbors, and dividing by k would understate recall, capping it
    below 1.0 even for a perfect index (ADVICE r7).  k stays in the
    output for context.  Both sides round scores BEFORE
    their order/limit so the two engines of the differential harness
    select identical row sets at ties (the ivf_topk convention).  At
    100 TB the exact side is the expensive one (full corpus scan per
    query) -- which is exactly why recall is measured on a sampled
    query set offline while serving uses the index; this operator IS
    that offline evaluation."""
    q = query.select(as_double(vec_col).alias("__qvec"))
    scored = embeddings.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        F.round(
            cosine(as_double(vec_col), F.col("__qvec")), round_digits
        ).alias("__s"),
    )
    exact = (
        scored.orderBy(F.desc("__s"), F.asc(id_col)).limit(k).select(id_col)
    )
    approx = ivf_topk(
        embeddings,
        query,
        k=k,
        n_centroids=n_centroids,
        n_probe=n_probe,
        id_col=id_col,
        vec_col=vec_col,
        round_digits=round_digits,
    ).select(id_col)
    # LEFT join with a hit marker so ONE pass over the exact top-k
    # yields both the denominator (actual exact rows) and the numerator
    # -- a separate exact.count() would re-run the full corpus scan
    return (
        exact.join(approx.withColumn("__hit", F.lit(1)), id_col, "left")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.count("__hit").alias("n_hits"),
        )
        .select(
            F.lit(k).alias("k"),
            F.col("n_exact"),
            F.col("n_hits"),
            # NULL recall on an empty exact side -- Spark 4 ANSI mode
            # raises DIVIDE_BY_ZERO on a bare division when a probe or
            # filter yields zero exact rows.
            F.when(
                F.col("n_exact") > 0,
                F.round(F.col("n_hits") / F.col("n_exact"), 6),
            ).alias("recall"),
        )
    )


def ann_probe_sweep(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    probe_levels: tuple[int, ...] = (1, 2, 4, 8, 16),
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """ann_recall swept over n_probe levels AGAINST ONE SHARED INDEX:
    the IVF build, the query frame, and the exact top-k are derived
    once (lazy localCheckpoint) and every probe level reuses them --
    the level loop only re-plans the probe/score/intersect stages
    (VERDICT r10 item 4: the naive per-level ann_recall calls audited
    embeddings x60).

    Output: (n_probe, k, n_exact, n_hits, recall), one row per level,
    identical values to per-level ann_recall (same rounding and
    tie-break conventions -- checkpointing truncates lineage, never
    changes rows)."""
    from functools import reduce

    query = query.coalesce(1).localCheckpoint(eager=False)
    idx = ivf_index(
        embeddings, n_centroids, id_col, vec_col, lazy_checkpoint=True
    )
    q = query.select(as_double(vec_col).alias("__qvec"))
    scored = embeddings.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        F.round(
            cosine(as_double(vec_col), F.col("__qvec")), round_digits
        ).alias("__s"),
    )
    exact = (
        scored.orderBy(F.desc("__s"), F.asc(id_col))
        .limit(k)
        .select(id_col)
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    frames = []
    for p in probe_levels:
        approx = ivf_topk(
            embeddings, query, k=k, n_centroids=n_centroids, n_probe=p,
            id_col=id_col, vec_col=vec_col, round_digits=round_digits,
            index=idx,
        ).select(id_col)
        frames.append(
            exact.join(approx.withColumn("__hit", F.lit(1)), id_col, "left")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("__hit").alias("n_hits"),
            )
            .select(
                F.lit(p).alias("n_probe"),
                F.lit(k).alias("k"),
                F.col("n_exact"),
                F.col("n_hits"),
                F.when(
                    F.col("n_exact") > 0,
                    F.round(F.col("n_hits") / F.col("n_exact"), 6),
                ).alias("recall"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), frames)


def cluster_balanced_cap(
    embeddings: DataFrame,
    k_per_cluster: int = 10,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Semantic-diversity cap: bucket the corpus by k-means cluster and
    keep at most `k_per_cluster` members per cluster, preferring the
    ones FARTHEST from their centroid -- the SemDeDup-style keep policy
    (low similarity to the cluster center = the diverse
    representatives; the redundant near-center mass is what gets
    dropped).  The semantic counterpart of the per-source domain cap
    (`corpus.source_cap_topk`): same window shape, stratum = semantic
    neighborhood instead of origin.

    Output: (vec_id, centroid_id, d2, rank), rank in [1, k].  d2 is
    rounded BEFORE ranking (the ivf_topk convention) so tie sets are
    engine-stable.  One broadcast join (tiny centroids) + one
    per-cluster window shuffle; at 100 TB materialize assignments
    bucketed by centroid_id and the window reuses that partitioning."""
    if k_per_cluster < 1:
        raise ValueError("k_per_cluster must be >= 1")
    assignments, centroids = ivf_index(embeddings, n_centroids, id_col, vec_col)
    d2 = F.aggregate(
        F.zip_with(F.col("vec"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = assignments.join(F.broadcast(centroids), "centroid_id").select(
        F.col("id").alias(id_col),
        "centroid_id",
        F.round(d2, round_digits).alias("d2"),
    )
    w = Window.partitionBy("centroid_id").orderBy(
        F.desc("d2"), F.asc(id_col)
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k_per_cluster
    )


def lsh_cosine_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 12,
    probe_hamming: int = 2,
    dim: int = 64,
    round_digits: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    `probe_hamming` bits of the query's bucket (multi-probe).  `dim`
    must equal the embedding length (plane vectors are plan literals).

    At scale, bucket the corpus once (materialized column, partitioned /
    clustered by bucket) and each query touches ~n/2^h * probes vectors.
    round_digits: see ivf_topk -- rounds before the order/limit so the
    differential oracle selects identical rows.
    """
    emb = embeddings.select(
        F.col(id_col),
        as_double(vec_col).alias("vec"),
    ).withColumn("bucket", lsh_bucket(F.col("vec"), n_planes, dim))
    q = query.select(as_double(vec_col).alias("__qvec")).withColumn(
        "qbucket", lsh_bucket(F.col("__qvec"), n_planes, dim)
    )
    cands = emb.crossJoin(F.broadcast(q)).filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket"))) <= probe_hamming
    )
    scored = cands.select(
        F.col(id_col), cosine(F.col("vec"), F.col("__qvec")).alias("cosine_sim")
    )
    if round_digits is not None:
        scored = scored.withColumn("cosine_sim", F.round("cosine_sim", round_digits))
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def quantize_embeddings(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: the compression step that
    makes a 100 TB ANN index storable (4x smaller than float32, and
    int8 dot kernels are the fast path on modern hardware).

    Output: (vec_id, scale, qvec) with scale = max|x_i| (guarded away
    from zero) rounded to 9dp and q_i = floor(x_i / scale * 127 + 0.5)
    -- floor(x + 0.5) instead of round() because ANSI engines disagree
    on round-half behavior while floor is identical everywhere, which
    keeps the quantization bit-reproducible cross-engine (the DuckDB
    oracle replays it exactly).

    The scale lives in its own Project before the quantize lambda:
    expressions referenced inside higher-order-function lambdas
    re-evaluate PER ELEMENT (the SCALE.md lambda trap), so an inlined
    max|x| subtree would turn O(dim) into O(dim^2) per row.  Map-side
    only -- no shuffle, no UDF; at scale this runs inside the same scan
    that feeds the LSH/IVF index builds.
    """
    staged = embeddings.select(
        F.col(id_col), as_double(vec_col).alias("__v")
    ).select(
        id_col,
        "__v",
        F.greatest(
            F.array_max(F.transform("__v", lambda x: F.abs(x))),
            F.lit(1e-12),
        ).alias("__s"),
    )
    return staged.select(
        id_col,
        F.round("__s", 9).alias("scale"),
        F.transform(
            "__v",
            lambda x: F.floor(x / F.col("__s") * 127 + F.lit(0.5)).cast("int"),
        ).alias("qvec"),
    )


def pq_encode(
    embeddings: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lazy_checkpoint: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Product quantization: split each dim-d vector into `m` subvectors
    of dim/m dims, learn a deterministic `n_codes`-entry codebook PER
    SUBSPACE (same seed rule as the IVF index: the n_codes lowest-id
    vectors' subvectors, one Lloyd refinement, argmin ties broken on
    code id), and encode every vector as m small integers -- the
    compression behind billion-scale ANN (m * log2(n_codes) bits per
    vector instead of dim * 64).

    Returns (codes, codebooks):
      codes     -- (id, subspace, code), m rows per vector (the
                   exploded layout travels better than an array column
                   and joins directly against ADC distance tables);
      codebooks -- (subspace, code, cvec).

    Determinism: seeds, the Lloyd mean, and the argmin tie-break are
    all order-free or id-tie-broken, so the encoding is bit-reproducible
    and the DuckDB oracle replays it exactly (the same property the
    kmeans/IVF oracles rely on).

    Scale shape: ALL m subspaces train in ONE plan -- the subvector
    explode keys every stage by (subspace, ...), so there is no
    per-subspace driver loop; codebooks are m * n_codes rows and ride
    broadcasts; the two assignment passes are map-side
    broadcast-join + partial-agg argmin over (id, subspace); the only
    wide state is the per-(subspace, code, pos) mean, bounded by
    m * n_codes * dim/m = n_codes * dim rows.  At 100 TB the encode is
    two scans of the vector table with nothing but (id, subspace,
    code) shuffling.
    """
    if dim % m != 0:
        raise ValueError(f"dim ({dim}) must be divisible by m ({m})")
    if n_codes < 1:
        # ADVICE r15: empty codebooks would NULL every code through the
        # per-row argmin; reject at the entry point
        raise ValueError("n_codes must be >= 1")
    d_sub = dim // m
    vecs = ensure_scan_parallelism(
        embeddings.select(
            F.col(id_col).alias("id"), as_double(vec_col).alias("vec")
        ),
        "id",
    )
    subs = _subvectors(vecs, m, d_sub)

    w = Window.partitionBy("subspace").orderBy("id")
    seeds = (
        subs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= n_codes)
        .select(
            "subspace",
            (F.col("__rn") - 1).alias("code"),
            F.col("svec").alias("cvec"),
        )
    )

    a0 = _assign_codes(subs, seeds)
    codebooks = (
        a0.select("subspace", "code", F.posexplode("svec").alias("pos", "x"))
        .groupBy("subspace", "code", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("subspace", "code")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
            ).alias("cvec")
        )
    )
    if lazy_checkpoint:
        # m * n_codes rows: 1 partition (see ivf_index)
        codebooks = codebooks.coalesce(1).localCheckpoint(eager=False)
    codes = _assign_codes(subs, codebooks).select("id", "subspace", "code")
    if lazy_checkpoint:
        codes = codes.localCheckpoint(eager=False)
    return codes, codebooks


def pq_adc_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) approximate top-k over PQ codes: the
    query stays exact, every database vector is its m codebook entries,
    and the distance is the sum of m precomputed subspace distances --
    a lookup-join scan that never touches the original vectors.

    Output: (vec_id, adc_d2), ascending (closest first), ties on id.

    Scale shape: the distance table is m * n_codes rows (query x
    codebook, broadcast both ways), the scan is codes JOIN dists on
    (subspace, code) -- broadcast, map-side -- then a partial-agg sum
    per id and a TakeOrdered top-k.  The original vector column is
    read ONCE at encode time; query time touches only (id, subspace,
    code) plus the tiny tables.
    """
    codes, codebooks = pq_encode(
        embeddings, m=m, n_codes=n_codes, dim=dim,
        id_col=id_col, vec_col=vec_col,
    )
    d_sub = dim // m
    q_subs = query.select(as_double(vec_col).alias("vec")).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        F.slice("vec", j * d_sub + 1, d_sub).alias("qsub"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s")
    ).select("s.subspace", "s.qsub")
    d2 = F.aggregate(
        F.zip_with(F.col("qsub"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = codebooks.join(F.broadcast(q_subs), "subspace").select(
        "subspace", "code", d2.alias("__d2")
    )
    return (
        codes.join(F.broadcast(dists), ["subspace", "code"])
        .groupBy("id")
        .agg(F.round(F.sum("__d2"), 6).alias("adc_d2"))
        .select(F.col("id").alias(id_col), "adc_d2")
        .orderBy(F.asc("adc_d2"), F.asc(id_col))
        .limit(k)
    )


def kmeans_convergence(
    embeddings: DataFrame,
    n_centroids: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Lloyd's algorithm run for `n_iter` recentering rounds with a
    per-iteration convergence trace -- the monitor a corpus-clustering
    job watches to decide when the partition is stable.  Output: one
    row per assignment pass, (iter, inertia, n_moved):

    - iter 0 is the seed assignment (n_moved = every point, by
      convention: all newly assigned);
    - iter i >= 1 follows the i-th recentering; n_moved counts points
      whose cluster changed vs the previous pass.  inertia (sum of
      squared distances to the assigned centroid) is non-increasing
      across iterations up to the centroid rounding below.

    Determinism: seeds are the `n_centroids` lowest-id vectors (same
    convention as `ivf_index`); argmin ties break on centroid_id; and
    recentered coordinates are ROUNDED to 9 decimals so the oracle's
    AVG (different summation order, ulp drift) replays every later
    assignment decision bit-identically.

    Scale shape per round: one broadcast of the k x dim centroid frame,
    a map-side argmin scan (min(struct) partial-aggregated), one
    posexplode recentering shuffle keyed by (centroid, dim).  Each
    round's assignment frame is PERSISTED and the stats rows collected
    eagerly (three tiny rows -- the stats-aggregate collect pattern),
    then every cache is released: a lazy composition would re-derive
    round i's whole subtree once per downstream reference (the
    duplicate_clusters_star round discipline, applied).  n_iter stays small
    because the trace, not full convergence, is the product.
    """
    if n_iter < 0:
        raise ValueError("n_iter must be >= 0")
    if n_centroids < 1:
        raise ValueError("n_centroids must be >= 1")
    spark = embeddings.sparkSession
    vecs = ensure_scan_parallelism(
        embeddings.select(
            F.col(id_col).alias("id"), as_double(vec_col).alias("vec")
        ),
        "id",
    )
    w = Window.orderBy("id")
    cents = (
        vecs.orderBy("id")
        .limit(n_centroids)
        .select(
            (F.row_number().over(w) - 1).alias("centroid_id"),
            F.col("vec").alias("cvec"),
        )
    )

    def assign_with_d2(cents: DataFrame) -> DataFrame:
        # the shared map-side argmin (r15): same min(struct(d2, cid))
        # ordering and per-element arithmetic as the old
        # crossJoin+groupBy form this function duplicated, minus that
        # form's full shuffle of the vector table per assignment pass
        return _assign_cells(vecs, cents, keep_d2=True)

    def recenter(assigned: DataFrame) -> DataFrame:
        return (
            assigned.select(
                "centroid_id", F.posexplode("vec").alias("pos", "x")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("x"), 9).alias("m"))
            .groupBy("centroid_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cvec")
            )
        )

    rows: list[tuple[int, float, int]] = []
    prev: DataFrame | None = None
    try:
        for it in range(n_iter + 1):
            assigned = assign_with_d2(cents).persist()
            if prev is None:
                stat = assigned.agg(
                    F.round(F.sum("d2"), round_digits).alias("i"),
                    F.count("*").alias("m"),
                ).collect()[0]
            else:
                # the id join is 1:1 and complete (same id set every
                # round), so ONE action reads both inertia and the
                # reassignment count off the joined frame
                stat = (
                    assigned.alias("n")
                    .join(prev.alias("p"), "id")
                    .agg(
                        F.round(F.sum("n.d2"), round_digits).alias("i"),
                        F.count(
                            F.when(
                                F.col("n.centroid_id")
                                != F.col("p.centroid_id"),
                                1,
                            )
                        ).alias("m"),
                    )
                    .collect()[0]
                )
                prev.unpersist()
            rows.append((it, stat["i"], stat["m"]))
            prev = assigned
            cents = recenter(assigned)  # lazy; unused after last round
    finally:
        if prev is not None:
            prev.unpersist()
    return spark.createDataFrame(
        rows, "iter int, inertia double, n_moved long"
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    shortlist: int = 30,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
    pq: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The composed IVF->PQ->rerank SERVING plan (the billion-scale ANN
    architecture: IVFADC of Jegou et al., "Product Quantization for
    Nearest Neighbor Search", + the standard exact re-rank stage):

      1. probe the `n_probe` IVF cells nearest the query (coarse
         quantizer prunes ~n_probe/n_centroids of the corpus),
      2. ADC-rank ONLY the probed cells' members by PQ lookup distance
         (no original vectors touched) down to a `shortlist`,
      3. exact cosine re-rank of the shortlist (shortlist original
         vectors fetched, typically 3-5x k) to the final top-k.

    Output: (id_col, cosine_sim) descending, ties on id -- the same
    contract as ivf_topk, so the two serve interchangeably.

    Scale shape: query-time work is [n_probe/n_centroids of the codes
    table] x [m broadcast-lookup joins] + shortlist vector fetches --
    the corpus's original vectors are read only at index-build time
    and for `shortlist` rows per query.  Both index builds happen
    inline here so the differential oracle can replay them; production
    materializes assignments (partitioned by centroid_id) and codes
    once and serves many queries.

    round_digits rounds BOTH the ADC distance (before the shortlist
    limit) and the cosine (before the final limit) so both engines
    select identical row sets at ties.

    `index`/`pq` optionally supply prebuilt (assignments, centroids) /
    (codes, codebooks) so eval harnesses share one build across
    variants (VERDICT r10 item 4)."""
    assignments, centroids = (
        index
        if index is not None
        else ivf_index(embeddings, n_centroids, id_col, vec_col)
    )
    codes, codebooks = (
        pq
        if pq is not None
        else pq_encode(
            embeddings, m=m, n_codes=n_codes, dim=dim,
            id_col=id_col, vec_col=vec_col,
        )
    )
    q = query.select(as_double(vec_col).alias("__qvec"))
    d2c = F.aggregate(
        F.zip_with(F.col("cvec"), F.col("__qvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    probes = (
        centroids.crossJoin(F.broadcast(q))
        .select("centroid_id", d2c.alias("d2"))
        .orderBy("d2", "centroid_id")
        .limit(n_probe)
        .select("centroid_id")
    )
    # ids ONLY: the ADC stage is structurally unable to touch original
    # vectors (not merely optimizer-pruned); the re-rank below fetches
    # vectors for the shortlist alone
    cand_ids = assignments.select("id", "centroid_id").join(
        F.broadcast(probes), "centroid_id"
    ).select("id")
    d_sub = dim // m
    q_subs = q.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        F.slice("__qvec", j * d_sub + 1, d_sub).alias("qsub"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s")
    ).select("s.subspace", "s.qsub")
    d2s = F.aggregate(
        F.zip_with(F.col("qsub"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = codebooks.join(F.broadcast(q_subs), "subspace").select(
        "subspace", "code", d2s.alias("__dd")
    )
    adc = codes.join(cand_ids, "id").join(
        F.broadcast(dists), ["subspace", "code"]
    ).groupBy("id").agg(F.sum("__dd").alias("adc_d2"))
    if round_digits is not None:
        adc = adc.withColumn("adc_d2", F.round("adc_d2", round_digits))
    short = adc.orderBy(F.asc("adc_d2"), F.asc("id")).limit(shortlist).select("id")
    rer = (
        assignments.select("id", "vec")
        .join(F.broadcast(short), "id")
        .crossJoin(F.broadcast(q))
        .select(
            F.col("id").alias(id_col),
            cosine(F.col("vec"), F.col("__qvec")).alias("cosine_sim"),
        )
    )
    if round_digits is not None:
        rer = rer.withColumn("cosine_sim", F.round("cosine_sim", round_digits))
    return rer.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def ivf_pq_recall(
    embeddings: DataFrame,
    query: DataFrame,
    k: int = 10,
    shortlist: int = 30,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Side-by-side offline evaluation of BOTH approximate serving
    paths at the same probe budget: one row per path ('ivf' = probe +
    exact cosine within probed cells; 'ivf_pq' = probe + ADC shortlist
    + exact re-rank), each scored against the same brute-force exact
    top-k -- so the composed path's recall is MEASURED >= or < the
    IVF-only path in one cross-engine-verified frame (the ann_recall
    discipline, extended to a path comparison).

    Output: (path, k, n_exact, n_hits, recall), 2 rows.

    Shared-build discipline (VERDICT r10 item 4): the query frame,
    the IVF index, the PQ codebooks, and the exact top-k are each
    derived ONCE and lazily localCheckpoint-ed -- Catalyst re-derives
    every multiply-referenced frame, so without the checkpoints this
    harness re-ran both index builds per path (embeddings x34 in the
    audited plan).  Lazy (eager=False): explaining the harness never
    runs the builds; the checkpoint jobs fire at the first action."""
    query = query.coalesce(1).localCheckpoint(eager=False)
    idx = ivf_index(
        embeddings, n_centroids, id_col, vec_col, lazy_checkpoint=True
    )
    pq = pq_encode(
        embeddings, m=m, n_codes=n_codes, dim=dim,
        id_col=id_col, vec_col=vec_col, lazy_checkpoint=True,
    )
    q = query.select(as_double(vec_col).alias("__qvec"))
    scored = embeddings.crossJoin(F.broadcast(q)).select(
        F.col(id_col),
        F.round(
            cosine(as_double(vec_col), F.col("__qvec")), round_digits
        ).alias("__s"),
    )
    exact = (
        scored.orderBy(F.desc("__s"), F.asc(id_col))
        .limit(k)
        .select(id_col)
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    paths = {
        "ivf": ivf_topk(
            embeddings, query, k=k, n_centroids=n_centroids, n_probe=n_probe,
            id_col=id_col, vec_col=vec_col, round_digits=round_digits,
            index=idx,
        ).select(id_col),
        "ivf_pq": ivf_pq_topk(
            embeddings, query, k=k, shortlist=shortlist,
            n_centroids=n_centroids, n_probe=n_probe, m=m, n_codes=n_codes,
            dim=dim, id_col=id_col, vec_col=vec_col,
            round_digits=round_digits, index=idx, pq=pq,
        ).select(id_col),
    }
    frames = []
    for name, approx in paths.items():
        frames.append(
            exact.join(approx.withColumn("__hit", F.lit(1)), id_col, "left")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("__hit").alias("n_hits"),
            )
            .select(
                F.lit(name).alias("path"),
                F.lit(k).alias("k"),
                F.col("n_exact"),
                F.col("n_hits"),
                F.when(
                    F.col("n_exact") > 0,
                    F.round(F.col("n_hits") / F.col("n_exact"), 6),
                ).alias("recall"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# NOTE on the deliberate single/batch split: the single-query paths
# (ivf_topk / ivf_pq_topk) keep their orderBy().limit() form -- for one
# query that compiles to TakeOrderedAndProject, strictly better than a
# batch-of-1 window (one partition, full sort). Delegating single to
# batch would simplify the code but regress the B=1 plan; the per-query
# equivalence of the two paths is pinned in
# tests/test_ext_operators.py::test_ivf_pq_batch_topk_matches_single_query_path.


def ivf_batch_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """ivf_topk generalized to a query BATCH: one shared index build,
    per-query probing/scoring/top-k keyed by query_id -- no per-query
    job loop (production retrieval serves batches, VERDICT r9 item 3).

    Output: (query_id, vec_id, cosine_sim), k rows per query, the same
    per-query contract as ivf_topk.

    Scale shape: the query frame is broadcast (a serving batch is
    KB-sized); probes are a rank window over the batch x centroid
    frame (B x n_centroids rows); candidates fan out per (query,
    probed cell) and the per-query top-k is a rank-filter window that
    Spark rewrites into map-side WindowGroupLimit partial top-k, so a
    hot query cannot serialize a partition's full candidate list
    through the sort."""
    assignments, centroids = (
        index
        if index is not None
        else ivf_index(embeddings, n_centroids, id_col, vec_col)
    )
    q = queries.select(
        F.col(query_id_col).alias("qid"), as_double(vec_col).alias("__qvec")
    )
    d2 = F.aggregate(
        F.zip_with(F.col("cvec"), F.col("__qvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("centroid_id"))
    probes = (
        centroids.crossJoin(F.broadcast(q))
        .select("qid", "centroid_id", d2.alias("d2"))
        .withColumn("__rn", F.row_number().over(wp))
        .where(F.col("__rn") <= n_probe)
        .select("qid", "centroid_id")
    )
    cands = assignments.join(F.broadcast(probes), "centroid_id")
    scored = cands.join(F.broadcast(q), "qid").select(
        "qid",
        "id",
        cosine(F.col("vec"), F.col("__qvec")).alias("cosine_sim"),
    )
    if round_digits is not None:
        scored = scored.withColumn(
            "cosine_sim", F.round("cosine_sim", round_digits)
        )
    wk = Window.partitionBy("qid").orderBy(
        F.desc("cosine_sim"), F.asc("id")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(wk))
        .where(F.col("__rn") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("id").alias(id_col),
            "cosine_sim",
        )
    )


def ivf_pq_batch_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 30,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = None,
    index: tuple[DataFrame, DataFrame] | None = None,
    pq: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """The composed IVF->PQ->rerank serving plan for a query BATCH
    (VERDICT r9 item 3): both indexes build once; probing, ADC, the
    shortlist, and the final top-k are all keyed by query_id, so one
    plan serves the whole batch with zero per-query driver work.

    Output: (query_id, vec_id, cosine_sim), k rows per query --
    ivf_pq_topk's contract per query.

    Scale shape, stage by stage:
      - probes: rank window over batch x centroids (B x n_centroids
        rows, broadcast-fed);
      - candidates: IDS ONLY join probed cells (the codes-only ADC
        contract is structural here -- original vectors never enter
        the candidate frame);
      - ADC: codes join the (query, id) candidates, then a BROADCAST
        lookup join against the B x m x n_codes distance table,
        partial-aggregated sum per (query, id);
      - shortlist + final top-k: rank-filter windows per query_id that
        Spark rewrites to map-side WindowGroupLimit partial top-k;
      - re-rank: original vectors fetched via a broadcast of the
        B x shortlist id set -- the only stage that touches vectors.
    At 100 TB with materialized assignments/codes partitioned by
    centroid_id, the probe join prunes partitions and everything else
    is broadcast-fed map work plus one (query, id)-keyed partial agg.

    round_digits rounds the ADC distance before the shortlist window
    and the cosine before the final window (the ivf_pq_topk
    cross-engine tie convention, per query)."""
    assignments, centroids = (
        index
        if index is not None
        else ivf_index(embeddings, n_centroids, id_col, vec_col)
    )
    codes, codebooks = (
        pq
        if pq is not None
        else pq_encode(
            embeddings, m=m, n_codes=n_codes, dim=dim,
            id_col=id_col, vec_col=vec_col,
        )
    )
    return ivf_pq_batch_serve(
        assignments,
        centroids,
        codes,
        codebooks,
        queries,
        k=k,
        shortlist=shortlist,
        m=m,
        n_probe=n_probe,
        dim=dim,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        round_digits=round_digits,
    )


def ivf_pq_batch_serve(
    assignments: DataFrame,
    centroids: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 30,
    n_probe: int = 4,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int | None = None,
) -> DataFrame:
    """The serving half of ivf_pq_batch_topk, taking PREBUILT index
    frames (inline-derived or read back from a materialized store) --
    assignments(id, vec, centroid_id), centroids(centroid_id, cvec),
    codes(id, subspace, code), codebooks(subspace, code, cvec).

    This is the production entry point: with assignments/codes WRITTEN
    partitioned by centroid_id, the ids-only candidate join against
    the broadcast probe frame dynamic-partition-prunes the stored scan
    (only probed cells' files open), and the serving cost per batch is
    probed lists + B x shortlist re-rank vectors -- never an index
    rebuild.  Identical results to the inline path: every index value
    is doubles/ints that round-trip parquet bit-exactly."""
    q = queries.select(
        F.col(query_id_col).alias("qid"), as_double(vec_col).alias("__qvec")
    )
    d2c = F.aggregate(
        F.zip_with(F.col("cvec"), F.col("__qvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wp = Window.partitionBy("qid").orderBy(F.asc("d2"), F.asc("centroid_id"))
    probes = (
        centroids.crossJoin(F.broadcast(q))
        .select("qid", "centroid_id", d2c.alias("d2"))
        .withColumn("__rn", F.row_number().over(wp))
        .where(F.col("__rn") <= n_probe)
        .select("qid", "centroid_id")
    )
    # ids only: the ADC stage must be structurally unable to touch
    # original vectors (VERDICT r9 nit 4)
    cand_ids = (
        assignments.select("id", "centroid_id")
        .join(F.broadcast(probes), "centroid_id")
        .select("qid", "id")
    )
    d_sub = dim // m
    q_subs = q.select(
        "qid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("subspace"),
                        F.slice("__qvec", j * d_sub + 1, d_sub).alias("qsub"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("s"),
    ).select("qid", "s.subspace", "s.qsub")
    d2s = F.aggregate(
        F.zip_with(F.col("qsub"), F.col("cvec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    dists = codebooks.join(F.broadcast(q_subs), "subspace").select(
        "qid", "subspace", "code", d2s.alias("__dd")
    )
    adc = (
        codes.join(cand_ids, "id")
        .join(F.broadcast(dists), ["qid", "subspace", "code"])
        .groupBy("qid", "id")
        .agg(F.sum("__dd").alias("adc_d2"))
    )
    if round_digits is not None:
        adc = adc.withColumn("adc_d2", F.round("adc_d2", round_digits))
    ws = Window.partitionBy("qid").orderBy(F.asc("adc_d2"), F.asc("id"))
    short = (
        adc.withColumn("__rn", F.row_number().over(ws))
        .where(F.col("__rn") <= shortlist)
        .select("qid", "id")
    )
    rer = (
        assignments.select("id", "vec")
        .join(F.broadcast(short), "id")
        .join(F.broadcast(q), "qid")
        .select(
            "qid",
            "id",
            cosine(F.col("vec"), F.col("__qvec")).alias("cosine_sim"),
        )
    )
    if round_digits is not None:
        rer = rer.withColumn("cosine_sim", F.round("cosine_sim", round_digits))
    wk = Window.partitionBy("qid").orderBy(F.desc("cosine_sim"), F.asc("id"))
    return (
        rer.withColumn("__rn", F.row_number().over(wk))
        .where(F.col("__rn") <= k)
        .select(
            F.col("qid").alias(query_id_col),
            F.col("id").alias(id_col),
            "cosine_sim",
        )
    )


def ivf_pq_batch_recall(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 30,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    round_digits: int = 6,
) -> DataFrame:
    """ivf_pq_recall over a query SAMPLE: per-query recall@k of both
    approximate serving paths against the per-query brute-force exact
    top-k, aggregated to the batch mean AND minimum -- the mean is the
    number an index sign-off quotes, the minimum is the worst query
    the sample saw (a mean can hide a dead cell).

    Output: (path, k, n_queries, mean_recall, min_recall), 2 rows.

    Per-query recall divides by that query's ACTUAL exact-side row
    count (the ann_recall convention); scores round before every rank
    window so both engines of the differential harness select
    identical per-query row sets at ties.

    Shared-build discipline (VERDICT r10 item 4): query batch, IVF
    index, PQ codebooks, and the per-query exact top-k are each
    derived once and lazily localCheckpoint-ed, then reused by both
    paths -- the un-checkpointed form re-ran every build per path
    (embeddings x27 in the audited plan)."""
    queries = queries.coalesce(1).localCheckpoint(eager=False)
    idx = ivf_index(
        embeddings, n_centroids, id_col, vec_col, lazy_checkpoint=True
    )
    pqb = pq_encode(
        embeddings, m=m, n_codes=n_codes, dim=dim,
        id_col=id_col, vec_col=vec_col, lazy_checkpoint=True,
    )
    q = queries.select(
        F.col(query_id_col).alias("qid"), as_double(vec_col).alias("__qvec")
    )
    scored = (
        embeddings.select(
            F.col(id_col).alias("id"), as_double(vec_col).alias("__vec")
        )
        .crossJoin(F.broadcast(q))
        .select(
            "qid",
            "id",
            F.round(
                cosine(F.col("__vec"), F.col("__qvec")), round_digits
            ).alias("__s"),
        )
    )
    wk = Window.partitionBy("qid").orderBy(F.desc("__s"), F.asc("id"))
    exact = (
        scored.withColumn("__rn", F.row_number().over(wk))
        .where(F.col("__rn") <= k)
        .select("qid", "id")
        # repartition, NOT coalesce: coalesce(1) propagates upstream
        # into the window's shuffle read, funnelling the whole
        # |embeddings| x nq exact-side reduce through one task
        # (ADVICE r11); the repartition exchange keeps the scoring
        # stage parallel and only the nq*k result rows move
        .repartition(1)
        .localCheckpoint(eager=False)
    )
    paths = {
        "ivf": ivf_batch_topk(
            embeddings, queries, k=k, n_centroids=n_centroids,
            n_probe=n_probe, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, round_digits=round_digits,
            index=idx,
        ),
        "ivf_pq": ivf_pq_batch_topk(
            embeddings, queries, k=k, shortlist=shortlist,
            n_centroids=n_centroids, n_probe=n_probe, m=m,
            n_codes=n_codes, dim=dim, id_col=id_col, vec_col=vec_col,
            query_id_col=query_id_col, round_digits=round_digits,
            index=idx, pq=pqb,
        ),
    }
    frames = []
    for name, approx in paths.items():
        hits = approx.select(
            F.col(query_id_col).alias("qid"),
            F.col(id_col).alias("id"),
            F.lit(1).alias("__hit"),
        )
        per_q = (
            exact.join(hits, ["qid", "id"], "left")
            .groupBy("qid")
            .agg(
                F.count(F.lit(1)).alias("n_exact"),
                F.count("__hit").alias("n_hits"),
            )
            .select(
                (F.col("n_hits") / F.col("n_exact")).alias("__recall")
            )
        )
        frames.append(
            per_q.agg(
                F.count(F.lit(1)).alias("n_queries"),
                F.round(F.avg("__recall"), 6).alias("mean_recall"),
                F.round(F.min("__recall"), 6).alias("min_recall"),
            ).select(
                F.lit(name).alias("path"),
                F.lit(k).alias("k"),
                "n_queries",
                "mean_recall",
                "min_recall",
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


# -- materialized-index serving ---------------------------------------------

_INDEX_PARTS = ("assignments", "centroids", "codes", "codebooks")

# The store is VERSIONED (VERDICT r12 item 2): each build, compaction
# and rebuild lands in its own `v{N}/` directory holding the four parts
# (plus `health/` and, after a delete, `deletes/`), and readers resolve
# the store's pointer ONCE per query, so a compaction
# publishing v{N+1} never races a reader.  The pointer protocol lives
# in sinks/versioned.py.


# assignment-quality history (VERDICT r12 item 6): one row per build /
# upsert batch -- p50/p95 squared distance-to-centroid of the batch as
# assigned.  The build row is the baseline; upsert rows drifting away
# from it are the measurable rebuild trigger the upsert docstring used
# to punt to the caller.
_HEALTH_PART = "health"


def _append_health_row(
    asg_d2: DataFrame, store_dir: str, kind: str, seq: int
) -> None:
    """Append one (seq, kind, n_vectors, p50_d2, p95_d2) row to the
    store's health part.  KB-sized: a single aggregated row per batch,
    coalesced to one file."""
    import os

    (
        asg_d2.agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.percentile("d2", F.lit(0.5)), 9).alias("p50_d2"),
            F.round(F.percentile("d2", F.lit(0.95)), 9).alias("p95_d2"),
        )
        .select(
            F.lit(seq).cast("long").alias("seq"),
            F.lit(kind).alias("kind"),
            "n_vectors",
            "p50_d2",
            "p95_d2",
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(os.path.join(store_dir, _HEALTH_PART))
    )


def _next_health_seq(spark, store_dir: str) -> int:
    import os

    p = os.path.join(store_dir, _HEALTH_PART)
    if not os.path.exists(os.path.join(p, "_SUCCESS")):
        return 1
    return (spark.read.parquet(p).agg(F.max("seq")).first()[0] or 0) + 1


def ivf_pq_store_health(
    spark, base_path: str, drift_factor: float = 2.0
) -> DataFrame:
    """Assignment-quality drift report for a materialized store
    (VERDICT r12 item 6 -- the rebuild trigger, measured): every
    build/upsert health row joined against the build-time baseline,
    with drift_ratio = batch p50 distance-to-centroid over the build
    p50 and rebuild_recommended = an UPSERT batch whose p50 exceeds
    drift_factor x the baseline.  After enough out-of-distribution
    ingest the Lloyd centroids stop reflecting the corpus; this makes
    that moment a boolean a scheduler can act on instead of a judgment
    call.  KB-sized end to end (one row per batch, baseline rides a
    broadcast)."""
    import os

    h = spark.read.parquet(
        os.path.join(versioned.resolve(base_path), _HEALTH_PART)
    )
    base = (
        h.where(F.col("kind") == "build")
        .agg(F.min("p50_d2").alias("__build_p50"))
    )
    return (
        h.crossJoin(F.broadcast(base))
        .select(
            "seq",
            "kind",
            "n_vectors",
            "p50_d2",
            "p95_d2",
            F.round(F.col("p50_d2") / F.col("__build_p50"), 6).alias(
                "drift_ratio"
            ),
            (
                (F.col("kind") == F.lit("upsert"))
                & (
                    F.col("p50_d2")
                    > F.lit(float(drift_factor)) * F.col("__build_p50")
                )
            ).alias("rebuild_recommended"),
        )
        .orderBy("seq")
    )


def _write_ivf_pq_build(
    corpus: DataFrame,
    out_dir: str,
    n_centroids: int,
    m: int,
    n_codes: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> None:
    """Train the IVF + PQ index on `corpus` and write the production
    layout under out_dir: assignments and codes land
    `partitionBy("centroid_id")` so probe-time scans prune to the
    probed cells' files; centroids and codebooks are KB-sized plain
    tables; the health part gets its build-time baseline row.

    codes carry centroid_id (joined from assignments) purely as the
    partition key, so the ADC stage can ALSO prune to probed cells.
    The builds are lazy-checkpointed so the k-means and PQ assignment
    run ONCE across the four writes, not once per action (assignments
    feeds both its own write and the cells join into the codes
    write)."""
    import os

    assignments, centroids = ivf_index(
        corpus, n_centroids, id_col, vec_col,
        lazy_checkpoint=True, keep_d2=True,
    )
    codes, codebooks = pq_encode(
        corpus, m=m, n_codes=n_codes, dim=dim,
        id_col=id_col, vec_col=vec_col, lazy_checkpoint=True,
    )
    cells = assignments.select("id", "centroid_id")
    assignments.drop("d2").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(os.path.join(out_dir, "assignments"))
    # build-time drift baseline: the d2 column rides the SAME lazy
    # checkpoint as the assignments write -- no extra assignment pass
    _append_health_row(
        assignments.select("d2"), out_dir, kind="build", seq=0
    )
    codes.join(cells, "id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(os.path.join(out_dir, "codes"))
    centroids.write.mode("overwrite").parquet(
        os.path.join(out_dir, "centroids")
    )
    codebooks.write.mode("overwrite").parquet(
        os.path.join(out_dir, "codebooks")
    )


def materialize_ivf_pq_index(
    embeddings: DataFrame,
    base_path: str,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    upsert: DataFrame | None = None,
) -> None:
    """Build the IVF + PQ index ONCE (_write_ivf_pq_build) and publish
    it as the store's first version.  Idempotent: once any version is
    published under base_path this is a no-op -- the index is built
    once per corpus, amortized over every query batch served from it
    (the posture each inline ivf_* docstring promises).

    Atomicity (ADVICE r11 + VERDICT r12 item 2): the build is staged in
    a private dir and promoted by versioned.publish (one rename, the
    pointer written last), so a reader never sees a half-written
    store.  Two builders racing on an empty store both publish their
    identical, deterministic builds (v1 and v2); a builder that crashed
    between its rename and its pointer write leaves an unpublished v1
    that the next build skips and vacuum removes.

    `upsert`, if given, is an ingestion batch appended to the staged
    build BEFORE it is published: base build + upsert are one atomic,
    idempotent unit (re-running the sequence against a published store
    is the no-op above, never a double append)."""
    if versioned.is_published(base_path):
        return
    staged = versioned.staging_dir(base_path, "build")
    _write_ivf_pq_build(
        embeddings, staged, n_centroids, m, n_codes, dim, id_col, vec_col
    )
    if upsert is not None:
        _ivf_pq_append(upsert, staged, m, dim, id_col, vec_col)
    versioned.publish(base_path, staged)


def ivf_pq_index_upsert(
    new_embeddings: DataFrame,
    base_path: str,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance for a materialize_ivf_pq_index store
    (VERDICT r11 item 3): assign the new batch to the EXISTING
    centroids (no re-clustering), PQ-encode it against the EXISTING
    codebooks, and APPEND the new rows into the centroid_id partition
    directories of the served version.  Untouched partitions' data
    files are never rewritten (tests/test_ivf_index_upsert.py asserts
    byte-identity); centroids and codebooks are immutable -- the IVF
    analogue of the dedup signature index's append-only incremental
    family (operators/dedup.py).

    Cost shape: ONE map-only pass over the NEW batch -- centroids and
    codebooks ride broadcasts, the argmin groupBys partial-aggregate,
    and nothing of the existing corpus moves.  At 100 TB an ingest
    batch touches only its own rows plus the partition directories it
    lands in.  Single writer per store (log-structured append).  Drift
    is MEASURED, not punted: each batch appends a health row (p50/p95
    distance-to-assigned-centroid) next to the build-time baseline,
    and ivf_pq_store_health turns that history into a concrete
    rebuild_recommended flag once upserted batches stop fitting the
    Lloyd centroids.
    """
    _ivf_pq_append(
        new_embeddings, versioned.resolve(base_path), m, dim, id_col, vec_col
    )


def _ivf_pq_append(
    new_embeddings: DataFrame,
    store: str,
    m: int,
    dim: int,
    id_col: str,
    vec_col: str,
) -> None:
    """The upsert's body, applied to one version directory `store`."""
    import os

    spark = new_embeddings.sparkSession
    centroids = spark.read.parquet(os.path.join(store, "centroids"))
    codebooks = spark.read.parquet(os.path.join(store, "codebooks"))
    vecs = new_embeddings.select(
        F.col(id_col).alias("id"), as_double(vec_col).alias("vec")
    )
    # checkpoint: the assignment feeds BOTH its own append and the
    # centroid_id join into the codes append (the materialize build's
    # single-build discipline); d2 rides it for the health row
    new_asg = _assign_cells(vecs, centroids, keep_d2=True).localCheckpoint(
        eager=False
    )
    new_codes = _assign_codes(
        _subvectors(new_asg.select("id", "vec"), m, dim // m), codebooks
    ).select("id", "subspace", "code")
    # cluster each append by its partition key before the write (guide
    # §6 small files): without this, every one of the N writing tasks
    # emits a file into every centroid_id directory it holds rows for
    # -- measured ~1,000 files from ONE sf0.1 upsert (32 tasks x 16
    # dirs x 2 parts), and every later serve paid the listing + footer
    # reads (+0.7 s, the r15/r16 upsert_served regression).  A
    # batch-sized repartition on the partition column hashes each cell
    # to exactly one task, so each touched directory gets exactly one
    # file at any batch size.  A skewed cell stays in its one task:
    # AQE splits skewed partitions of joins and rebalance(), never of a
    # repartition by column.
    new_asg.drop("d2").repartition("centroid_id").write.mode(
        "append"
    ).partitionBy("centroid_id").parquet(
        os.path.join(store, "assignments")
    )
    new_codes.join(
        new_asg.select("id", "centroid_id"), "id"
    ).repartition("centroid_id").write.mode("append").partitionBy(
        "centroid_id"
    ).parquet(os.path.join(store, "codes"))
    # per-batch assignment-quality row: the measurable drift signal
    # ivf_pq_store_health turns into a rebuild recommendation
    _append_health_row(
        new_asg.select("d2"),
        store,
        kind="upsert",
        seq=_next_health_seq(spark, store),
    )


def ivf_pq_index_delete(ids: DataFrame, base_path: str) -> None:
    """Tombstone deletion for a materialize_ivf_pq_index store (the
    right-to-be-forgotten path a training-data index needs): the ids to
    delete are APPENDED to a `deletes` part -- no partition is
    rewritten at delete time, exactly like the upsert's append
    discipline.  Serving subtracts tombstones with a broadcast
    anti-join on the assignments frame (KB-sized ids vs the store);
    compact_ivf_pq_index applies them PHYSICALLY (tombstoned rows
    dropped from the rewritten cells, the deletes part cleared) -- the
    log-structured merge the append family is named after.

    `ids` must carry a single column named `id`."""
    import os

    ids.select("id").write.mode("append").parquet(
        os.path.join(versioned.resolve(base_path), "deletes")
    )


def read_ivf_pq_index_deletes(spark, base_path: str) -> DataFrame | None:
    """The store's tombstone set, or None if no delete was ever
    applied."""
    import os

    p = os.path.join(versioned.resolve(base_path), "deletes")
    if not os.path.exists(os.path.join(p, "_SUCCESS")):
        return None
    return spark.read.parquet(p)


def compact_ivf_pq_index(spark, base_path: str) -> None:
    """Log-structured maintenance for an upsert-maintained store: every
    ivf_pq_index_upsert APPENDS files into the centroid_id partitions,
    so after many ingest batches each cell directory holds one file per
    batch -- at 100 TB that is the classic small-files listing/open tax
    on every probe.  Compaction rewrites assignments and codes with ONE
    file per cell (repartition on the partition column puts each cell
    in exactly one task) into a staged dir and publishes it as the next
    version.  Contents are byte-equal as SETS of rows;
    centroids/codebooks rewrite verbatim.

    Reader-atomic (VERDICT r12 item 2): readers resolve the pointer
    once per query and see either v{N} or v{N+1}, both
    complete -- there is no gap a new reader can land in, and a reader
    pinned on v{N} keeps its snapshot because superseded versions are
    RETAINED until versioned.vacuum.  A crash before the pointer write
    leaves an unpublished version dir (harmless; the next publish skips
    it and vacuum removes it).  Single MAINTAINER per store, like the
    upsert itself."""
    import os

    cur = versioned.resolve(base_path)
    staged = versioned.staging_dir(base_path, "compact")
    # tombstones (ivf_pq_index_delete) are applied PHYSICALLY here:
    # the rewritten cells drop deleted rows and the deletes part is
    # not carried into the compacted store
    deletes = read_ivf_pq_index_deletes(spark, base_path)
    for part in ("assignments", "codes"):
        df = spark.read.parquet(os.path.join(cur, part))
        if deletes is not None:
            df = df.join(F.broadcast(deletes), "id", "left_anti")
        df.repartition("centroid_id").write.partitionBy(
            "centroid_id"
        ).parquet(os.path.join(staged, part))
    for part in ("centroids", "codebooks"):
        spark.read.parquet(os.path.join(cur, part)).coalesce(
            1
        ).write.parquet(os.path.join(staged, part))
    # the assignment-quality history survives compaction verbatim: the
    # drift baseline is a property of the CENTROIDS (unchanged here),
    # not of the physical file layout
    hp = os.path.join(cur, _HEALTH_PART)
    if os.path.exists(os.path.join(hp, "_SUCCESS")):
        spark.read.parquet(hp).coalesce(1).write.parquet(
            os.path.join(staged, _HEALTH_PART)
        )
    versioned.publish(base_path, staged)


def rebuild_ivf_pq_index(
    spark,
    base_path: str,
    n_centroids: int = 16,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
) -> None:
    """The action ivf_pq_store_health's rebuild_recommended points at:
    re-train the ENTIRE index from the store's own corpus of record
    (current assignments minus tombstones -- every upserted vector
    included, every deleted one excluded) and publish it as the next
    version.  Centroids and codebooks are retrained from scratch, so
    post-rebuild the store is bit-identical to a monolithic
    materialize over the merged corpus (the deterministic lowest-id
    seeding sees the same ids either way) -- the property the
    registered rebuild-served query's oracle checks.

    Reader-atomicity rides the version pointer like compaction: the
    rebuild lands in v{N+1}, the pointer republishes atomically, the
    superseded version is retained for pinned readers until vacuum.
    The health history RESETS to a fresh build baseline: drift was
    measured against the OLD centroids, which no longer exist.

    Cost shape: one full re-clustering pass over the stored vectors --
    the deliberate, occasional counterpart to the upsert's map-only
    appends; at 100 TB this is the nightly/weekly job the drift flag
    schedules, not a per-ingest step."""
    import os

    cur = versioned.resolve(base_path)
    corpus = spark.read.parquet(os.path.join(cur, "assignments")).select(
        "id", "vec"
    )
    deletes = read_ivf_pq_index_deletes(spark, base_path)
    if deletes is not None:
        corpus = corpus.join(F.broadcast(deletes), "id", "left_anti")
    staged = versioned.staging_dir(base_path, "rebuild")
    _write_ivf_pq_build(
        corpus, staged, n_centroids, m, n_codes, dim, "id", "vec"
    )
    versioned.publish(base_path, staged)


def read_ivf_pq_index(spark, base_path: str) -> dict[str, DataFrame]:
    """Read back a materialize_ivf_pq_index store; keys _INDEX_PARTS.
    Resolves the store's version pointer ONCE here, so every frame
    in the returned dict reads the same version snapshot even if a
    compaction republishes the pointer mid-query."""
    import os

    store = versioned.resolve(base_path)
    return {
        p: spark.read.parquet(os.path.join(store, p))
        for p in _INDEX_PARTS
    }
