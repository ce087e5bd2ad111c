"""Count-Min sketch: mergeable approximate frequency counting (EXT).

The frequency-counting sibling of the HLL distinct-count rollup
(queries_ext.events_user_sketch_rollup): where HLL answers "how many
distinct", Count-Min answers "about how often does key x occur" in
O(d x w) space regardless of key cardinality, with one-sided error
(estimate >= true count, always -- hash collisions only ADD).

Built portably instead of on a JVM sketch type: a sketch here is just
rows (i, col, c) for d hash rows x w columns, counters summed by
groupBy -- which makes the two properties that matter at 100 TB
directly testable:

- **mergeable**: the sketch of a union is the cell-wise SUM of the
  sketches, so daily sketches roll up to monthly/all-time exactly
  (the same algebra as any partial-aggregate rollup);
- **deterministic**: cells are picked by the portable 31-bit universal
  hash family (functions/hashing.py), so a DuckDB oracle replays
  every counter and every estimate bit-identically, INCLUDING the
  collision overestimates -- the error itself is verified, not
  assumed (the Bloom-filter decontamination precedent).

Scale shape: building is one partial-aggregated groupBy over
(period, i, col) -- output bounded by periods x d x w cells, never by
key cardinality; estimating joins the tiny merged sketch (broadcast)
against the query keys and takes min over the d rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import family_hash, hash31


def countmin_daily_sketches(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    depth: int = 4,
    width: int = 64,
) -> DataFrame:
    """Per-day Count-Min sketches of `key_col` occurrences:
    (day, i, col, c) rows, i in [0, depth), col in [0, width).

    Rows with NULL key or NULL ts carry no countable occurrence and
    are dropped (pinned by the oracle's WHERE)."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    base = df.where(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.date_trunc("day", F.col(ts_col)).cast("date").alias("day"),
        hash31(F.col(key_col).cast("string")).alias("__h"),
    )
    rows = base.select(
        "day",
        F.posexplode(
            F.array(
                *[(family_hash(F.col("__h"), i) % width) for i in range(depth)]
            )
        ).alias("i", "col"),
    )
    return rows.groupBy("day", "i", "col").agg(F.count("*").alias("c"))


def countmin_estimate(
    sketches: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 64,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Merge the (day, i, col, c) sketches cell-wise and estimate each
    key's total occurrence count: min over the d rows of the key's
    cell -- always >= the true count (collisions only add).

    Output: (key, *extra_cols, est_count).  `extra_cols` ride the keys
    frame through the estimation (they must be functionally dependent
    on the key, e.g. a precomputed exact count) so callers don't need
    a second join -- and with it a second derivation -- of the keys
    subtree.  The merged sketch is depth x width rows -- broadcast;
    estimation is a map-side join + tiny aggregation."""
    merged = sketches.groupBy("i", "col").agg(F.sum("c").alias("c"))
    lookups = keys.select(
        F.col(key_col),
        *extra_cols,
        hash31(F.col(key_col).cast("string")).alias("__h"),
    ).select(
        key_col,
        *extra_cols,
        F.posexplode(
            F.array(
                *[(family_hash(F.col("__h"), i) % width) for i in range(depth)]
            )
        ).alias("i", "col"),
    )
    return (
        lookups.join(F.broadcast(merged), ["i", "col"])
        .groupBy(key_col, *extra_cols)
        .agg(F.min("c").alias("est_count"))
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct-count sketch
# ---------------------------------------------------------------------------
#
# The distinct-count sibling with an EXACT mergeability story: a KMV
# sketch is the k smallest distinct hash values of a set (Bar-Yossef
# et al. 2002, "Counting distinct elements in a data stream").  Its
# union law is order-statistic algebra, not approximation: the k
# smallest of the union of per-part k-smallest sets IS the k smallest
# of the full union (any global top-k element is top-k within its
# part).  So daily sketches roll up to monthly estimates BIT-IDENTICAL
# to sketching the month directly -- verified in-plan, not assumed.
#
# Like Count-Min above, sketches are plain rows ((group, h) pairs)
# built on the portable md5-based hash64, so a DuckDB oracle replays
# every hash, every kth-minimum, and every estimate exactly.
#
# Scale shape: one distinct on (group, hash) -- partial-aggregated,
# ships one row per distinct hash -- then a per-group window that
# sorts only the deduplicated hash frame (bounded by distinct keys,
# never by event rows) and keeps k rows per group.  Estimation and
# merging touch only k-row-per-group frames.

KMV_HASH_SPACE = float(1 << 60)  # hash64 = 15 hex chars = 60 bits


def kmv_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: list[str],
    k: int = 64,
) -> DataFrame:
    """Per-group KMV sketch rows: (*group_cols, h) -- the k smallest
    distinct hash64 values of `key_col` in each group.  NULL keys and
    NULL group values carry no element and are dropped."""
    from pyspark.sql import Window

    from ..functions.hashing import hash64

    if k < 2:
        raise ValueError("k must be >= 2 (the estimator uses k-1)")
    cond = F.col(key_col).isNotNull()
    for g in group_cols:
        cond = cond & F.col(g).isNotNull()
    hashed = (
        df.where(cond)
        .select(*group_cols, hash64(F.col(key_col).cast("string")).alias("h"))
        .distinct()
    )
    w = Window.partitionBy(*group_cols).orderBy("h")
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def kmv_estimate(sketch: DataFrame, group_cols: list[str], k: int) -> DataFrame:
    """Distinct-count estimate per group from KMV sketch rows:
    (k-1) * H / h_(k) when the sketch is full, else the exact count of
    sketch rows (fewer than k distinct values means the sketch IS the
    set).  Pure double arithmetic in a fixed operand order, so any
    engine reproduces the estimate bit-identically."""
    agg = sketch.groupBy(*group_cols).agg(
        F.count("*").alias("__n"), F.max("h").alias("__kth")
    )
    est = F.when(F.col("__n") < k, F.col("__n").cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(KMV_HASH_SPACE) / F.col("__kth").cast("double")
    )
    return agg.select(*group_cols, F.round(est, 4).alias("est_distinct"))


def kmv_merge(
    sketch: DataFrame,
    from_groups: list[str],
    to_groups: list[str],
    k: int,
) -> DataFrame:
    """Re-group KMV sketch rows to a coarser grouping: union the
    member sketches and keep the k smallest per coarse group.  By the
    order-statistic union law this EQUALS the sketch built directly at
    the coarse grain -- the property kmv_merge_rollup verifies
    in-plan.  `to_groups` must be derivable columns already present
    on `sketch` (computed by the caller)."""
    from pyspark.sql import Window

    w = Window.partitionBy(*to_groups).orderBy("h")
    return (
        sketch.select(*to_groups, "h")
        .distinct()
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )
