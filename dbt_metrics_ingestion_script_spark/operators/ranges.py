"""Bucketized point-in-interval range join (SURVEY.md §2.11 X7; the
second classic custom-operator gap named next to as-of joins).

Spark's equi-join machinery cannot hash on `BETWEEN`; the naive form
(key equi-join, then interval filter) replicates every point against
EVERY interval of its key before filtering -- quadratic on keys with
many intervals.  The scale form here BUCKETIZES time:

    interval -> one replica per bucket it spans
                (explode(sequence(floor(start/b), floor(end/b))))
    point    -> its single bucket (floor(ts/b))
    equi-join on (key, bucket), then the exact BETWEEN filter

The join fan-out is bounded by points x intervals-overlapping-their-
bucket instead of points x all-intervals-per-key, and the bucket id
rides the hash join like any other key column.  A point meets each
interval in at most ONE bucket (its own), so no post-join dedup is
needed.  Bucket width trades replication (long intervals span more
buckets) against join selectivity (wide buckets admit more false
candidates for the filter); set it near the typical interval length.

Time arithmetic is integer microseconds (`unix_micros`), the engine-
portable convention sessionization established (SCALE.md): second-
granularity casts would bucket boundary points differently per engine.
Intervals are [start, end] INCLUSIVE on both ends.  Inverted intervals
(end < start) contain no timestamp -- BETWEEN is empty for them in any
engine -- and are filtered out BEFORE replication: without that filter
Spark's `sequence` would default to step -1 and silently fan the bad
row out into a descending bucket list that matches nothing.  Intervals
with a NULL bound are likewise unmatchable and drop in the same
filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join_points(
    points: DataFrame,
    intervals: DataFrame,
    on: str,
    point_ts: str,
    start_col: str,
    end_col: str,
    bucket_minutes: int = 60,
) -> DataFrame:
    """Rows of `points` joined to every `intervals` row of the same
    `on` key whose [start_col, end_col] (inclusive) contains point_ts.

    Non-key column names must be disjoint between the two frames
    (select/rename first); validated here so a collision fails at plan
    time, not with a silently ambiguous column.
    """
    if bucket_minutes <= 0:
        raise ValueError(f"bucket_minutes must be positive, got {bucket_minutes}")
    clash = (set(points.columns) & set(intervals.columns)) - {on}
    if clash:
        raise ValueError(
            f"point/interval columns collide: {sorted(clash)}; rename first"
        )
    reserved = {"__b", "__pus", "__s", "__e"} & (
        set(points.columns) | set(intervals.columns)
    )
    if reserved:
        raise ValueError(
            f"columns collide with internal names: {sorted(reserved)}; rename first"
        )
    b_us = bucket_minutes * 60 * 1_000_000
    pts = points.withColumn(
        "__pus", F.unix_micros(F.col(point_ts).cast("timestamp"))
    ).withColumn("__b", F.floor(F.col("__pus") / b_us))
    iv = (
        intervals.withColumn(
            "__s", F.unix_micros(F.col(start_col).cast("timestamp"))
        )
        .withColumn("__e", F.unix_micros(F.col(end_col).cast("timestamp")))
        .filter(F.col("__s") <= F.col("__e"))
        .withColumn(
            "__b",
            F.explode(
                F.sequence(
                    F.floor(F.col("__s") / b_us), F.floor(F.col("__e") / b_us)
                )
            ),
        )
    )
    return (
        pts.join(iv, [on, "__b"])
        .filter(
            (F.col("__pus") >= F.col("__s")) & (F.col("__pus") <= F.col("__e"))
        )
        .drop("__b", "__pus", "__s", "__e")
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    on: str | None = None,
    bucket_minutes: int = 60,
    max_span_buckets: int | None = None,
) -> DataFrame:
    """Interval-INTERVAL overlap join: every (left, right) row pair
    whose [start, end] ranges intersect (inclusive on both ends),
    optionally restricted to equal `on` keys -- with `on=None` this is
    the UNKEYED global overlap join, the case Spark's equi-join
    machinery cannot express at all (a naive translation is a
    BroadcastNestedLoopJoin / CartesianProduct over the full frames,
    quadratic in rows).

    Scale form: both sides bucketize time (one replica per spanned
    bucket, exactly the `range_join_points` discipline above), the
    equi-join runs on the bucket id (plus the key when given), and the
    exact overlap predicate filters the candidates.  Unlike the
    point-in-interval case, an overlapping pair shares EVERY bucket in
    the intersection of its spans -- so instead of a post-join
    DISTINCT (a second shuffle over the matched pairs), each pair is
    reported only in its CANONICAL bucket, the bucket of
    max(left_start, right_start).  That bucket always lies in both
    spans whenever the pair overlaps (max(ls, rs) <= min(le, re)), so
    the filter keeps exactly one replica per overlapping pair and the
    plan stays a single hash join with zero dedup passes.

    Time arithmetic is integer microseconds on both engines (the
    sessionization convention); inverted or NULL-bounded intervals are
    unmatchable and drop before replication, for the same `sequence`
    step reason documented above.  Bucket width trades replication
    against candidate selectivity; set it near the typical interval
    length of the LONGER-lived side.

    Replication is one replica per spanned bucket, so a single
    pathological long-lived interval (a never-closed session) spans
    thousands of buckets at small bucket_minutes and silently fans out
    that many replicas.  `max_span_buckets` is the opt-in guard: when
    set, any interval spanning MORE than that many buckets is dropped
    before replication (it produces no pairs -- an explicit coverage
    trade, not a silent truncation; pick a cap well above the longest
    legitimate interval, e.g. 30 days / bucket_minutes).  Default None
    preserves exact semantics.
    """
    if bucket_minutes <= 0:
        raise ValueError(f"bucket_minutes must be positive, got {bucket_minutes}")
    if max_span_buckets is not None and max_span_buckets <= 0:
        raise ValueError(
            f"max_span_buckets must be positive, got {max_span_buckets}"
        )
    if on is not None:
        missing = [
            side
            for side, df in (("left", left), ("right", right))
            if on not in df.columns
        ]
        if missing:
            raise ValueError(
                f"join key {on!r} missing from {' and '.join(missing)} "
                "columns"
            )
    key = {on} if on is not None else set()
    clash = (set(left.columns) & set(right.columns)) - key
    if clash:
        raise ValueError(
            f"left/right columns collide: {sorted(clash)}; rename first"
        )
    reserved = {"__b", "__ls", "__le", "__rs", "__re"} & (
        set(left.columns) | set(right.columns)
    )
    if reserved:
        raise ValueError(
            f"columns collide with internal names: {sorted(reserved)}; rename first"
        )
    b_us = bucket_minutes * 60 * 1_000_000

    def spans(df, start_col, end_col, s_name, e_name):
        out = (
            df.withColumn(
                s_name, F.unix_micros(F.col(start_col).cast("timestamp"))
            )
            .withColumn(
                e_name, F.unix_micros(F.col(end_col).cast("timestamp"))
            )
            .filter(F.col(s_name) <= F.col(e_name))
        )
        if max_span_buckets is not None:
            out = out.filter(
                F.floor(F.col(e_name) / b_us) - F.floor(F.col(s_name) / b_us)
                < F.lit(max_span_buckets)
            )
        return out.withColumn(
            "__b",
            F.explode(
                F.sequence(
                    F.floor(F.col(s_name) / b_us),
                    F.floor(F.col(e_name) / b_us),
                )
            ),
        )

    l_rep = spans(left, left_start, left_end, "__ls", "__le")
    r_rep = spans(right, right_start, right_end, "__rs", "__re")
    join_keys = ["__b"] if on is None else [on, "__b"]
    return (
        l_rep.join(r_rep, join_keys)
        .filter(
            (F.col("__ls") <= F.col("__re"))
            & (F.col("__rs") <= F.col("__le"))
            & (
                F.floor(F.greatest("__ls", "__rs") / b_us)
                == F.col("__b")
            )
        )
        .drop("__b", "__ls", "__le", "__rs", "__re")
    )


