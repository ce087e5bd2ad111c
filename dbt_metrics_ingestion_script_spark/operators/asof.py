"""As-of (backward) join -- the time-series operator Spark's join
vocabulary lacks (SURVEY.md §2.11 X7; named alongside range joins as
the classic custom-operator gap).

For each left row, attach the single latest right row whose timestamp
is at-or-before the left row's timestamp, per key.  The naive
relational form is a range join (left.ts >= right.ts) plus a per-left
argmax -- quadratic on hot keys and two shuffles.  The Spark-first
form here is the UNION + WINDOW trick:

    tag right rows side=0, left rows side=1
    union them into one frame
    last(right_row_struct, ignorenulls=True) over (
        partition by key order by (ts, side)
        rows unbounded preceding .. current row)
    keep side=1 rows

One shuffle, one sort, linear in |left| + |right|; the running
`last(ignorenulls)` IS the as-of lookup.  The right row travels as ONE
struct, so the carried values are always from the same right row even
when some of them are NULL (per-column carries would mix rows).
Ordering (ts, side) puts a right row at the exact same timestamp
BEFORE the left row, so ties match (`<=` semantics), which is also
what DuckDB's native ASOF JOIN implements -- the oracle for the
registered query.

Scale posture: the window partitions by the join key, so skewed keys
concentrate in one reducer run -- same hazard class as sessionization
(SCALE.md); bound a key's history with a time-range filter upstream
when the right side grows unboundedly, or use
`asof_join_backward_bucketed`, which spreads a hot key across
time-bucket partitions so no single reducer ever holds the key's full
history.  State inside the window is one struct of carried values
(RowFrame running last), never the key's whole history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_INTERNAL = {"__ts", "__side", "__r", "__bkt", "__last", "__carry"}

_BUCKET_UNITS_US = {
    "second": 1_000_000,
    "seconds": 1_000_000,
    "minute": 60_000_000,
    "minutes": 60_000_000,
    "hour": 3_600_000_000,
    "hours": 3_600_000_000,
    "day": 86_400_000_000,
    "days": 86_400_000_000,
}


def _parse_bucket_micros(bucket: str) -> int:
    """'<n> <unit>' (seconds/minutes/hours/days) -> microseconds."""
    parts = bucket.strip().split()
    if len(parts) != 2 or not parts[0].isdigit() or int(parts[0]) == 0:
        raise ValueError(
            f"bucket must look like '30 days' / '6 hours', got {bucket!r}"
        )
    n, unit = parts
    if unit not in _BUCKET_UNITS_US:
        raise ValueError(
            f"bucket unit must be one of {sorted(set(_BUCKET_UNITS_US))}, "
            f"got {unit!r}"
        )
    return int(n) * _BUCKET_UNITS_US[unit]


def _asof_prep(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
):
    """Shared validation + side-tagging for the as-of variants: returns
    (l_tagged, r_tagged, left_only, carried).  Right rows with NULL
    right_ts are dropped here (they can never satisfy
    right_ts <= left_ts; Spark's nulls-first sort would otherwise carry
    them as phantom '-infinity' matches)."""
    clash = (set(value_cols) | {right_ts}) & set(left.columns)
    if clash:
        raise ValueError(
            f"right columns collide with left columns: {sorted(clash)}; "
            f"rename on the right side first"
        )
    reserved = _INTERNAL & (set(left.columns) | set(right.columns))
    if reserved:
        raise ValueError(
            f"columns collide with internal names: {sorted(reserved)}; rename first"
        )
    carried = [right_ts] + list(value_cols)
    left_only = [c for c in left.columns if c not in (on, left_ts)]
    ts_type = dict(left.dtypes)[left_ts]
    r_struct = F.struct(
        *[
            (F.col(c).cast(ts_type) if c == right_ts else F.col(c)).alias(c)
            for c in carried
        ]
    )
    r_struct_type = right.select(r_struct.alias("__r")).schema["__r"].dataType
    l_tagged = left.select(
        F.col(on),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        *[F.col(c) for c in left_only],
        F.lit(None).cast(r_struct_type).alias("__r"),
    )
    r_tagged = right.filter(F.col(right_ts).isNotNull()).select(
        F.col(on),
        F.col(right_ts).cast(ts_type).alias("__ts"),
        F.lit(0).alias("__side"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_only],
        r_struct.alias("__r"),
    )
    return l_tagged, r_tagged, left_only, carried


def asof_join_backward(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
) -> DataFrame:
    """Left as-of join: every `left` row, plus `value_cols` (and
    `right_ts`) from the latest `right` row with
    right_ts <= left_ts for the same `on` key; nulls when no such row.

    `right` must be unique per (on, right_ts) -- pre-aggregate it
    otherwise -- so the result is deterministic (a duplicate timestamp
    would make 'the latest row' ambiguous in any engine).

    NULL timestamps: a right row with NULL right_ts can never satisfy
    `right_ts <= left_ts` and is dropped up front -- without that
    filter, Spark's nulls-first ascending sort would place it BEFORE
    every real row and `last(ignorenulls)` would carry it into every
    left row as a phantom '-infinity' match, where ASOF semantics
    (and the DuckDB oracle) return no match.  A left row with NULL
    left_ts sorts first, sees no prior right row, and gets the NULL
    fill -- already the ASOF answer, no special-casing needed.
    """
    l_tagged, r_tagged, left_only, carried = _asof_prep(
        left, right, on, left_ts, right_ts, value_cols
    )
    w = (
        Window.partitionBy(on)
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = l_tagged.unionByName(r_tagged).select(
        on,
        "__ts",
        "__side",
        *left_only,
        F.last("__r", ignorenulls=True).over(w).alias("__r"),
    )
    return joined.filter(F.col("__side") == 1).select(
        on,
        F.col("__ts").alias(left_ts),
        *left_only,
        *[F.col("__r")[c].alias(c) for c in carried],
    )


def asof_join_backward_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    bucket: str = "30 days",
) -> DataFrame:
    """As-of join for UNBOUNDED right histories (VERDICT r5 item 6):
    identical contract and results to `asof_join_backward`, different
    physical shape.  The plain union+window plan concentrates a hot
    key's FULL history in one reducer run; here the big window
    partitions by (key, time bucket), so one reducer run holds at most
    one bucket of one key, and the cross-bucket dependency travels
    through a per-bucket summary frame that is orders of magnitude
    smaller than the data:

      1. per (key, bucket): latest right row -- one groupBy,
         map-side partial, |keys x buckets| rows out;
      2. bucket spine (distinct key-buckets of BOTH sides) + a running
         `last(ignorenulls)` over buckets per key, shifted one bucket
         back = the carry-in: the latest right row strictly before each
         bucket's start.  This window partitions by key but runs over
         the SUMMARY frame (one row per key-bucket), not the data;
      3. the data-sized union (left rows, right rows, plus one seed row
         per key-bucket holding the carry-in at the bucket start with
         __side = -1, ordering it before any real row of the bucket)
         gets the same running `last(ignorenulls)` as the plain form,
         partitioned by (key, bucket).

    Equivalence: a left row's running last sees every right row of its
    own bucket at-or-before it (same ordering as the plain form), and
    otherwise the seed, which is exactly the latest right row with
    ts < bucket_start <= left_ts.  NULL left timestamps land in the
    NULL bucket, which has no right rows and no seed: NULL fill, same
    as the plain form.

    Pick `bucket` so a hot key's rows per bucket fit one task
    comfortably; smaller buckets = more spread, one more spine row per
    key-bucket.
    """
    l_tagged, r_tagged, left_only, carried = _asof_prep(
        left, right, on, left_ts, right_ts, value_cols
    )
    # epoch-aligned bucket start via integer arithmetic -- NOT F.window,
    # whose analyzer rewrite injects a `ts IS NOT NULL` filter and would
    # silently DROP NULL-timestamp left rows that the as-of contract
    # null-fills; here a NULL ts yields a NULL bucket and the row lives
    # in the (key, NULL) partition, which has no right rows and no seed
    bucket_us = _parse_bucket_micros(bucket)
    bkt = F.timestamp_micros(
        F.floor(
            F.unix_micros(F.col("__ts").cast("timestamp")) / F.lit(bucket_us)
        ).cast("long")
        * F.lit(bucket_us)
    )
    lb = l_tagged.withColumn("__bkt", bkt)
    rb = r_tagged.withColumn("__bkt", bkt)
    r_struct_type = rb.schema["__r"].dataType

    # 1. latest right row per (key, bucket): max over (ts, struct) --
    # right is unique per (key, ts), so the argmax is deterministic
    per_bucket = rb.groupBy(on, "__bkt").agg(
        F.max(F.struct(F.col("__ts"), F.col("__r")))["__r"].alias("__last")
    )
    # 2. spine of every key-bucket either side touches, carry-in =
    # running last over STRICTLY EARLIER buckets (1 preceding)
    spine = (
        lb.filter(F.col("__bkt").isNotNull())
        .select(on, "__bkt")
        .unionByName(rb.select(on, "__bkt"))
        .distinct()
        .join(per_bucket, [on, "__bkt"], "left")
    )
    w_carry = (
        Window.partitionBy(on)
        .orderBy("__bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seeds = (
        spine.withColumn(
            "__carry", F.last("__last", ignorenulls=True).over(w_carry)
        )
        .filter(F.col("__carry").isNotNull())
        .select(
            F.col(on),
            # the bucket start sorts at-or-before every row of the
            # bucket; __side=-1 wins the tie against a real row there
            F.col("__bkt").cast(lb.schema["__ts"].dataType).alias("__ts"),
            F.lit(-1).alias("__side"),
            *[
                F.lit(None).cast(lb.schema[c].dataType).alias(c)
                for c in left_only
            ],
            F.col("__carry").cast(r_struct_type).alias("__r"),
            F.col("__bkt"),
        )
    )
    # 3. the data-sized window, partitioned by (key, bucket)
    w = (
        Window.partitionBy(on, "__bkt")
        .orderBy("__ts", "__side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    joined = lb.unionByName(rb).unionByName(seeds).select(
        on,
        "__ts",
        "__side",
        *left_only,
        F.last("__r", ignorenulls=True).over(w).alias("__r"),
    )
    return joined.filter(F.col("__side") == 1).select(
        on,
        F.col("__ts").alias(left_ts),
        *left_only,
        *[F.col("__r")[c].alias(c) for c in carried],
    )


def scd2_intervals(
    df: DataFrame,
    key_col: str,
    attr_col: str,
    ts_col: str = "ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Run-length-encode a change log into SCD2 (slowly-changing
    dimension, type 2) validity intervals: per key, consecutive rows
    carrying the same attribute value collapse into one row with
    [valid_from, valid_to) -- valid_to is the NEXT run's start, NULL
    for the key's current value.  This is the warehouse operation that
    turns an event/CDC stream into a point-in-time joinable dimension
    (the right side an as-of join then probes).

    Change detection is IS DISTINCT FROM semantics (eqNullSafe): a
    NULL attribute is a value, a run of NULLs is one run.  Ordering is
    (ts, tiebreak) so same-timestamp updates resolve deterministically.
    Rows with NULL key or NULL ts have no place on a timeline and are
    dropped (pinned by the oracle).

    Shape: one shuffle (everything -- change flag, run id, run
    aggregate, next-run lead -- partitions by key), three window
    passes over it plus one partial-aggregated groupBy.  Output:
    (key, attr, valid_from, valid_to, n_rows).
    """
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    base = df.where(
        F.col(key_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(key_col, attr_col, ts_col, *( [tiebreak_col] if tiebreak_col else [] ))
    changed = base.withColumn(
        "__chg",
        F.when(
            F.lag(attr_col).over(w).eqNullSafe(F.col(attr_col)), 0
        ).otherwise(1),
    )
    runs = changed.withColumn(
        "__run",
        F.sum("__chg").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    grouped = runs.groupBy(key_col, "__run", attr_col).agg(
        F.min(ts_col).alias("valid_from"),
        F.count("*").alias("n_rows"),
    )
    w_runs = Window.partitionBy(key_col).orderBy("__run")
    return grouped.select(
        F.col(key_col),
        F.col(attr_col),
        "valid_from",
        F.lead("valid_from").over(w_runs).alias("valid_to"),
        "n_rows",
    )
