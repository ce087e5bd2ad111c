"""Streaming metric evaluation (SURVEY.md §2.8 EXT).

The reference is strictly batch; this extends the same metric semantics
(grain aggregation over an event-time column) to Structured Streaming:
readStream -> watermark -> tumbling-window groupBy -> agg.  The batch
metric compiler's `date_trunc(grain)` bucket corresponds 1:1 to
`F.window(ts, grain_duration).start`, so a streaming metric converges to
the batch answer once the watermark passes -- tested by running the
stream to completion over a static directory and diffing against the
batch plan.

Late data: rows older than the watermark are dropped (standard
Structured Streaming semantics); choose the watermark to bound state
size at scale (state is per (window x dims)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# grain -> (window duration, startTime offset).  F.window tumbles from
# the unix epoch, 1970-01-01, a THURSDAY; batch date_trunc('week') is
# Monday-aligned, so the week grain needs a +4 day origin shift or every
# streaming week bucket lands 3 days off the batch answer (caught by the
# week-grain convergence test, VERDICT r4 item 5).  Hour/day windows are
# naturally epoch-aligned (session tz pinned to UTC).
GRAIN_DURATION = {
    "hour": ("1 hour", None),
    "day": ("1 day", None),
    "week": ("7 days", "4 days"),
}


def _swap_snapshot(nxt: str, cur: str) -> None:
    """Crash-atomic snapshot swap for foreachBatch state stores.

    rmtree(cur)-then-replace (the naive form) has a window where a
    crash loses the ENTIRE prior snapshot: the checkpoint-replayed
    batch then sees no `cur` and silently rebuilds from batch state
    alone (ADVICE r7).  Rename-based swap instead: the prior snapshot
    moves wholesale to a trash path (one rename, never deleted before
    the new state is in place), the new snapshot renames in, and only
    then is trash removed.  Every crash point leaves the state
    recoverable: before the first rename `cur` is intact; between the
    renames `cur`'s content lives at the trash path and
    `_recover_snapshot` restores it on replay; after the second rename
    the NEW state is current and trash is garbage."""
    import os
    import shutil

    trash = cur + ".trash"
    if os.path.exists(trash):  # leftover garbage from a completed swap
        shutil.rmtree(trash)
    if os.path.exists(cur):
        os.replace(cur, trash)
    os.replace(nxt, cur)
    if os.path.exists(trash):
        shutil.rmtree(trash)


def _recover_snapshot(cur: str) -> None:
    """Replay-time recovery for `_swap_snapshot`: if a crash landed
    between the two renames, `cur` is missing but its content is at the
    trash path -- restore it before the batch reads prior state.  (If
    both exist, the swap completed and trash is garbage; `_swap_snapshot`
    clears it on the next write.)"""
    import os

    trash = cur + ".trash"
    if not os.path.exists(cur) and os.path.exists(trash):
        os.replace(trash, cur)


def read_events_stream(
    spark: SparkSession, events_dir: str, schema=None
) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    Event-time coercion happens HERE, at the streaming boundary, because
    `withWatermark` requires a TIMESTAMP (with local timezone) column:

    - a legacy TIMESTAMP(NANOS) fixture arrives as bigint nanos
      (nanosAsLong) -> rebuild from epoch micros;
    - a TIMESTAMP(MICROS, isAdjustedToUTC=false) fixture infers as
      TIMESTAMP_NTZ, which watermarks reject
      ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]) -> cast to timestamp.
      The session timezone is pinned to UTC (session.py), so the
      NTZ->LTZ cast is value-preserving and batch/oracle parity holds.

    The batch loader (sources/tables.py:_load_events) deliberately keeps
    NTZ -- date_trunc works fine there -- so only streams are coerced.
    """
    if schema is None:
        # tolerate legacy TIMESTAMP(NANOS) fixtures during inference
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        schema = spark.read.parquet(events_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_dir)
    )
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        )
    elif ts_type == "timestamp_ntz":
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def windowed_event_metrics(
    events: DataFrame,
    grain: str = "day",
    watermark: str = "1 day",
    ts_col: str = "ts",
    dims: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling-window metric aggregation with late-data watermark.

    Output: (ts = window start, *dims, n_events, total_value) --
    schema-compatible with the batch metric compiler at the same grain.
    """
    if grain not in GRAIN_DURATION:
        raise ValueError(f"unsupported streaming grain {grain!r}")
    dur, start = GRAIN_DURATION[grain]
    win = (
        F.window(ts_col, dur, dur, start) if start else F.window(ts_col, dur)
    )
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(win.alias("w"), *dims)
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(F.col("w.start").alias("ts"), *dims, "n_events", "total_value")
    )


def stream_stream_conversion_join(
    events: DataFrame,
    window_minutes: int = 60,
    watermark: str = "1 day",
) -> DataFrame:
    """Watermarked STREAM-STREAM interval join: view events joined to
    the same user's purchase events landing within `window_minutes` --
    the online conversion-pairing query, and the one Structured
    Streaming join shape that needs state on BOTH sides.

    Both inputs carry a watermark and the join condition carries the
    event-time bound, so Spark can evict view-side state once no
    purchase within the window can still arrive (and vice versa):
    state is O(watermark x arrival rate), not O(stream).  Without the
    time bound the join would be unbounded-state and Spark rejects it
    in append mode -- the bound is correctness AND an admission
    requirement.

    Late rows beyond the watermark are dropped exactly like the
    windowed aggregates; replaying the same static input through
    availableNow converges to the batch interval join (the
    differential oracle).  Gap arithmetic runs on integer epoch
    microseconds (engine-portable).
    """
    v = (
        events.where(F.col("event_type") == "view")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    p = (
        events.where(F.col("event_type") == "purchase")
        .withWatermark("ts", watermark)
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("__p_user"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    cond = (
        (F.col("user_id") == F.col("__p_user"))
        & (F.col("purchase_ts") >= F.col("view_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("view_ts") + F.expr(f"INTERVAL {window_minutes} MINUTES")
        )
    )
    gap_s = (
        F.unix_micros(F.col("purchase_ts").cast("timestamp"))
        - F.unix_micros(F.col("view_ts").cast("timestamp"))
    ) / 1_000_000.0
    return v.join(p, cond, "inner").select(
        "view_id",
        "purchase_id",
        "user_id",
        F.round(gap_s, 6).alias("gap_s"),
    )


def streaming_metric_store_upsert(
    spark,
    events_dir: str,
    store_dir: str,
    grain: str = "day",
    watermark: str = "1 day",
    timeout_s: int = 120,
):
    """Continuous metric-store maintenance: the watermarked windowed
    aggregate runs in UPDATE mode and every micro-batch MERGES into a
    parquet snapshot via `operators.merge.merge_upsert` -- updated
    buckets overwrite, new buckets insert, untouched buckets survive.
    This is the lakehouse maintenance loop (streaming agg -> MERGE
    INTO store) composed from this repo's own parts, and it converges
    to the batch aggregate over the same input (the differential
    oracle).

    The snapshot is rewritten per batch (read -> reconcile -> write to
    a fresh subdir, then swap) -- at scale the swap is a partition
    overwrite of only the CHANGED grain partitions, exactly the
    metric_store sink's partition layout.  Returns the final snapshot
    DataFrame.
    """
    import os

    from ..operators.merge import merge_upsert

    stream = read_events_stream(spark, events_dir)
    agg = windowed_event_metrics(stream, grain=grain, watermark=watermark)

    cur = os.path.join(store_dir, "current")

    def upsert(batch_df, batch_id: int) -> None:
        _recover_snapshot(cur)
        batch = batch_df.select(
            "ts", "event_type", "n_events", "total_value"
        )
        if os.path.exists(cur):
            target = spark.read.parquet(cur).withColumn(
                "__k",
                F.concat_ws("|", F.col("ts").cast("string"), "event_type"),
            )
            source = batch.withColumn(
                "__k",
                F.concat_ws("|", F.col("ts").cast("string"), "event_type"),
            )
            merged = merge_upsert(target, source, key_col="__k").drop(
                "action", "__k"
            )
        else:
            merged = batch
        nxt = os.path.join(store_dir, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(nxt)
        _swap_snapshot(nxt, cur)

    q = (
        agg.writeStream.foreachBatch(upsert)
        .outputMode("update")
        .option(
            "checkpointLocation", os.path.join(store_dir, "_checkpoint")
        )
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError("streaming_metric_store_upsert did not drain")
    return spark.read.parquet(cur)


def streaming_semantic_ingestion(
    spark,
    vec_stream: DataFrame,
    store_dir: str,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    probe_hamming: int = 2,
    dim: int = 64,
    timeout_s: int = 240,
):
    """End-to-end streaming SEMANTIC ingestion (VERDICT r7 item 7):
    embedding arrivals maintain duplicate-cluster labels across
    micro-batches in ONE pipeline, composing the repo's own parts --
    the LSH pair producer (batch-internal `embedding_near_pairs` +
    batch-vs-corpus `embedding_near_pairs_against_index`) feeding the
    incremental cluster maintainer, plus the growing corpus signature
    index.

    Per micro-batch of vectors:

    1. PAIRS: batch-internal verified near-dup pairs, unioned with
       batch-vs-index pairs against the signature-index store (absent
       on the first batch).  Banding is an exact pigeonhole cover, so
       internal(B1) + internal(B2) + cross(B2, index(B1)) equals the
       pair set of one batch run over B1 UNION B2 -- which is why the
       drained labels converge EXACTLY to the batch clustering of the
       union (pinned by the two-micro-batch differential test).
    2. LABELS: the pair set folds into the label snapshot (full star
       on the first batch, `duplicate_clusters_incremental` after --
       per-batch cost follows the batch, never the corpus; crash-atomic
       snapshot swap).
    3. INDEX: the batch's (id, unit, bucket) signatures APPEND to the
       index store -- never a corpus rewrite.  On checkpoint replay the
       appended duplicates are harmless: candidate pairs are distinct,
       self-pairs are filtered by the pair producer, and duplicate
       edges do not change connected components (replay-idempotent).

    Returns the final label snapshot DataFrame (vec_id-keyed doc_id /
    cluster_id, the `duplicate_clusters_star` schema)."""
    import os

    from ..operators.dedup import (
        duplicate_clusters_incremental,
        duplicate_clusters_star,
        embedding_near_pairs,
        embedding_near_pairs_against_index,
        embedding_signature_index,
    )

    labels_cur = os.path.join(store_dir, "labels", "current")
    index_dir = os.path.join(store_dir, "index")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        _recover_snapshot(labels_cur)
        pairs = embedding_near_pairs(
            batch_df, threshold, id_col, vec_col, n_planes, probe_hamming, dim
        )
        if os.path.exists(index_dir):
            idx = spark.read.parquet(index_dir)
            pairs = pairs.unionByName(
                embedding_near_pairs_against_index(
                    batch_df, idx, threshold, id_col, vec_col,
                    n_planes, probe_hamming, dim,
                )
            ).distinct()
        if os.path.exists(labels_cur):
            prior = spark.read.parquet(labels_cur)
            out = duplicate_clusters_incremental(pairs, prior)
        else:
            out = duplicate_clusters_star(pairs)
        nxt = os.path.join(store_dir, "labels", f"v{batch_id}")
        out.write.mode("overwrite").parquet(nxt)
        _swap_snapshot(nxt, labels_cur)
        # index grows by APPEND (new files only) after the labels land:
        # a crash between the two writes replays the batch, whose
        # re-appended signatures only produce duplicate/self pairs the
        # producer already filters
        embedding_signature_index(
            batch_df, id_col, vec_col, n_planes, dim
        ).write.mode("append").parquet(index_dir)

    q = (
        vec_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", os.path.join(store_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError("streaming_semantic_ingestion did not drain")
    return spark.read.parquet(labels_cur)


def streaming_snapshot_maintenance(
    spark,
    log_stream: DataFrame,
    store_dir: str,
    *,
    key_col: str,
    ts_col: str,
    seq_col: str,
    op_col: str,
    delete_op: str,
    value_cols: list[str],
    timeout_s: int = 120,
):
    """Streaming changelog-snapshot maintenance: the point-in-time
    reconstruction operator (operators/temporal.py) run as a
    continuously folded state store instead of a log replay.

    Each micro-batch reduces to its per-key latest records
    (`latest_records`, tombstones INCLUDED) and folds into the prior
    snapshot with `snapshot_fold` -- latest-wins over (ts, seq) is
    associative and commutative, so the drained store equals the batch
    `snapshot_at(union of all batches)` REGARDLESS of how ingestion
    split or ordered the records; a late record with an earlier
    timestamp can never resurrect a tombstoned key because tombstones
    stay in the store (only `live_view` filters them).  Same
    write-vN-then-swap crash-atomic store discipline as the metric
    store and the semantic-ingestion label maintainer.

    Per-batch cost follows the BATCH (one partial-aggregated max_by
    over batch rows) plus one key-join-sized fold against the store --
    the log itself is never re-read.  Returns the final LIVE snapshot
    (tombstones filtered)."""
    import os

    from ..operators.temporal import latest_records, live_view, snapshot_fold

    cur = os.path.join(store_dir, "current")

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        _recover_snapshot(cur)
        latest = latest_records(
            batch_df,
            key_col=key_col,
            ts_col=ts_col,
            seq_col=seq_col,
            op_col=op_col,
            value_cols=value_cols,
        )
        if os.path.exists(cur):
            prior = spark.read.parquet(cur)
            out = snapshot_fold(
                prior, latest, key_col=key_col, value_cols=value_cols
            )
        else:
            out = latest
        nxt = os.path.join(store_dir, f"v{batch_id}")
        out.write.mode("overwrite").parquet(nxt)
        _swap_snapshot(nxt, cur)

    q = (
        log_stream.writeStream.foreachBatch(fold)
        .option("checkpointLocation", os.path.join(store_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError("streaming_snapshot_maintenance did not drain")
    return live_view(spark.read.parquet(cur), delete_op=delete_op)
