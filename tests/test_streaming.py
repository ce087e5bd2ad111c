"""Structured Streaming metric evaluation: the stream must converge to
the batch metric answer over the same static data."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import DataFrame

from dbt_metrics_ingestion_script_spark.sources.tables import load_table
from dbt_metrics_ingestion_script_spark.streaming.metrics_stream import (
    read_events_stream,
    windowed_event_metrics,
)


def run_stream_to_memory(
    result: DataFrame,
    query_name: str,
    timeout_sec: float = 120.0,
    output_mode: str = "complete",
) -> None:
    """Drive a streaming frame to completion into an in-memory sink
    named `query_name`.  output_mode="append" emits only
    watermark-finalized windows -- the mode that exercises late-data
    drop semantics."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout_sec):
        q.stop()
        raise TimeoutError(
            f"stream {query_name!r} did not drain within {timeout_sec}s"
        )


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    # file-source streams read a directory; stage the events file alone
    d = tmp_path_factory.mktemp("events_stream")
    shutil.copy("/root/testdata/sf0.001/events.parquet", d / "events.parquet")
    return str(d)


def test_stream_converges_to_batch(spark, sf_dir, events_dir):
    batch = load_table(spark, sf_dir, "events")
    # event-time coercion to watermark-compatible TIMESTAMP happens inside
    # read_events_stream; session tz is pinned to UTC by the session factory
    stream = read_events_stream(spark, events_dir)
    from pyspark.sql import functions as F

    assert dict(stream.dtypes)["ts"] == "timestamp", (
        "read_events_stream must deliver a watermark-compatible ts"
    )
    result = windowed_event_metrics(stream, grain="day")
    run_stream_to_memory(result, "stream_daily")

    got = {
        (str(r["ts"]), r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in spark.sql("SELECT * FROM stream_daily").collect()
    }
    expected = {
        (str(r["ts"]), r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in batch.groupBy(
            F.date_trunc("day", "ts").alias("ts"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert got == expected


def test_streaming_rejects_unknown_grain(spark, events_dir):
    stream = read_events_stream(spark, events_dir)
    with pytest.raises(ValueError, match="grain"):
        windowed_event_metrics(stream, grain="fortnight")


def test_stream_week_grain_converges_to_batch(spark, sf_dir, events_dir):
    """VERDICT r4 item 5: the week grain must land on the SAME buckets
    as batch date_trunc('week').  F.window tumbles from the epoch (a
    Thursday) while date_trunc('week') is Monday-aligned, so this only
    holds with the +4 day window origin shift -- without it every
    streaming week is 3 days off and this test fails on the bucket
    keys, not just the values."""
    from pyspark.sql import functions as F

    batch = load_table(spark, sf_dir, "events")
    stream = read_events_stream(spark, events_dir)
    result = windowed_event_metrics(stream, grain="week", watermark="1 day")
    run_stream_to_memory(result, "stream_weekly")
    got = {
        (str(r["ts"]), r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in spark.sql("SELECT * FROM stream_weekly").collect()
    }
    expected = {
        (str(r["ts"]), r["event_type"]): (r["n_events"], round(r["total_value"], 4))
        for r in batch.groupBy(
            F.date_trunc("week", "ts").alias("ts"), "event_type"
        )
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .collect()
    }
    assert got == expected


def test_stream_watermark_drops_late_rows(spark, tmp_path):
    """VERDICT r4 item 5: a row arriving after the watermark finalized
    its window must be DROPPED, not merged and not re-emitted.

    Three files processed as separate micro-batches (maxFilesPerTrigger=1,
    file order pinned via mtime).  Batch 0 (day-0 + day-6 events) pushes
    the watermark to day 5; during batch 1 (an on-time day-6 event) the
    day-0 window's end falls behind that watermark, so it is finalized:
    emitted once with n_events=1 and its state evicted.  Batch 2 then
    replays a day-0 event 5 days behind the watermark -- if late drop
    were broken it would either re-create day-0 state and duplicate the
    day-0 output row, or bump its count to 2.  The memory sink must hold
    exactly one day-0 row with n_events=1.  (The drop is only observable
    AFTER finalization: a late-ish row landing in the same batch that
    finalizes its window may still legitimately merge -- the watermark
    is a finalization threshold, and this test pins the semantics that
    actually matter: a closed window never changes.)"""
    import datetime
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path / "late_events")
    os.makedirs(d)

    def write_file(name, rows, mtime):
        # plain single parquet files (the shape the file source lists);
        # mtime pins micro-batch order under maxFilesPerTrigger=1
        path = f"{d}/{name}"
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "event_type": pa.array([r[2] for r in rows], pa.string()),
                    "value": pa.array([r[3] for r in rows], pa.float64()),
                }
            ),
            path,
        )
        os.utime(path, (mtime, mtime))

    day = lambda n, h=0: datetime.datetime(2024, 3, 1 + n, h)  # noqa: E731
    now = _time.time()
    # batch 0: day-0 + day-6 events -> watermark becomes day 5
    write_file("a.parquet", [(1, day(0), "click", 1.0), (2, day(6), "click", 1.0)], now - 100)
    # batch 1: on-time day-6 event; day-0 window finalizes this batch
    write_file("b.parquet", [(3, day(6, 2), "click", 1.0)], now - 50)
    # batch 2: LATE day-0 replay (5 days behind the watermark) + on-time
    write_file("c.parquet", [(4, day(0, 1), "click", 1.0), (5, day(6, 3), "click", 1.0)], now - 10)

    stream = read_events_stream(spark, d)
    result = windowed_event_metrics(stream, grain="day", watermark="1 day")
    run_stream_to_memory(result, "stream_late", output_mode="append")
    rows = spark.sql("SELECT * FROM stream_late").collect()
    day0 = [r for r in rows if str(r["ts"]).startswith("2024-03-01")]
    assert len(day0) == 1, f"day-0 window must be emitted exactly once: {rows}"
    assert day0[0]["n_events"] == 1, (
        f"late day-0 replay leaked into the finalized window: {day0}"
    )
    # the still-open day-6 window is unemitted in append mode (its end
    # never fell behind the final watermark)
    assert not [r for r in rows if str(r["ts"]).startswith("2024-03-07")]


def test_stateful_running_totals_converge_to_batch(spark, sf_dir, events_dir):
    from pyspark.sql import functions as F

    from dbt_metrics_ingestion_script_spark.streaming.stateful import (
        running_totals_by_key,
    )

    stream = read_events_stream(spark, events_dir)
    result = running_totals_by_key(stream)
    run_stream_to_memory(result, "running_totals", output_mode="update")
    # update mode emits one row per key per touching micro-batch; the
    # final (max n_events) row per key is the converged total
    rows = spark.sql(
        """SELECT key, max_by(total_value, n_events) AS total_value,
                  max(n_events) AS n_events
           FROM running_totals GROUP BY key"""
    ).collect()
    got = {r["key"]: (r["n_events"], round(r["total_value"], 4)) for r in rows}
    batch = load_table(spark, sf_dir, "events")
    expected = {
        r["event_type"]: (r["n"], round(r["s"], 4))
        for r in batch.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == expected


def test_stateful_streaming_dedup_first_wins(spark, events_dir):
    from pyspark.sql import functions as F

    from dbt_metrics_ingestion_script_spark.functions.hashing import hash64
    from dbt_metrics_ingestion_script_spark.streaming.stateful import (
        streaming_exact_dedup,
    )

    stream = read_events_stream(spark, events_dir).select(
        hash64(F.col("event_type")).alias("content_hash"),
        F.col("event_id"),
    )
    result = streaming_exact_dedup(stream)
    run_stream_to_memory(result, "stream_dedup", output_mode="update")
    rows = spark.sql("SELECT * FROM stream_dedup").collect()
    batch = spark.read.parquet(events_dir).select(
        hash64(F.col("event_type")).alias("content_hash"), "event_id"
    )
    expected = {
        (r["content_hash"], r["event_id"])
        for r in batch.groupBy("content_hash")
        .agg(F.min("event_id").alias("event_id"))
        .collect()
    }
    assert {(r["content_hash"], r["event_id"]) for r in rows} == expected
    assert len(rows) == len(expected)  # each hash emitted exactly once


@pytest.mark.slow
def test_stateful_dedup_ttl_survives_duplicates(spark, tmp_path):
    """A duplicate arrival must NOT disarm the state TTL: Spark clears a
    group's timeout on every state-function invocation, so the function
    has to re-arm it for existing keys.  Regression for ADVICE r1
    (stateful.py): duplicate-then-idle key must still time out, proven by
    the key re-emitting after the TTL window."""
    import time

    from dbt_metrics_ingestion_script_spark.streaming.stateful import (
        streaming_exact_dedup,
    )

    src = tmp_path / "dedup_src"
    src.mkdir()
    ttl_ms = 15_000  # long enough that the duplicate lands inside the TTL

    def emit_file(rows):
        spark.createDataFrame(
            rows, "content_hash long, event_id long"
        ).coalesce(1).write.mode("append").parquet(str(src))

    emit_file([(1, 1)])  # batch 1: first sighting of key 1
    stream = spark.readStream.schema("content_hash long, event_id long").parquet(
        str(src)
    )
    name = "dedup_ttl"
    q = (
        streaming_exact_dedup(stream, state_ttl_ms=ttl_ms)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        def rows():
            return {
                (r["content_hash"], r["event_id"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }

        def state_rows():
            p = q.lastProgress
            if not p or not p.get("stateOperators"):
                return None
            return p["stateOperators"][0]["numRowsTotal"]

        def wait_for(pred, timeout=90.0):
            t0 = time.time()
            while time.time() - t0 < timeout:
                if pred():
                    return True
                time.sleep(0.2)
            return False

        assert wait_for(lambda: (1, 1) in rows())
        t_seen = time.time()
        mark = (q.lastProgress or {}).get("batchId", -1)
        emit_file([(1, 2)])  # duplicate inside the TTL -> suppressed, TTL re-armed

        def duplicate_processed():
            # a post-mark batch with input rows is the duplicate landing
            return any(
                p["batchId"] > mark and p["numInputRows"] >= 1
                for p in q.recentProgress
            )

        # Wait until the duplicate batch was actually PROCESSED, and check
        # it landed inside the TTL window; on an overloaded machine the
        # file can sit unprocessed past the TTL, which tests nothing.
        assert wait_for(duplicate_processed)
        in_window = (time.time() - t_seen) < 0.6 * ttl_ms / 1000
        if not in_window:
            import pytest

            pytest.skip("machine too loaded: duplicate missed the TTL window")
        # Deterministic eviction check: Spark keeps running micro-batches
        # while processing-time timers are pending, so the state-row count
        # dropping to 0 IS the TTL firing.  Under the old bug the
        # duplicate invocation cleared the timer permanently and the
        # count never drops.
        assert wait_for(lambda: state_rows() == 0), (
            "state never evicted: TTL was lost on the duplicate arrival"
        )
        assert (1, 2) not in rows()  # dedup held while state was live
        emit_file([(1, 3)])  # key returns after eviction -> re-emitted
        assert wait_for(lambda: (1, 3) in rows())
    finally:
        q.stop()


def test_streaming_chunking_converges_to_batch(spark, tmp_path_factory):
    """chunk_fixed is a stateless map-side explode, so the SAME operator
    runs unchanged on a streaming frame; availableNow over a static
    directory must produce exactly the batch chunk set."""
    import shutil

    from dbt_metrics_ingestion_script_spark.operators.corpus import chunk_fixed

    d = tmp_path_factory.mktemp("docs_chunk_stream")
    shutil.copy("/root/testdata/sf0.001/documents.parquet", d / "documents.parquet")
    batch = spark.read.parquet(str(d))
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    result = chunk_fixed(stream, chunk_chars=200, overlap=50)
    name = "stream_chunks"
    q = (
        result.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["doc_id"], r["chunk_offset"], r["chunk_len"], r["chunk_hash"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    want = {
        (r["doc_id"], r["chunk_offset"], r["chunk_len"], r["chunk_hash"])
        for r in chunk_fixed(batch, chunk_chars=200, overlap=50).collect()
    }
    assert got == want and got


def test_stream_session_window_converges_to_batch(
    spark, sf_dir, events_dir, tmp_path_factory
):
    """Native session_window sessionization is the streaming-capable
    shape: the same aggregation over the watermarked stream (update
    mode, one micro-batch over the staged file) must equal the batch
    frame."""
    from dbt_metrics_ingestion_script_spark.operators.sessions import (
        session_window_stats,
    )

    # session windows stream in APPEND mode only (update/complete are
    # rejected), and append emits a session only once the watermark
    # passes its end -- so a far-future sentinel event (second
    # micro-batch via mtime order) pushes the watermark beyond every
    # real session before the stream drains
    import datetime
    import os
    import shutil as _shutil
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("session_stream"))
    src = f"{events_dir}/events.parquet"
    _shutil.copy(src, f"{d}/events.parquet")
    now = _time.time()
    os.utime(f"{d}/events.parquet", (now - 100, now - 100))
    t = pq.read_table(src)
    far = datetime.datetime(2100, 1, 1)
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([999_999], pa.int64()),
                "ts": pa.array([far], pa.timestamp("us")),
                "user_id": pa.array([-999], pa.int64()),
                "event_type": pa.array(["sentinel"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            },
            schema=pa.schema(
                [(f.name, f.type) for f in t.schema]
            ),
        ),
        f"{d}/zz_sentinel.parquet",
    )
    os.utime(f"{d}/zz_sentinel.parquet", (now - 10, now - 10))

    stream = read_events_stream(spark, d)
    result = session_window_stats(stream.withWatermark("ts", "1 day"))
    run_stream_to_memory(result, "stream_sessions", output_mode="append")
    got = sorted(
        (
            r["user_id"], str(r["session_start"]), str(r["session_end"]),
            r["n_events"], r["total_value"],
        )
        for r in spark.sql(
            "SELECT * FROM stream_sessions WHERE user_id <> -999"
        ).collect()
    )
    expected = sorted(
        (
            r["user_id"], str(r["session_start"]), str(r["session_end"]),
            r["n_events"], r["total_value"],
        )
        for r in session_window_stats(
            load_table(spark, sf_dir, "events")
        ).collect()
    )
    assert got == expected


def test_session_window_gap_boundary(spark):
    """Boundary pin (empirically verified): Spark's session_window
    MERGES an exactly-gap step (windows merge while next start <=
    previous end) -- the same `gap >` split rule as sessionize; one
    microsecond past the gap splits.  A naive half-open `>=` oracle
    would split the exact step and diverge."""
    import datetime

    from dbt_metrics_ingestion_script_spark.operators.sessions import (
        session_window_stats,
        sessionize,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def mk(delta):
        return spark.createDataFrame(
            [
                (0, t0, 7, "view", 1.0, "{}"),
                (1, t0 + delta, 7, "view", 1.0, "{}"),
            ],
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        )

    exact = mk(datetime.timedelta(minutes=30))
    assert len(session_window_stats(exact, gap="30 minutes").collect()) == 1
    assert len(sessionize(exact, gap_minutes=30).collect()) == 1
    past = mk(datetime.timedelta(minutes=30, microseconds=1))
    assert len(session_window_stats(past, gap="30 minutes").collect()) == 2
    assert len(sessionize(past, gap_minutes=30).collect()) == 2


def test_streaming_sampling_converges_to_batch(spark, tmp_path_factory):
    """stratified_sample and temperature_sample's FILTER stage are
    deterministic map-side decisions, so they run unchanged on a
    streaming frame.  Temperature rates come from a batch count pass
    (the rates are a tiny dimension computed offline and refreshed out
    of band at scale); the stream then applies the same hash-threshold
    filter and must keep exactly the batch's kept set."""
    import shutil

    from pyspark.sql import functions as F

    from dbt_metrics_ingestion_script_spark.operators.corpus import (
        sample_keep,
        stratified_sample,
        temperature_sample,
    )

    d = tmp_path_factory.mktemp("docs_sample_stream")
    shutil.copy("/root/testdata/sf0.001/documents.parquet", d / "documents.parquet")
    batch = spark.read.parquet(str(d))

    def drain(result, name):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        return {r["doc_id"] for r in spark.sql(f"SELECT doc_id FROM {name}").collect()}

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    rates = {"en": 0.5, "zh": 0.25, "de": 1.0}
    got = drain(
        stratified_sample(stream, "lang", rates, default_rate=0.75),
        "stream_strat_sample",
    )
    want = {
        r["doc_id"]
        for r in stratified_sample(batch, "lang", rates, default_rate=0.75)
        .select("doc_id")
        .collect()
    }
    assert got == want and got

    # temperature: rates precomputed from the BATCH counts (a tiny
    # dimension), filter applied to the stream
    batch_kept = temperature_sample(batch, stratum_col="lang", alpha=0.5)
    rate_rows = {
        r["lang"]: r["keep_rate"]
        for r in batch_kept.select("lang", "keep_rate").distinct().collect()
    }
    rate_col = F.lit(None).cast("double")
    for lang, rate in sorted(rate_rows.items(), key=lambda kv: str(kv[0])):
        cond = F.col("lang").isNull() if lang is None else (F.col("lang") == lang)
        rate_col = F.when(cond, F.lit(rate)).otherwise(rate_col)
    stream2 = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d))
    )
    got_t = drain(
        stream2.where(sample_keep("doc_id", "lang", rate_col)),
        "stream_temp_sample",
    )
    want_t = {r["doc_id"] for r in batch_kept.select("doc_id").collect()}
    assert got_t == want_t and got_t


def test_streaming_funnel_converges_to_batch(spark, sf_dir, events_dir):
    """The stateful streaming funnel's drained per-user stages must
    aggregate to exactly the batch funnel's stage counts, with and
    without the conversion window (same state machine, streamed)."""
    from collections import defaultdict

    from dbt_metrics_ingestion_script_spark.operators.sessions import (
        funnel_stages,
    )
    from dbt_metrics_ingestion_script_spark.streaming.stateful import (
        streaming_funnel_stages,
    )

    span = 2 * 86_400 * 1_000_000
    for tag, kw in (("plain", {}), ("span", {"max_span_us": span})):
        stream = read_events_stream(spark, events_dir)
        result = streaming_funnel_stages(stream, **kw)
        sink = f"stream_funnel_{tag}"
        q = (
            result.writeStream.format("memory")
            .queryName(sink)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        # update mode re-emits a user's row per touching batch; state is
        # monotone, so the final stage is the max emitted
        final = defaultdict(int)
        for r in spark.sql(f"SELECT * FROM {sink}").collect():
            final[r["user_id"]] = max(final[r["user_id"]], r["final_stage"])
        got = {
            i: sum(1 for s in final.values() if s >= i + 1) for i in range(3)
        }
        want = {
            r["stage_idx"]: r["n_users"]
            for r in funnel_stages(
                load_table(spark, sf_dir, "events"), **kw
            ).collect()
        }
        assert got == want, tag


def test_streaming_funnel_state_survives_micro_batches(
    spark, sf_dir, tmp_path_factory
):
    """Split the event history into two time-ordered files (two
    micro-batches under maxFilesPerTrigger=1): users whose funnel
    progression STRADDLES the batch boundary must still complete --
    proving the per-user state actually carries across batches rather
    than resetting."""
    import os
    import time as _time
    from collections import defaultdict

    from pyspark.sql import functions as F

    from dbt_metrics_ingestion_script_spark.operators.sessions import (
        funnel_stages,
    )
    from dbt_metrics_ingestion_script_spark.streaming.stateful import (
        streaming_funnel_stages,
    )

    batch = load_table(spark, sf_dir, "events")
    # EARLY cut (p10): most progressions then complete in batch 2 while
    # batch 1 already advanced some users to stage >= 1, so cross-batch
    # state carry is genuinely exercised (a median cut leaves most
    # funnels fully inside one half at this SF)
    cut = batch.agg(
        F.expr("timestamp_micros(cast(percentile(unix_micros(cast(ts as timestamp)), 0.1) as long))")
    ).collect()[0][0]
    d = str(tmp_path_factory.mktemp("funnel_two_batches"))
    batch.where(F.col("ts") <= cut).coalesce(1).write.parquet(f"{d}/part_a")
    batch.where(F.col("ts") > cut).coalesce(1).write.parquet(f"{d}/part_b")
    # flatten: the file source lists leaf files; pin order via mtime
    now = _time.time()
    files = []
    for sub, age in (("part_a", 100), ("part_b", 10)):
        for f in os.listdir(f"{d}/{sub}"):
            if f.endswith(".parquet"):
                src = f"{d}/{sub}/{f}"
                dst = f"{d}/{sub}.parquet"
                os.rename(src, dst)
                os.utime(dst, (now - age, now - age))
                files.append(dst)
    assert len(files) == 2
    schema = spark.read.parquet(files[0]).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    result = streaming_funnel_stages(stream)
    q = (
        result.writeStream.format("memory")
        .queryName("stream_funnel_2b")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    final = defaultdict(int)
    for r in spark.sql("SELECT * FROM stream_funnel_2b").collect():
        final[r["user_id"]] = max(final[r["user_id"]], r["final_stage"])
    got = {i: sum(1 for s in final.values() if s >= i + 1) for i in range(3)}
    want = {
        r["stage_idx"]: r["n_users"] for r in funnel_stages(batch).collect()
    }
    assert got == want
    # sanity: the split actually exercises cross-batch state (some user
    # progressed in BOTH halves -- i.e. the second batch raised stages)
    straddlers = (
        funnel_stages(batch.where(F.col("ts") <= cut)).collect(),
        funnel_stages(batch).collect(),
    )
    n_before = {r["stage_idx"]: r["n_users"] for r in straddlers[0]}
    n_after = {r["stage_idx"]: r["n_users"] for r in straddlers[1]}
    assert any(
        n_after[i] > n_before.get(i, 0) for i in range(3)
    ), "fixture split produced no cross-batch progressions; pick a new cut"


def test_streaming_asof_lookup_converges_to_batch(spark, sf_dir, events_dir):
    """The sorted-history-lookup as-of is STATELESS per event, so the
    identical operator runs on a streaming left side (stream-static
    equi-join + array pick, append mode, no watermark); the drained
    stream must equal the batch union+window as-of exactly."""
    from pyspark.sql import functions as F

    from dbt_metrics_ingestion_script_spark.operators.asof import (
        asof_join_backward,
        asof_lookup_static,
    )

    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("last_order_ts"),
        )
        .agg(F.count("*").alias("n_orders"))
    )
    kw = dict(
        on="user_id", left_ts="ts", right_ts="last_order_ts",
        value_cols=["n_orders"],
    )
    stream = read_events_stream(spark, events_dir).select(
        "event_id", "user_id", "ts"
    )
    result = asof_lookup_static(stream, daily, **kw)
    q = (
        result.writeStream.format("memory")
        .queryName("stream_asof")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        (r["event_id"], r["user_id"], str(r["ts"]), str(r["last_order_ts"]), r["n_orders"])
        for r in spark.sql("SELECT * FROM stream_asof").collect()
    )
    batch_ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    want = sorted(
        (r["event_id"], r["user_id"], str(r["ts"]), str(r["last_order_ts"]), r["n_orders"])
        for r in asof_join_backward(batch_ev, daily, **kw).collect()
    )
    assert got == want and got


@pytest.mark.slow
def test_stream_stream_join_state_across_micro_batches(spark, tmp_path):
    """Stream-stream join must hold VIEW-side state across micro-batches:
    a view in batch 0 pairs with a purchase arriving in batch 1 (within
    the interval bound), while an out-of-window purchase never pairs."""
    import datetime
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_metrics_ingestion_script_spark.streaming.metrics_stream import (
        read_events_stream,
        stream_stream_conversion_join,
    )

    d = str(tmp_path / "ssj_events")
    os.makedirs(d)

    def write_file(name, rows, mtime):
        path = f"{d}/{name}"
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "user_id": pa.array([r[2] for r in rows], pa.int64()),
                    "event_type": pa.array([r[3] for r in rows], pa.string()),
                }
            ),
            path,
        )
        os.utime(path, (mtime, mtime))

    t0 = datetime.datetime(2024, 3, 1, 12, 0)
    mins = lambda m: t0 + datetime.timedelta(minutes=m)  # noqa: E731
    now = _time.time()
    # batch 0: user 1 views; user 2 views
    write_file(
        "a.parquet",
        [(1, t0, 1, "view"), (2, t0, 2, "view")],
        now - 100,
    )
    # batch 1: user 1 purchases 30 min later (in window);
    # user 2 purchases 90 min later (out of 60-min window)
    write_file(
        "b.parquet",
        [(3, mins(30), 1, "purchase"), (4, mins(90), 2, "purchase")],
        now - 50,
    )

    stream = read_events_stream(spark, d)
    q = (
        stream_stream_conversion_join(stream, window_minutes=60)
        .writeStream.format("memory")
        .queryName("ssj_state_test")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        (r["view_id"], r["purchase_id"], r["gap_s"])
        for r in spark.table("ssj_state_test").collect()
    }
    # cross-batch pair found; out-of-window pair absent
    assert got == {(1, 3, 1800.0)}


def test_streaming_state_survives_query_restart(spark, tmp_path):
    """Checkpoint recovery: stateful dedup state must survive a FULL
    query restart (stop -> new query object -> same checkpoint), not
    just micro-batches.  Run 1 sees hash A; run 2 (restarted) sees a
    duplicate of A plus new hash B.  With recovery working the sink
    holds exactly {A once, B once}; a state loss would re-emit A."""
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    from dbt_metrics_ingestion_script_spark.streaming.stateful import (
        streaming_exact_dedup,
    )

    src = str(tmp_path / "src"); os.makedirs(src)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def write_file(name, rows, mtime):
        path = f"{src}/{name}"
        pq.write_table(
            pa.table(
                {
                    "content_hash": pa.array([r[0] for r in rows], pa.int64()),
                    "event_id": pa.array([r[1] for r in rows], pa.int64()),
                }
            ),
            path,
        )
        os.utime(path, (mtime, mtime))

    schema = "content_hash long, event_id long"

    def run_once():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        def append_batch(df, _batch_id):
            df.write.mode("append").parquet(out)

        q = (
            streaming_exact_dedup(stream)
            .writeStream.foreachBatch(append_batch)
            .option("checkpointLocation", ckpt)
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    now = _time.time()
    write_file("a.parquet", [(111, 1)], now - 100)
    run_once()  # run 1: emits hash 111

    write_file("b.parquet", [(111, 2), (222, 3)], now - 50)
    run_once()  # run 2: restarted query; 111 must NOT re-emit

    got = {
        (r["content_hash"], r["event_id"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == {(111, 1), (222, 3)}


def test_streaming_metric_store_upsert_merges_across_batches(spark, tmp_path):
    """The foreachBatch MERGE loop must genuinely update: batch 0
    writes day-1 counts, batch 1 adds MORE day-1 events (same bucket
    -> update) and a day-2 bucket (-> insert).  The final snapshot
    equals the batch aggregate over everything."""
    import datetime
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dbt_metrics_ingestion_script_spark.streaming.metrics_stream import (
        streaming_metric_store_upsert,
    )

    src = str(tmp_path / "src"); os.makedirs(src)
    store = str(tmp_path / "store")

    def write_file(name, rows, mtime):
        path = f"{src}/{name}"
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "event_type": pa.array([r[2] for r in rows], pa.string()),
                    "value": pa.array([r[3] for r in rows], pa.float64()),
                }
            ),
            path,
        )
        os.utime(path, (mtime, mtime))

    d1 = datetime.datetime(2024, 3, 1, 10)
    d2 = datetime.datetime(2024, 3, 2, 10)
    now = _time.time()
    write_file("a.parquet", [(1, d1, "click", 1.0), (2, d1, "click", 2.0)], now - 100)
    write_file("b.parquet", [(3, d1, "click", 4.0), (4, d2, "view", 8.0)], now - 50)

    snap = streaming_metric_store_upsert(spark, src, store)
    got = {
        (str(r["ts"])[:10], r["event_type"]): (r["n_events"], r["total_value"])
        for r in snap.collect()
    }
    # day-1 click bucket merged across batches: 3 events, 7.0 total
    assert got[("2024-03-01", "click")] == (3, 7.0)
    assert got[("2024-03-02", "view")] == (1, 8.0)
    assert len(got) == 2


def test_snapshot_swap_is_crash_recoverable(tmp_path):
    """ADVICE r7: the old rmtree-then-replace swap lost ALL prior state
    if a crash landed between the two calls.  The rename-based swap
    keeps a recoverable copy at every crash point; _recover_snapshot
    restores the mid-swap state on checkpoint replay."""
    import os

    from dbt_metrics_ingestion_script_spark.streaming.metrics_stream import (
        _recover_snapshot,
        _swap_snapshot,
    )

    store = tmp_path / "store"
    store.mkdir()
    cur = str(store / "current")

    def mkdir_with(path, marker):
        os.makedirs(path)
        (open(os.path.join(path, marker), "w")).close()

    # normal swap: v0 becomes current, nothing left behind
    mkdir_with(str(store / "v0"), "gen0")
    _swap_snapshot(str(store / "v0"), cur)
    assert os.path.exists(os.path.join(cur, "gen0"))
    assert not os.path.exists(str(store / "v0"))
    assert not os.path.exists(cur + ".trash")

    # second swap with a prior current: new state wins, trash cleaned
    mkdir_with(str(store / "v1"), "gen1")
    _swap_snapshot(str(store / "v1"), cur)
    assert os.path.exists(os.path.join(cur, "gen1"))
    assert not os.path.exists(cur + ".trash")

    # simulate a crash BETWEEN the two renames: cur moved to trash, the
    # new snapshot not yet renamed in (the window the old code turned
    # into total state loss)
    os.replace(cur, cur + ".trash")
    mkdir_with(str(store / "v2"), "gen2")
    _recover_snapshot(cur)
    assert os.path.exists(os.path.join(cur, "gen1"))  # prior state back
    # the replayed batch then re-runs its swap and lands the new state
    _swap_snapshot(str(store / "v2"), cur)
    assert os.path.exists(os.path.join(cur, "gen2"))
    assert not os.path.exists(cur + ".trash")

    # recovery is a no-op when the swap completed (cur present)
    _recover_snapshot(cur)
    assert os.path.exists(os.path.join(cur, "gen2"))


@pytest.mark.slow
def test_streaming_semantic_ingestion_converges_to_batch(spark, tmp_path, sf_dir):
    """End-to-end streaming semantic ingestion (VERDICT r7 item 7):
    TWO micro-batches of embedding ARRIVALS (not pre-built pairs) drive
    the LSH-pair-producer -> incremental-clustering composition; the
    drained label snapshot must equal the one-shot batch clustering of
    the UNION corpus, and cross-batch near-dups must be caught via the
    signature-index store (pairs the second batch can only see through
    the index)."""
    import os

    from pyspark.sql import functions as F

    from dbt_metrics_ingestion_script_spark.operators.dedup import (
        duplicate_clusters_star,
        embedding_near_pairs,
    )
    from dbt_metrics_ingestion_script_spark.sources.tables import load_table
    from dbt_metrics_ingestion_script_spark.streaming.metrics_stream import (
        streaming_semantic_ingestion,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mid = emb.agg(F.expr("percentile_cont(0.5) WITHIN GROUP (ORDER BY vec_id)")).collect()[0][0]
    src = str(tmp_path / "arrivals")
    b0 = emb.where(F.col("vec_id") <= mid)
    b1 = emb.where(F.col("vec_id") > mid)
    b0.coalesce(1).write.parquet(f"{src}/b0")
    b1.coalesce(1).write.parquet(f"{src}/b1")
    # make mtimes deterministic so maxFilesPerTrigger=1 ingests b0 first
    import time as _time

    now = _time.time()
    files = sorted(
        f"{src}/{d}/{f}"
        for d in ("b0", "b1")
        for f in os.listdir(f"{src}/{d}")
        if f.endswith(".parquet")
    )
    assert len(files) == 2
    for i, f in enumerate(files):
        os.utime(f, (now - 100 + i, now - 100 + i))

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    store = str(tmp_path / "store")
    snap = streaming_semantic_ingestion(spark, stream, store, threshold=0.4)
    got = {r["doc_id"]: r["cluster_id"] for r in snap.collect()}

    want_pairs = embedding_near_pairs(emb, threshold=0.4)
    want = {
        r["doc_id"]: r["cluster_id"]
        for r in duplicate_clusters_star(want_pairs).collect()
    }
    assert got == want and len(got) > 0
    # the test is only meaningful if some near-dup pair CROSSES the
    # batch boundary (reachable solely through the signature index)
    cross = want_pairs.where(
        (F.col("id_a") <= mid) != (F.col("id_b") <= mid)
    ).count()
    assert cross > 0, "fixture split produced no cross-batch pairs"
    # two micro-batches genuinely ran
    commits = os.path.join(store, "_checkpoint", "commits")
    assert os.path.exists(os.path.join(commits, "0"))
    assert os.path.exists(os.path.join(commits, "1"))


def test_streaming_interval_overlap_converges_to_batch(spark, sf_dir):
    """The stream-static overlap join emits exactly the batch pair
    set: interval_overlap_join is stateless projection + explode +
    equi-join, so draining the incident stream must reproduce the
    batch query row-for-row (including overlap lengths)."""
    from dbt_metrics_ingestion_script_spark.queries_ext import (
        events_incident_overlap_sessions,
        streaming_incident_overlap_sessions,
    )

    key = lambda r: (  # noqa: E731
        r["user_id"], r["session_idx"], r["incident_id"], r["overlap_us"]
    )
    batch = sorted(
        key(r) for r in events_incident_overlap_sessions(spark, sf_dir).collect()
    )
    stream = sorted(
        key(r)
        for r in streaming_incident_overlap_sessions(spark, sf_dir).collect()
    )
    assert len(batch) > 0
    assert stream == batch
