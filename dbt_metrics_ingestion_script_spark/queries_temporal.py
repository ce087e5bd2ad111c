"""Temporal / sketch / ML-prep query family (EXT, round 8 wave 2).

Lakehouse temporal primitives (changelog snapshot reconstruction and
snapshot diff), the KMV distinct-count sketch with its exact
mergeability law verified in-plan, sample-based join-size estimation,
closed-form grouped OLS regression, drawdown analysis, feature
scaling for training-set assembly, deterministic hash-bucketed
negative sampling, and a key-skew profiler.

Same driver contract as queries.py: every computed column aliased
identically in Spark and SQL; float aggregates either made exact via
decimal summation (order-independent in every engine) or rounded
identically on both sides.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .functions.hashing import (
    DUCKDB_HASH31,
    DUCKDB_HASH64,
    duckdb_family_hash,
    family_hash,
    hash31,
    hash64,
)
from .operators.sketches import (
    KMV_HASH_SPACE,
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
)
from .operators.temporal import snapshot_at
from .registry import register
from .sources.tables import load_table

# ---------------------------------------------------------------------------
# changelog snapshots: point-in-time reconstruction + diff
# ---------------------------------------------------------------------------
#
# The events log read as a keyed changelog: user_id is the key,
# (ts, event_id) the monotone position, event_type the op -- 'error'
# acts as the tombstone op for the demo (documented mapping; any op
# vocabulary plugs in), every other op upserts the row's value.

_SNAP_T1 = "2024-01-10 00:00:00"
_SNAP_T2 = "2024-01-20 00:00:00"


def _snapshot_oracle(as_of: str) -> str:
    return f"""
    WITH ranked AS (
      SELECT user_id, ts AS state_ts, event_id AS state_seq,
             event_type AS state_op, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
      WHERE ts IS NOT NULL AND ts <= TIMESTAMP '{as_of}'
    )
    SELECT user_id, state_ts, state_seq, state_op, value
    FROM ranked WHERE rn = 1 AND state_op <> 'error'
    """


def _events_snapshot(spark, sf_dir, as_of: str):
    return snapshot_at(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        ts_col="ts",
        seq_col="event_id",
        op_col="event_type",
        delete_op="error",
        value_cols=["value"],
        as_of=as_of,
    )


@register("events_snapshot_at_time", _snapshot_oracle(_SNAP_T2))
def events_snapshot_at_time(spark, sf_dir):
    """Point-in-time table state from an append-only changelog: the
    latest record per key at T wins, ordered by (ts, seq) so
    co-timestamped records resolve deterministically; a key whose
    latest record is the tombstone op is absent.  ONE
    partial-aggregated shuffle (max_by combines map-side, shipping one
    candidate per key per partition -- never the log; a window
    row_number formulation would shuffle and sort every log row).
    The oracle deliberately uses the window formulation: two
    formulations, one semantics."""
    return _events_snapshot(spark, sf_dir, _SNAP_T2)


_SNAPSHOT_DIFF_ORACLE = f"""
    WITH r1 AS (
      SELECT user_id, event_type AS state_op, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events WHERE ts IS NOT NULL AND ts <= TIMESTAMP '{_SNAP_T1}'
    ), s1 AS (
      SELECT user_id, state_op, value FROM r1
      WHERE rn = 1 AND state_op <> 'error'
    ), r2 AS (
      SELECT user_id, event_type AS state_op, value,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events WHERE ts IS NOT NULL AND ts <= TIMESTAMP '{_SNAP_T2}'
    ), s2 AS (
      SELECT user_id, state_op, value FROM r2
      WHERE rn = 1 AND state_op <> 'error'
    )
    SELECT COALESCE(s1.user_id, s2.user_id) AS user_id,
           CASE
             WHEN s1.user_id IS NULL THEN 'added'
             WHEN s2.user_id IS NULL THEN 'removed'
             WHEN s1.state_op IS NOT DISTINCT FROM s2.state_op
              AND s1.value IS NOT DISTINCT FROM s2.value THEN 'unchanged'
             ELSE 'changed'
           END AS status,
           s1.state_op AS old_state_op, s1.value AS old_value,
           s2.state_op AS new_state_op, s2.value AS new_value
    FROM s1 FULL OUTER JOIN s2 ON s1.user_id = s2.user_id
    """


@register("events_snapshot_diff_single_scan", _SNAPSHOT_DIFF_ORACLE)
def events_snapshot_diff_single_scan(spark, sf_dir):
    """Diff two point-in-time states of the changelog-reconstructed
    table: added / removed / changed / unchanged per key, NULL-safe on
    the payload.  'removed' is a key whose T2 state is a tombstone;
    'added' first appeared after T1.  Both states are conditional
    max_by aggregates (ts<=T1 / ts<=T2) in ONE pass over the T2-pruned
    changelog -- one scan, one partial-aggregated shuffle, no join at
    all, checked against the window-formulation oracle (two snapshots
    and a FULL OUTER JOIN).  The ts<=T2 predicate pushes to the
    parquet scan, which at 100 TB is the date-partition pruning that
    skips every file after the newer snapshot.

    Scan budget: events 1x -- plan-locked in tests/test_plan_shape.py.
    """
    t1 = F.lit(_SNAP_T1).cast("timestamp")
    t2 = F.lit(_SNAP_T2).cast("timestamp")
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & (F.col("ts") <= t2))
        .select("user_id", "ts", "event_id", "event_type", "value")
    )
    pos = F.struct(F.col("ts"), F.col("event_id"))
    payload = F.struct(
        F.col("event_type").alias("state_op"), F.col("value").alias("value")
    )
    in1 = F.col("ts") <= t1
    st = ev.groupBy("user_id").agg(
        # max_by skips rows whose ordering expression is NULL, so the
        # WHEN mask turns the T1 state into a conditional aggregate of
        # the same scan
        F.max_by(F.when(in1, payload), F.when(in1, pos)).alias("s1"),
        F.max_by(payload, pos).alias("s2"),
    )
    # coalesce-to-false mirrors the oracle's `state_op <> 'error'`
    # filter exactly: a NULL op (or no state at all -- s1 NULL makes
    # s1.state_op NULL too) counts as ABSENT, never as present-with-
    # unknown-op (ADVICE r9: the bare != would leave p1 NULL and let a
    # NULL-op latest state be classified changed/unchanged)
    p1 = F.coalesce(F.col("s1.state_op") != "error", F.lit(False))
    p2 = F.coalesce(F.col("s2.state_op") != "error", F.lit(False))
    same = F.col("s1.state_op").eqNullSafe(F.col("s2.state_op")) & F.col(
        "s1.value"
    ).eqNullSafe(F.col("s2.value"))
    return (
        st.where(p1 | p2)
        .select(
            "user_id",
            F.when(~p1, F.lit("added"))
            .when(~p2, F.lit("removed"))
            .when(same, F.lit("unchanged"))
            .otherwise(F.lit("changed"))
            .alias("status"),
            F.when(p1, F.col("s1.state_op")).alias("old_state_op"),
            F.when(p1, F.col("s1.value")).alias("old_value"),
            F.when(p2, F.col("s2.state_op")).alias("new_state_op"),
            F.when(p2, F.col("s2.value")).alias("new_value"),
        )
    )


# ---------------------------------------------------------------------------
# KMV distinct-count sketch: daily estimates + exact merge law
# ---------------------------------------------------------------------------

_KMV_K = 64
_KMV_SPACE_SQL = "1152921504606846976.0"  # 2^60, hash64's range
_H64_USER = DUCKDB_HASH64.format(x="CAST(user_id AS VARCHAR)")


def _kmv_est_sql(n: str, kth: str) -> str:
    return (
        f"ROUND(CASE WHEN {n} < {_KMV_K} THEN CAST({n} AS DOUBLE) "
        f"ELSE {float(_KMV_K - 1)} * {_KMV_SPACE_SQL} / CAST({kth} AS DOUBLE) "
        f"END, 4)"
    )


@register(
    "events_kmv_daily_users",
    f"""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), hs AS (
      SELECT DISTINCT day, {_H64_USER} AS h FROM du
    ), ranked AS (
      SELECT day, h, ROW_NUMBER() OVER (PARTITION BY day ORDER BY h) AS rn
      FROM hs
    ), sk AS (
      SELECT day, COUNT(*) AS n, MAX(h) AS kth
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY 1
    ), est AS (
      SELECT day, {_kmv_est_sql('n', 'kth')} AS est_distinct FROM sk
    ), ex AS (
      SELECT day, COUNT(*) AS n_exact FROM du GROUP BY 1
    )
    SELECT ex.day, ex.n_exact, est.est_distinct,
           ROUND(ABS(est.est_distinct - ex.n_exact) / ex.n_exact, 4) AS rel_err
    FROM ex JOIN est USING (day)
    """,
)
def events_kmv_daily_users(spark, sf_dir):
    """Daily distinct users via a KMV (k-minimum-values) sketch
    (Bar-Yossef et al. 2002): keep the k smallest distinct hash
    values per day; estimate (k-1)*H/h_(k).  Built on the portable
    md5 hash64, so the oracle replays every hash, kth minimum, and
    estimate bit-identically -- the sketch's ERROR is verified, not
    assumed.  Scale: one partial-aggregated distinct on (day, hash),
    then a window over the deduplicated hash frame only (bounded by
    distinct users, never event rows)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(F.date_trunc("day", "ts").cast("date").alias("day"), "user_id")
    )
    sk = kmv_sketch(ev, "user_id", ["day"], _KMV_K)
    est = kmv_estimate(sk, ["day"], _KMV_K)
    exact = ev.distinct().groupBy("day").agg(F.count("*").alias("n_exact"))
    return exact.join(est, "day").select(
        "day",
        "n_exact",
        "est_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("n_exact")) / F.col("n_exact"), 4
        ).alias("rel_err"),
    )


@register(
    "events_kmv_merge_rollup",
    # the merge law (k smallest of a union of per-part k-smallest sets
    # == k smallest of the union) is an order-statistic THEOREM, so the
    # oracle computes the direct weekly sketch once and predicts the
    # merged path equals it exactly
    f"""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week, user_id
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), hs AS (
      SELECT DISTINCT week, {_H64_USER} AS h FROM du
    ), ranked AS (
      SELECT week, h, ROW_NUMBER() OVER (PARTITION BY week ORDER BY h) AS rn
      FROM hs
    ), sk AS (
      SELECT week, COUNT(*) AS n, MAX(h) AS kth
      FROM ranked WHERE rn <= {_KMV_K} GROUP BY 1
    ), est AS (
      SELECT week, {_kmv_est_sql('n', 'kth')} AS est_direct FROM sk
    ), ex AS (
      SELECT week, COUNT(*) AS n_exact FROM du GROUP BY 1
    )
    SELECT ex.week, ex.n_exact, est.est_direct AS est_merged,
           est.est_direct, TRUE AS merge_exact
    FROM ex JOIN est USING (week)
    """,
)
def events_kmv_merge_rollup(spark, sf_dir):
    """KMV mergeability, verified in-plan: weekly distinct-user
    estimates computed TWO ways -- folding the daily sketches up to
    weeks (the rollup a metric store performs, touching only
    k-rows-per-day frames) and sketching the weeks directly from the
    log -- must agree exactly, because the k smallest of the union of
    per-day k-smallest sets IS the k smallest of the week (order
    statistics, not approximation).  merge_exact asserts it row by
    row; the oracle predicts TRUE everywhere.

    Scan budget: events 3x -- deliberate self-verification: the daily-
    sketch rollup route and the direct weekly-sketch route must agree
    exactly, so both derive from the log in one plan.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            F.date_trunc("week", "ts").cast("date").alias("week"),
            "user_id",
        )
    )
    daily = kmv_sketch(ev, "user_id", ["day"], _KMV_K).withColumn(
        "week", F.date_trunc("week", "day").cast("date")
    )
    merged = kmv_estimate(
        kmv_merge(daily, ["day"], ["week"], _KMV_K), ["week"], _KMV_K
    ).withColumnRenamed("est_distinct", "est_merged")
    direct = kmv_estimate(
        kmv_sketch(ev, "user_id", ["week"], _KMV_K), ["week"], _KMV_K
    ).withColumnRenamed("est_distinct", "est_direct")
    exact = (
        ev.select("week", "user_id")
        .distinct()
        .groupBy("week")
        .agg(F.count("*").alias("n_exact"))
    )
    return (
        exact.join(merged, "week")
        .join(direct, "week")
        .select(
            "week",
            "n_exact",
            "est_merged",
            "est_direct",
            (F.col("est_merged") == F.col("est_direct")).alias("merge_exact"),
        )
    )


# ---------------------------------------------------------------------------
# sample-based join-size estimation (hash-range correlated sampling)
# ---------------------------------------------------------------------------

_JS_DIV = 8  # keep keys whose hash falls in the lowest 1/8 of the range
_JS_THRESHOLD = (1 << 60) // _JS_DIV
_H64_CUST = DUCKDB_HASH64.format(x="CAST(o_custkey AS VARCHAR)")


@register(
    "events_join_size_estimate",
    f"""
    WITH es AS (
      SELECT user_id FROM events
      WHERE user_id IS NOT NULL AND {_H64_USER} < {_JS_THRESHOLD}
    ), os AS (
      SELECT o_custkey FROM orders
      WHERE o_custkey IS NOT NULL AND {_H64_CUST} < {_JS_THRESHOLD}
    ), sample_join AS (
      SELECT COUNT(*) * {_JS_DIV} AS est_rows
      FROM es JOIN os ON es.user_id = os.o_custkey
    ), ea AS (
      SELECT user_id, COUNT(*) AS a FROM events
      WHERE user_id IS NOT NULL GROUP BY 1
    ), oa AS (
      SELECT o_custkey, COUNT(*) AS b FROM orders
      WHERE o_custkey IS NOT NULL GROUP BY 1
    ), exact AS (
      SELECT CAST(SUM(a * b) AS BIGINT) AS exact_rows
      FROM ea JOIN oa ON ea.user_id = oa.o_custkey
    )
    SELECT est_rows, exact_rows,
           ROUND(ABS(CAST(est_rows AS DOUBLE) - exact_rows) / exact_rows, 6)
             AS rel_err
    FROM sample_join, exact
    """,
)
def events_join_size_estimate(spark, sf_dir):
    """Join-cardinality estimation by correlated hash-range sampling
    (the optimizer-statistics primitive): both sides keep only keys
    whose shared hash lands in the lowest 1/8 of the range, join the
    samples, scale by 8.  Because the SAME hash gates both sides, a
    surviving key keeps its full multiplicity on each side -- the
    estimator is unbiased over Sum(a_k*b_k), unlike independent
    row-level sampling which quadratically under-samples matches.
    Filters push to both scans; the exact side (sum of per-key
    count products, never a materialized join) is the offline
    evaluation, as in similarity_ann_recall."""
    ev = load_table(spark, sf_dir, "events").where(F.col("user_id").isNotNull())
    od = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull()
    )
    thr = F.lit(_JS_THRESHOLD)
    es = ev.where(hash64(F.col("user_id").cast("string")) < thr).select(
        "user_id"
    )
    os_ = od.where(hash64(F.col("o_custkey").cast("string")) < thr).select(
        "o_custkey"
    )
    est = (
        es.join(os_, es.user_id == os_.o_custkey)
        .agg((F.count("*") * _JS_DIV).alias("est_rows"))
    )
    ea = ev.groupBy("user_id").agg(F.count("*").alias("a"))
    oa = od.groupBy("o_custkey").agg(F.count("*").alias("b"))
    exact = (
        ea.join(oa, ea.user_id == oa.o_custkey)
        .agg(F.sum(F.col("a") * F.col("b")).alias("exact_rows"))
    )
    return est.crossJoin(exact).select(
        "est_rows",
        "exact_rows",
        F.round(
            F.abs(F.col("est_rows").cast("double") - F.col("exact_rows"))
            / F.col("exact_rows"),
            6,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# grouped OLS regression (closed form over exact sums)
# ---------------------------------------------------------------------------

_REG_EPOCH = "1995-01-01"


@register(
    "metric_regression_revenue_trend",
    f"""
    WITH daily AS (
      SELECT o_orderstatus AS status,
             datediff('day', DATE '{_REG_EPOCH}',
                      CAST(date_trunc('day', o_orderdate) AS DATE)) AS x,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS y
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    ), s AS (
      SELECT status, COUNT(*) AS n,
             SUM(x) AS sx, SUM(x * x) AS sxx,
             SUM(y) AS sy, SUM(y * y) AS syy, SUM(x * y) AS sxy
      FROM daily GROUP BY 1
    )
    SELECT status, n,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           ROUND((sy * sxx - sx * sxy) / (n * sxx - sx * sx), 6) AS intercept,
           ROUND((n * sxy - sx * sy) * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
    FROM s
    """,
)
def metric_regression_revenue_trend(spark, sf_dir):
    """Per-group OLS trend of daily revenue, closed form: slope /
    intercept / R^2 from the five sufficient sums -- ONE aggregate
    over the pre-aggregated daily frame, no iteration, no ML library.
    The sufficient-statistics shape is exactly what scales: sums
    combine map-side, and model fitting is O(groups), not O(rows).
    Parity engineering: daily y sums DECIMAL (order-independent in
    every engine, so both engines regress on bit-identical inputs),
    x is a small integer day index (integer sums exact), and both
    engines evaluate the identical closed-form expression."""
    daily = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(
            F.col("o_orderstatus").alias("status"),
            F.datediff(
                F.date_trunc("day", "o_orderdate").cast("date"),
                F.lit(_REG_EPOCH).cast("date"),
            ).alias("x"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("y")
        )
    )
    s = daily.groupBy("status").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    deny = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.select(
        "status",
        "n",
        F.round(num / den, 6).alias("slope"),
        F.round(
            (F.col("sy") * F.col("sxx") - F.col("sx") * F.col("sxy")) / den, 6
        ).alias("intercept"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# drawdown: running peak vs current (the monitoring window shape)
# ---------------------------------------------------------------------------


@register(
    "metric_revenue_drawdown",
    """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )
    SELECT month, revenue,
           MAX(revenue) OVER (
             ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS run_peak,
           ROUND((MAX(revenue) OVER (
             ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - revenue) / MAX(revenue) OVER (
             ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ), 6) AS drawdown_pct
    FROM monthly
    """,
)
def metric_revenue_drawdown(spark, sf_dir):
    """Drawdown of the monthly revenue series: running peak and the
    fraction below it -- the health-monitoring twin of the alerting
    suite (plans/alerts.py), as a cumulative window over the tiny
    monthly aggregate.  Revenue sums DECIMAL then casts, so the series
    is bit-identical across engines with no rounding step; only the
    final ratio rounds."""
    monthly = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("month"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    peak = F.max("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        peak.alias("run_peak"),
        F.round((peak - F.col("revenue")) / peak, 6).alias("drawdown_pct"),
    )


# ---------------------------------------------------------------------------
# feature scaling for training-set assembly
# ---------------------------------------------------------------------------


@register(
    "events_feature_scaling",
    """
    WITH feat AS (
      SELECT user_id, COUNT(*) AS n_events,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY 1
    ), stats AS (
      SELECT COUNT(*) AS n, SUM(total_value) AS s,
             SUM(total_value * total_value) AS ss,
             MIN(total_value) AS lo, MAX(total_value) AS hi
      FROM feat
    )
    SELECT f.user_id, f.n_events, f.total_value,
           ROUND((f.total_value - s.s / s.n)
                 / sqrt(s.ss / s.n - (s.s / s.n) * (s.s / s.n)), 6) AS z_score,
           ROUND((f.total_value - s.lo) / (s.hi - s.lo), 6) AS min_max,
           ROUND(PERCENT_RANK() OVER (ORDER BY f.total_value, f.user_id), 6)
             AS pct_rank
    FROM feat f, stats s
    """,
)
def events_feature_scaling(spark, sf_dir):
    """Feature scaling for training-set assembly: z-score, min-max,
    and percent-rank of a per-entity aggregate feature.  The scaling
    statistics come from a ONE-ROW aggregate broadcast back over the
    feature frame (never a global window over the data): at 100 TB
    the entity frame is corpus-sublinear and the stats pass is a
    partial-aggregated reduce to a single row.  percent_rank alone
    needs a global order -- over the entity frame only, with a
    deterministic (value, key) tie-break.  Variance uses the explicit
    E[x^2]-E[x]^2 form so both engines evaluate the identical
    expression over the identical (decimal-exact) inputs."""
    feat = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
    )
    stats = feat.agg(
        F.count("*").alias("n"),
        F.sum("total_value").alias("s"),
        F.sum(F.col("total_value") * F.col("total_value")).alias("ss"),
        F.min("total_value").alias("lo"),
        F.max("total_value").alias("hi"),
    )
    mu = F.col("s") / F.col("n")
    sigma = F.sqrt(F.col("ss") / F.col("n") - mu * mu)
    w = Window.orderBy("total_value", "user_id")
    return (
        feat.crossJoin(F.broadcast(stats))
        .select(
            "user_id",
            "n_events",
            "total_value",
            F.round((F.col("total_value") - mu) / sigma, 6).alias("z_score"),
            F.round(
                (F.col("total_value") - F.col("lo"))
                / (F.col("hi") - F.col("lo")),
                6,
            ).alias("min_max"),
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic hash-bucketed negative sampling (contrastive training)
# ---------------------------------------------------------------------------

_NEG_NB = 32  # codebook buckets
_NEG_K = 3  # negatives per anchor
_H31_DOC = DUCKDB_HASH31.format(x="CAST(doc_id AS VARCHAR)")


def _neg_probe_sql() -> str:
    cases = " ".join(
        f"WHEN j = {j} THEN ({duckdb_family_hash('h31', j)} % {_NEG_NB})"
        for j in range(1, _NEG_K + 1)
    )
    return f"CASE {cases} END"


@register(
    "corpus_negative_samples",
    f"""
    WITH docs AS (
      SELECT doc_id, source, {_H31_DOC} AS h31
      FROM documents WHERE doc_id IS NOT NULL
    ), leaders AS (
      SELECT b, doc_id AS negative_id, source AS neg_source FROM (
        SELECT h31 % {_NEG_NB} AS b, doc_id, source,
               ROW_NUMBER() OVER (
                 PARTITION BY h31 % {_NEG_NB} ORDER BY h31, doc_id
               ) AS rn
        FROM docs
      ) WHERE rn = 1
    ), probes AS (
      SELECT d.doc_id AS anchor_id, d.source, j,
             {_neg_probe_sql()} AS b
      FROM docs d,
           (SELECT unnest([{", ".join(str(j) for j in range(1, _NEG_K + 1))}]) AS j)
    )
    SELECT p.anchor_id, p.j, l.negative_id
    FROM probes p JOIN leaders l USING (b)
    WHERE l.negative_id <> p.anchor_id AND l.neg_source <> p.source
    """,
)
def corpus_negative_samples(spark, sf_dir):
    """Deterministic negative sampling for contrastive training: each
    anchor draws K pseudo-random negatives by probing a hash-bucketed
    codebook -- bucket leaders (min-hash doc per bucket) stand in as
    the negatives, probes come from the portable universal hash family
    so every draw replays bit-identically in the oracle.  Same-source
    and self pairs are filtered (would-be false negatives).  Scale:
    the codebook is NB rows built by one aggregate and broadcast; the
    anchor side is map-side only (explode xK + broadcast join) -- no
    global index, no shuffle of the corpus, unlike row_number-based
    pairing which needs a total order."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id").isNotNull())
        .select(
            "doc_id",
            "source",
            hash31(F.col("doc_id").cast("string")).alias("h31"),
        )
    )
    w = Window.partitionBy("b").orderBy("h31", "doc_id")
    leaders = (
        docs.withColumn("b", F.col("h31") % _NEG_NB)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "b",
            F.col("doc_id").alias("negative_id"),
            F.col("source").alias("neg_source"),
        )
    )
    probes = docs.select(
        F.col("doc_id").alias("anchor_id"),
        "source",
        F.posexplode(
            F.array(
                *[
                    (family_hash(F.col("h31"), j) % _NEG_NB)
                    for j in range(1, _NEG_K + 1)
                ]
            )
        ).alias("pos", "b"),
    ).select(
        "anchor_id", "source", (F.col("pos") + 1).alias("j"), "b"
    )
    return (
        probes.join(F.broadcast(leaders), "b")
        .where(
            (F.col("negative_id") != F.col("anchor_id"))
            & (F.col("neg_source") != F.col("source"))
        )
        .select("anchor_id", "j", "negative_id")
    )


# ---------------------------------------------------------------------------
# key-skew profiler (the pre-flight check for every shuffle above)
# ---------------------------------------------------------------------------


@register(
    "dq_key_skew_profile",
    """
    WITH counts AS (
      SELECT user_id, COUNT(*) AS c FROM events
      WHERE user_id IS NOT NULL GROUP BY 1
    ), ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c, user_id) AS rn,
             COUNT(*) OVER () AS n
      FROM counts
    )
    SELECT MAX(n) AS n_keys, CAST(SUM(c) AS BIGINT) AS total_rows, MAX(c) AS max_cnt,
           MAX(CASE WHEN rn = CAST(CEIL(0.50 * n) AS BIGINT) THEN c END) AS p50_cnt,
           MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN c END) AS p99_cnt,
           ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top1_share,
           ROUND(CAST(SUM(CASE WHEN rn > n - 10 THEN c END) AS DOUBLE)
                 / SUM(c), 6) AS top10_share,
           ROUND((2.0 * SUM(rn * c) - (MAX(n) + 1.0) * SUM(c))
                 / (CAST(MAX(n) AS DOUBLE) * SUM(c)), 6) AS gini
    FROM ranked
    """,
)
def dq_key_skew_profile(spark, sf_dir):
    """Key-skew profile of a join/aggregation key: discrete p50/p99
    per-key counts, top-1/top-10 share, and the Gini coefficient of
    the count distribution -- the pre-flight diagnostic that decides
    between a plain shuffle, salting (operators/skew.py), or AQE skew
    handling.  Works on the KEY frame (one partial-aggregated count,
    corpus-sublinear), then a single window+aggregate over it; all
    statistics are integer arithmetic until the final ratios, so
    parity is exact.  Gini uses the sorted-index identity
    (2*Sum(i*c_i) - (n+1)*Sum(c)) / (n*Sum(c)) with a deterministic
    (count, key) tie-break."""
    counts = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("c"))
    )
    w = Window.orderBy("c", "user_id")
    ranked = counts.select(
        "c",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    n = F.max("n")
    tot = F.sum("c")
    return ranked.agg(
        n.alias("n_keys"),
        tot.alias("total_rows"),
        F.max("c").alias("max_cnt"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.50) * F.col("n")).cast("bigint"),
                F.col("c"),
            )
        ).alias("p50_cnt"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.99) * F.col("n")).cast("bigint"),
                F.col("c"),
            )
        ).alias("p99_cnt"),
        F.round(F.max("c").cast("double") / tot, 6).alias("top1_share"),
        F.round(
            F.sum(F.when(F.col("rn") > F.col("n") - 10, F.col("c"))).cast(
                "double"
            )
            / tot,
            6,
        ).alias("top10_share"),
        F.round(
            (
                F.lit(2.0) * F.sum(F.col("rn") * F.col("c"))
                - (n + F.lit(1.0)) * tot
            )
            / (n.cast("double") * tot),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# graph centrality: PageRank over the daily interaction graph
# ---------------------------------------------------------------------------

_PR_D = 0.85
_PR_ITERS = 5


def _pagerank_oracle(iters: int = _PR_ITERS, d: float = _PR_D) -> str:
    """Chained-CTE replay of every power-method round: the oracle runs
    the SAME iteration the Spark loop builds, with the same per-round
    9-dp rounding that re-synchronizes ulp-level sum-order drift."""
    dd, omd = repr(d), repr(1.0 - d)
    ctes = [
        """seq AS MATERIALIZED (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day, ts, event_id, user_id
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), e0 AS MATERIALIZED (
      SELECT LAG(user_id) OVER (PARTITION BY day ORDER BY ts, event_id) AS src,
             user_id AS dst
      FROM seq
    ), edges AS MATERIALIZED (
      SELECT DISTINCT src, dst FROM e0 WHERE src IS NOT NULL AND src <> dst
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges
      )
    ), deg AS MATERIALIZED (
      SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY 1
    ), nn AS MATERIALIZED (
      SELECT COUNT(*) AS n FROM nodes
    ), r0 AS MATERIALIZED (
      SELECT node, 1.0 / nn.n AS r FROM nodes, nn
    )"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        ctes.append(
            f"""c{i} AS MATERIALIZED (
      SELECT e.dst AS node, SUM(r{p}.r / deg.out_deg) AS contrib
      FROM edges e
      JOIN r{p} ON e.src = r{p}.node
      JOIN deg ON deg.src = e.src
      GROUP BY 1
    ), d{i} AS MATERIALIZED (
      SELECT COALESCE(SUM(r{p}.r), 0) AS m
      FROM r{p} LEFT JOIN deg ON r{p}.node = deg.src
      WHERE deg.src IS NULL
    ), r{i} AS MATERIALIZED (
      SELECT nodes.node,
             ROUND({omd} / nn.n
                   + {dd} * (COALESCE(c.contrib, 0) + dd_.m / nn.n), 9) AS r
      FROM nodes
      CROSS JOIN nn
      CROSS JOIN d{i} dd_
      LEFT JOIN c{i} c ON nodes.node = c.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node AS user_id, r AS pagerank FROM r{iters}"
    )


@register("events_user_pagerank", _pagerank_oracle())
def events_user_pagerank(spark, sf_dir):
    """PageRank centrality over the daily interaction graph (directed
    edges between consecutive actors within a day): the metadata-/
    entity-importance ranking primitive, run as a fixed-iteration
    power method with dangling-mass redistribution so rank conserves
    exactly every round (operators/graph.py pagerank).  The oracle
    replays ALL five rounds as chained CTEs -- per-round 9-dp rounding
    makes the iteration bit-stable across engines, the kmeans-trace
    discipline applied to graph centrality.  Scale: each round is one
    edges-to-ranks join (rank/degree frames are node-sized,
    broadcast; pre-partition edges by src at cluster scale) plus one
    groupBy(dst); the loop builds ONE plan -- no per-round action."""
    from .operators.graph import pagerank

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "ts",
            "event_id",
            "user_id",
        )
    )
    w = Window.partitionBy("day").orderBy("ts", "event_id")
    edges = (
        ev.select(
            F.lag("user_id").over(w).alias("src"),
            F.col("user_id").alias("dst"),
        )
        .where(F.col("src").isNotNull() & (F.col("src") != F.col("dst")))
        .distinct()
    )
    return pagerank(
        edges, damping=_PR_D, iterations=_PR_ITERS, round_dp=9
    ).select(F.col("node").alias("user_id"), "pagerank")


# ---------------------------------------------------------------------------
# KMV set operations: union / intersection / Jaccard between sketches
# ---------------------------------------------------------------------------
#
# The capability HLL fundamentally lacks: set INTERSECTION.  The k
# smallest hashes of A union B are a uniform sample of A union B, so
# the fraction of them belonging to both sketches estimates Jaccard
# (Broder 1997 resemblance, on KMV sketches per Beyer et al. 2007),
# and est_intersection = jaccard * est_union.  Every step -- union
# order statistics, membership flags, both estimates -- replays
# bit-identically in the oracle.


@register(
    "events_kmv_weekly_overlap",
    f"""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS week, user_id
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), hs AS (
      SELECT DISTINCT week, {_H64_USER} AS h FROM du
    ), sk AS (
      SELECT week, h FROM (
        SELECT week, h, ROW_NUMBER() OVER (PARTITION BY week ORDER BY h) AS rn
        FROM hs
      ) WHERE rn <= {_KMV_K}
    ), wk AS (
      SELECT DISTINCT week FROM sk
    ), pairs AS (
      SELECT a.week AS week_a, b.week AS week_b
      FROM wk a JOIN wk b ON a.week < b.week
    ), tagged AS (
      SELECT p.week_a, p.week_b, s.h,
             MAX(CASE WHEN s.week = p.week_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.week = p.week_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.week = p.week_a OR s.week = p.week_b
      GROUP BY 1, 2, 3
    ), combined AS (
      SELECT week_a, week_b, h, in_a, in_b,
             ROW_NUMBER() OVER (
               PARTITION BY week_a, week_b ORDER BY h
             ) AS rn
      FROM tagged
    ), agg AS (
      SELECT week_a, week_b, COUNT(*) AS n, MAX(h) AS kth,
             CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
      FROM combined WHERE rn <= {_KMV_K} GROUP BY 1, 2
    ), est AS (
      SELECT week_a, week_b,
             {_kmv_est_sql('n', 'kth')} AS est_union,
             ROUND(CAST(n_both AS DOUBLE) / n, 6) AS jaccard_kmv
      FROM agg
    ), ex AS (
      SELECT p.week_a, p.week_b,
             CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS exact_intersection,
             (SELECT COUNT(*) FROM du WHERE week = p.week_a)
               + (SELECT COUNT(*) FROM du WHERE week = p.week_b)
               - CAST(SUM(CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS BIGINT) AS exact_union
      FROM pairs p
      JOIN du a ON a.week = p.week_a
      LEFT JOIN du b ON b.week = p.week_b AND b.user_id = a.user_id
      GROUP BY 1, 2
    )
    SELECT est.week_a, est.week_b, est.est_union,
           ROUND(est.jaccard_kmv * est.est_union, 4) AS est_intersection,
           est.jaccard_kmv, ex.exact_union, ex.exact_intersection
    FROM est JOIN ex ON est.week_a = ex.week_a AND est.week_b = ex.week_b
    """,
)
def events_kmv_weekly_overlap(spark, sf_dir):
    """Audience overlap between every pair of weeks from MERGEABLE KMV
    sketches: union cardinality from the combined sketch's kth
    minimum, Jaccard from the fraction of the combined k-minimum
    sample present in both weeks' sketches, intersection as their
    product -- the set-algebra HLL cannot do.  Weekly sketches are
    computed ONCE (k rows per week) and every pairwise combination
    touches only sketch rows; the exact side is the offline
    evaluation, as in similarity_ann_recall.

    Plan shape: the distinct (week, user) frame and the k-row-per-week
    sketch are each eagerly localCheckpoint-ed BEFORE the pairwise
    fan-out -- Catalyst re-derives every multiply-referenced
    DataFrame, so without the cut the 5 references below re-scanned
    events 12x (the SCALE.md multi-reference rescan trap).  Events is
    scanned exactly once; the sketch is built from the checkpointed
    distinct frame (kmv_sketch distincts hashes itself, so the result
    is identical).  Scan-locked in tests/test_plan_shape.py."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.date_trunc("week", "ts").cast("date").alias("week"), "user_id"
        )
    )
    du = ev.distinct().localCheckpoint(eager=True)
    sk = kmv_sketch(du, "user_id", ["week"], _KMV_K).localCheckpoint(
        eager=True
    )
    wk = sk.select("week").distinct()
    pairs = (
        wk.select(F.col("week").alias("week_a"))
        .join(wk.select(F.col("week").alias("week_b")))
        .where(F.col("week_a") < F.col("week_b"))
    )
    side_a = pairs.join(sk, sk.week == pairs.week_a).select(
        "week_a", "week_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    side_b = pairs.join(sk, sk.week == pairs.week_b).select(
        "week_a", "week_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    tagged = (
        side_a.unionByName(side_b)
        .groupBy("week_a", "week_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    w = Window.partitionBy("week_a", "week_b").orderBy("h")
    agg = (
        tagged.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _KMV_K)
        .groupBy("week_a", "week_b")
        .agg(
            F.count("*").alias("n"),
            F.max("h").alias("kth"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        )
    )
    est_union = F.when(F.col("n") < _KMV_K, F.col("n").cast("double")).otherwise(
        F.lit(float(_KMV_K - 1))
        * F.lit(KMV_HASH_SPACE)
        / F.col("kth").cast("double")
    )
    est = agg.select(
        "week_a",
        "week_b",
        F.round(est_union, 4).alias("est_union"),
        F.round(F.col("n_both").cast("double") / F.col("n"), 6).alias(
            "jaccard_kmv"
        ),
    )
    wk_sizes = du.groupBy("week").agg(F.count("*").alias("sz"))
    inter = (
        du.select(F.col("week").alias("week_a"), "user_id")
        .join(du.select(F.col("week").alias("week_b"), "user_id"), "user_id")
        .where(F.col("week_a") < F.col("week_b"))
        .groupBy("week_a", "week_b")
        .agg(F.count("*").alias("exact_intersection"))
    )
    ex = (
        pairs.join(F.broadcast(inter), ["week_a", "week_b"], "left")
        .join(
            F.broadcast(wk_sizes.select(F.col("week").alias("week_a"), F.col("sz").alias("sz_a"))),
            "week_a",
        )
        .join(
            F.broadcast(wk_sizes.select(F.col("week").alias("week_b"), F.col("sz").alias("sz_b"))),
            "week_b",
        )
        .select(
            "week_a",
            "week_b",
            F.coalesce(F.col("exact_intersection"), F.lit(0)).alias(
                "exact_intersection"
            ),
            (F.col("sz_a") + F.col("sz_b")
             - F.coalesce(F.col("exact_intersection"), F.lit(0))).alias(
                "exact_union"
            ),
        )
    )
    return est.join(ex, ["week_a", "week_b"]).select(
        "week_a",
        "week_b",
        "est_union",
        F.round(F.col("jaccard_kmv") * F.col("est_union"), 4).alias(
            "est_intersection"
        ),
        "jaccard_kmv",
        "exact_union",
        "exact_intersection",
    )


# ---------------------------------------------------------------------------
# equi-depth histogram (the other optimizer-statistics primitive)
# ---------------------------------------------------------------------------

_HIST_BUCKETS = 10


@register(
    "dq_value_histogram_equidepth",
    f"""
    SELECT bucket, COUNT(*) AS n_rows,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
    FROM (
      SELECT o_totalprice,
             NTILE({_HIST_BUCKETS}) OVER (
               ORDER BY o_totalprice, o_orderkey
             ) AS bucket
      FROM orders WHERE o_totalprice IS NOT NULL
    )
    GROUP BY 1
    """,
)
def dq_value_histogram_equidepth(spark, sf_dir):
    """Equi-depth histogram of a value column -- the selectivity-
    estimation companion of events_join_size_estimate: bucket
    boundaries that equalize row counts (NTILE with a deterministic
    (value, key) tie-break), then per-bucket count/lo/hi.  Exact
    integer/minmax output, no float drift.  The build is a global
    sort -- the same cost class as the z-order/global-shuffle layout
    writes, run as an occasional statistics pass; the approximate
    swap at 100 TB is percentile_approx boundaries + a map-side
    width_bucket pass (the metric_p90_approx_bound sketch
    discipline)."""
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice").isNotNull())
        .select("o_totalprice", F.ntile(_HIST_BUCKETS).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


# ---------------------------------------------------------------------------
# PSI distribution drift (the tabular twin of embeddings_label_drift)
# ---------------------------------------------------------------------------

_PSI_BUCKETS = 10
_PSI_SPLIT = "1998-01-01"  # reference period < split <= comparison period


@register(
    "dq_orders_psi_drift",
    f"""
    WITH base AS (
      SELECT o_totalprice AS v,
             CASE WHEN o_orderdate < TIMESTAMP '{_PSI_SPLIT}' THEN 'ref'
                  ELSE 'cmp' END AS period
      FROM orders WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    ), bounds AS (
      SELECT MIN(v) AS lo, MAX(v) AS hi FROM base
    ), bucketed AS (
      SELECT period,
             LEAST(CAST(FLOOR((v - b.lo) / ((b.hi - b.lo) / {_PSI_BUCKETS}))
                        AS BIGINT), {_PSI_BUCKETS - 1}) AS bucket
      FROM base, bounds b
    ), counts AS (
      SELECT bucket,
             CAST(SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_ref,
             CAST(SUM(CASE WHEN period = 'cmp' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cmp
      FROM bucketed GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_ref) AS BIGINT) AS t_ref,
             CAST(SUM(n_cmp) AS BIGINT) AS t_cmp FROM counts
    ), shares AS (
      SELECT bucket, n_ref, n_cmp,
             (n_ref + 1.0) / (t.t_ref + {_PSI_BUCKETS}) AS p_ref,
             (n_cmp + 1.0) / (t.t_cmp + {_PSI_BUCKETS}) AS p_cmp
      FROM counts, tot t
    )
    SELECT bucket, n_ref, n_cmp,
           ROUND(p_ref, 6) AS p_ref, ROUND(p_cmp, 6) AS p_cmp,
           ROUND((p_ref - p_cmp) * LN(p_ref / p_cmp), 6) AS psi_term,
           ROUND(SUM((p_ref - p_cmp) * LN(p_ref / p_cmp)) OVER (), 6)
             AS psi_total
    FROM shares
    """,
)
def dq_orders_psi_drift(spark, sf_dir):
    """Population Stability Index between a reference and a comparison
    period of the order-value distribution -- the standard tabular
    drift monitor (PSI < 0.1 stable, > 0.25 shifted), the scalar twin
    of embeddings_label_drift.  Equi-width buckets from the GLOBAL
    min/max (a 1-row broadcast, deterministic in both engines --
    ref-period quantile binning would be the equi-depth variant);
    Laplace-smoothed shares so empty buckets stay finite; the total is
    a window sum over the 10-bucket frame.  One scan builds the
    bucketed counts (conditional aggregates, no per-period re-scan).

    Scan budget: orders 2x -- the global min/max bounds (stats) plus
    the bucketing pass (apply); totals and shares are windows over the
    10-row counts frame, never a re-derived aggregate."""
    base = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice").isNotNull() & F.col("o_orderdate").isNotNull())
        .select(
            F.col("o_totalprice").alias("v"),
            F.when(
                F.col("o_orderdate") < F.lit(_PSI_SPLIT).cast("timestamp"),
                F.lit("ref"),
            )
            .otherwise(F.lit("cmp"))
            .alias("period"),
        )
    )
    bounds = base.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / _PSI_BUCKETS
    bucketed = base.crossJoin(F.broadcast(bounds)).select(
        "period",
        F.least(
            F.floor((F.col("v") - F.col("lo")) / width).cast("bigint"),
            F.lit(_PSI_BUCKETS - 1),
        ).alias("bucket"),
    )
    counts = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("period") == "ref", 1).otherwise(0)).alias("n_ref"),
        F.sum(F.when(F.col("period") == "cmp", 1).otherwise(0)).alias("n_cmp"),
    )
    # Totals as empty-key window sums over the 10-row counts frame (the
    # Q15 anchor idiom) -- a crossJoin with counts.agg(...) would make
    # Catalyst re-derive `counts` and re-scan orders per reference.
    wall = Window.partitionBy()
    shares = counts.select(
        "bucket",
        "n_ref",
        "n_cmp",
        (
            (F.col("n_ref") + F.lit(1.0))
            / (F.sum("n_ref").over(wall) + _PSI_BUCKETS)
        ).alias("p_ref"),
        (
            (F.col("n_cmp") + F.lit(1.0))
            / (F.sum("n_cmp").over(wall) + _PSI_BUCKETS)
        ).alias("p_cmp"),
    )
    term = (F.col("p_ref") - F.col("p_cmp")) * F.log(
        F.col("p_ref") / F.col("p_cmp")
    )
    return shares.select(
        "bucket",
        "n_ref",
        "n_cmp",
        F.round("p_ref", 6).alias("p_ref"),
        F.round("p_cmp", 6).alias("p_cmp"),
        F.round(term, 6).alias("psi_term"),
        F.round(F.sum(term).over(Window.partitionBy()), 6).alias("psi_total"),
    )


# ---------------------------------------------------------------------------
# A/B experiment readout: two-proportion z-test
# ---------------------------------------------------------------------------


@register(
    "events_ab_conversion_ztest",
    f"""
    WITH assigned AS (
      SELECT user_id,
             {_H64_USER} % 2 AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END)
               AS converted
      FROM events WHERE user_id IS NOT NULL
      GROUP BY 1
    ), arms AS (
      SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             CAST(SUM(CASE WHEN variant = 0 THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_a,
             CAST(SUM(CASE WHEN variant = 1 THEN converted ELSE 0 END)
                  AS BIGINT) AS conv_b
      FROM assigned
    ), stats AS (
      SELECT n_a, n_b, conv_a, conv_b,
             CAST(conv_a AS DOUBLE) / n_a AS p_a,
             CAST(conv_b AS DOUBLE) / n_b AS p_b,
             CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b) AS pool
      FROM arms
    )
    SELECT n_a, n_b, conv_a, conv_b,
           ROUND(p_a, 6) AS p_a, ROUND(p_b, 6) AS p_b,
           ROUND((p_a - p_b)
                 / SQRT(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b)), 4)
             AS z_score,
           ABS((p_a - p_b)
               / SQRT(pool * (1 - pool) * (1.0 / n_a + 1.0 / n_b))) > 1.96
             AS significant
    FROM stats
    """,
)
def events_ab_conversion_ztest(spark, sf_dir):
    """A/B experiment readout: users deterministically hash-split into
    two arms (the corpus_train_val_test_split assignment discipline --
    retry-stable, no stored assignment table), per-user conversion
    (any high-value purchase, value > 150 -- chosen so neither arm
    saturates), then the classic two-proportion pooled z-test.
    One partial-aggregated pass builds per-user rows, a second
    conditional aggregate folds both arms in one row -- no per-arm
    re-scan.  sqrt is IEEE-correctly-rounded, so the statistic is
    bit-identical across engines.  Null hypothesis holds by
    construction (both arms sample the same population), so
    `significant` reads FALSE -- the A/A-test sanity every experiment
    platform ships."""
    assigned = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max(
                F.when((F.col("event_type") == "purchase") & (F.col("value") > 150), 1).otherwise(0)
            ).alias("converted")
        )
        .select(
            (hash64(F.col("user_id").cast("string")) % 2).alias("variant"),
            "converted",
        )
    )
    arms = assigned.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(F.col("variant") == 0, F.col("converted")).otherwise(0)).alias(
            "conv_a"
        ),
        F.sum(F.when(F.col("variant") == 1, F.col("converted")).otherwise(0)).alias(
            "conv_b"
        ),
    )
    p_a = F.col("conv_a").cast("double") / F.col("n_a")
    p_b = F.col("conv_b").cast("double") / F.col("n_b")
    pool = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (p_a - p_b) / F.sqrt(
        pool * (1 - pool) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    )
    return arms.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(p_a, 6).alias("p_a"),
        F.round(p_b, 6).alias("p_b"),
        F.round(z, 4).alias("z_score"),
        (F.abs(z) > 1.96).alias("significant"),
    )


# ---------------------------------------------------------------------------
# survival analysis: Kaplan-Meier churn curve with right-censoring
# ---------------------------------------------------------------------------

_KM_INACTIVE_DAYS = 7  # quiet this long before the window end = churned


@register(
    "events_survival_curve",
    f"""
    WITH act AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), span AS (
      SELECT user_id, MIN(day) AS first_day, MAX(day) AS last_day
      FROM act GROUP BY 1
    ), horizon AS (
      SELECT MAX(day) AS t_end FROM act
    ), durs AS (
      SELECT CASE WHEN s.last_day <= h.t_end - {_KM_INACTIVE_DAYS}
                  THEN datediff('day', s.first_day, s.last_day)
                  ELSE datediff('day', s.first_day, h.t_end) END AS dur_days,
             CASE WHEN s.last_day <= h.t_end - {_KM_INACTIVE_DAYS}
                  THEN 1 ELSE 0 END AS churned_flag
      FROM span s, horizon h
    ), by_dur AS (
      SELECT dur_days,
             CAST(SUM(churned_flag) AS BIGINT) AS churned,
             CAST(SUM(1 - churned_flag) AS BIGINT) AS censored
      FROM durs GROUP BY 1
    ), risk AS (
      SELECT dur_days, churned, censored,
             CAST(SUM(churned + censored) OVER (
               ORDER BY dur_days DESC ROWS UNBOUNDED PRECEDING
             ) AS BIGINT) AS n_at_risk
      FROM by_dur
    )
    SELECT dur_days, n_at_risk, churned, censored,
           ROUND(EXP(SUM(LN(1 - CAST(churned AS DOUBLE) / n_at_risk)) OVER (
             ORDER BY dur_days ASC ROWS UNBOUNDED PRECEDING
           )), 6) AS survival
    FROM risk WHERE n_at_risk > churned
    """,
)
def events_survival_curve(spark, sf_dir):
    """Kaplan-Meier survival curve of user lifetime with
    right-censoring -- the churn-analysis staple: a user quiet for the
    last 7 days of the window churned at their last-active
    day, everyone else is censored at the window end (their lifetime
    is only KNOWN to exceed the observed span -- dropping them would
    bias survival down, the censoring mistake KM exists to fix).
    S(t) = prod over event days <= t of (1 - d_i/n_i), computed as
    exp of a cumulative-sum of logs over the DURATION frame (at most
    max-lifetime rows; the user span aggregate before it is one
    partial-aggregated pass over the log).  At-risk counts come from a
    reverse cumulative sum, no self-join.  The terminal
    everyone-churns row (d == n, survival exactly 0) is excluded
    BEFORE the log -- ANSI engines reject ln(0) -- which only that
    row's own output ever used."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
    )
    span = ev.groupBy("user_id").agg(
        F.min("day").alias("first_day"), F.max("day").alias("last_day")
    )
    horizon = ev.agg(F.max("day").alias("t_end"))
    churned = F.col("last_day") <= F.date_sub(
        F.col("t_end"), _KM_INACTIVE_DAYS
    )
    durs = span.crossJoin(F.broadcast(horizon)).select(
        F.when(
            churned, F.datediff(F.col("last_day"), F.col("first_day"))
        )
        .otherwise(F.datediff(F.col("t_end"), F.col("first_day")))
        .alias("dur_days"),
        F.when(churned, F.lit(1)).otherwise(F.lit(0)).alias("churned_flag"),
    )
    by_dur = durs.groupBy("dur_days").agg(
        F.sum("churned_flag").alias("churned"),
        F.sum(F.lit(1) - F.col("churned_flag")).alias("censored"),
    )
    w_desc = Window.orderBy(F.col("dur_days").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = by_dur.select(
        "dur_days",
        "churned",
        "censored",
        F.sum(F.col("churned") + F.col("censored")).over(w_desc).alias(
            "n_at_risk"
        ),
    ).where(F.col("n_at_risk") > F.col("churned"))
    w_asc = Window.orderBy("dur_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    return risk.select(
        "dur_days",
        "n_at_risk",
        "churned",
        "censored",
        F.round(
            F.exp(
                F.sum(
                    F.log(
                        F.lit(1.0)
                        - F.col("churned").cast("double") / F.col("n_at_risk")
                    )
                ).over(w_asc)
            ),
            6,
        ).alias("survival"),
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout keys (better-locality sibling of events_zorder_layout)
# ---------------------------------------------------------------------------

_H_BITS = 8
_H_SHARDS = 64


def _hilbert_oracle() -> str:
    from .operators.layout import render_hilbert_sql

    top = (1 << _H_BITS) - 1
    shift = 2 * _H_BITS - (_H_SHARDS.bit_length() - 1)
    inner = f"""
      SELECT event_id,
             ((user_id - amn) * {top}) // GREATEST(amx - amn, 1) AS hx,
             ((us - bmn) * {top}) // GREATEST(bmx - bmn, 1) AS hy
      FROM (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
            WHERE user_id IS NOT NULL AND ts IS NOT NULL),
           (SELECT MIN(user_id) AS amn, MAX(user_id) AS amx,
                   MIN(epoch_us(ts)) AS bmn, MAX(epoch_us(ts)) AS bmx
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL)
    """
    walked = render_hilbert_sql(inner, _H_BITS, "event_id")
    return f"""
    SELECT event_id, hd AS hkey, hd >> {shift} AS shard
    FROM ({walked})
    """


@register("events_hilbert_layout", _hilbert_oracle())
def events_hilbert_layout(spark, sf_dir):
    """Hilbert-curve layout keys over (user_id, event time) -- the
    better-locality sibling of events_zorder_layout: consecutive keys
    always sit in ADJACENT grid cells (unit Manhattan steps,
    test-pinned on the full grid), so file boundaries cut tighter
    rectangles and min/max pruning admits less -- the reason liquid
    clustering moved past Morton.  The staged xy2d recurrence runs as
    `bits` named projections in BOTH dialects (inlining would grow the
    expression tree 4^bits); key computation is map-side off a 1-row
    broadcast bounds frame."""
    from .operators.layout import hilbert_key

    e = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_id",
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
    )
    return hilbert_key(
        e, "event_id", "user_id", "us", bits=_H_BITS, shards=_H_SHARDS
    )


# ---------------------------------------------------------------------------
# information-theoretic feature scoring + feature correlation matrix
# ---------------------------------------------------------------------------


@register(
    "events_feature_mutual_info",
    """
    WITH base AS (
      SELECT event_type, CASE WHEN value > 150 THEN 1 ELSE 0 END AS hv
      FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
    ), joint AS (
      SELECT event_type, hv, COUNT(*) AS n_xy FROM base GROUP BY 1, 2
    ), mx AS (
      SELECT event_type, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM joint GROUP BY 1
    ), my AS (
      SELECT hv, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM joint GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM joint
    ), terms AS (
      SELECT j.event_type, j.hv, j.n_xy, mx.n_x, my.n_y,
             (CAST(j.n_xy AS DOUBLE) / t.n)
               * LN(CAST(t.n AS DOUBLE) * j.n_xy
                    / (CAST(mx.n_x AS DOUBLE) * my.n_y)) AS term
      FROM joint j
      JOIN mx USING (event_type) JOIN my USING (hv), tot t
    )
    SELECT event_type, hv, n_xy, n_x, n_y,
           ROUND(term, 6) AS mi_term,
           ROUND(SUM(term) OVER (), 6) AS mi_total
    FROM terms
    """,
)
def events_feature_mutual_info(spark, sf_dir):
    """Mutual information between a categorical feature (event_type)
    and the high-value label -- the feature-selection primitive: one
    partial-aggregated joint-count pass, marginals re-aggregated from
    the tiny joint frame (never a second scan), MI as the plug-in
    estimator Sum p(x,y) ln(p(x,y)/(p(x)p(y))).  Zero cells
    contribute nothing and never reach the log.  Counts are integers
    end to end; only the final terms round."""
    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.when(F.col("value") > 150, 1).otherwise(0).alias("hv"),
        )
    )
    joint = base.groupBy("event_type", "hv").agg(F.count("*").alias("n_xy"))
    # marginals and the total as WINDOWS over the tiny joint frame (the
    # Q15 anchor idiom): re-aggregating through joins re-derives `joint`
    # per reference and rescans events 4x (caught by the plan lock)
    terms = joint.select(
        "event_type",
        "hv",
        "n_xy",
        F.sum("n_xy").over(Window.partitionBy("event_type")).alias("n_x"),
        F.sum("n_xy").over(Window.partitionBy("hv")).alias("n_y"),
        F.sum("n_xy").over(Window.partitionBy()).alias("n"),
    )
    term = (F.col("n_xy").cast("double") / F.col("n")) * F.log(
        F.col("n").cast("double")
        * F.col("n_xy")
        / (F.col("n_x").cast("double") * F.col("n_y"))
    )
    terms = terms.select(
        "event_type", "hv", "n_xy", "n_x", "n_y", term.alias("term")
    )
    return terms.select(
        "event_type",
        "hv",
        "n_xy",
        "n_x",
        "n_y",
        F.round("term", 6).alias("mi_term"),
        F.round(F.sum("term").over(Window.partitionBy()), 6).alias("mi_total"),
    )


@register(
    "events_feature_correlations",
    """
    WITH feat AS (
      SELECT user_id, CAST(COUNT(*) AS DOUBLE) AS a,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS b,
             CAST(COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE))
                  AS DOUBLE) AS c
      FROM events
      WHERE user_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
      GROUP BY 1
    ), s AS (
      SELECT COUNT(*) AS n,
             SUM(a) AS sa, SUM(b) AS sb, SUM(c) AS sc,
             SUM(a*a) AS saa, SUM(b*b) AS sbb, SUM(c*c) AS scc,
             SUM(a*b) AS sab, SUM(a*c) AS sac, SUM(b*c) AS sbc
      FROM feat
    )
    SELECT n AS n_users,
           ROUND((n*sab - sa*sb)
                 / SQRT((n*saa - sa*sa) * (n*sbb - sb*sb)), 6)
             AS corr_events_value,
           ROUND((n*sac - sa*sc)
                 / SQRT((n*saa - sa*sa) * (n*scc - sc*sc)), 6)
             AS corr_events_days,
           ROUND((n*sbc - sb*sc)
                 / SQRT((n*sbb - sb*sb) * (n*scc - sc*sc)), 6)
             AS corr_value_days
    FROM s
    """,
)
def events_feature_correlations(spark, sf_dir):
    """Pairwise Pearson correlation matrix over the per-entity feature
    frame (event count, total value, active days) -- the
    multicollinearity pre-flight before model fitting, by the same
    sufficient-statistics discipline as the OLS query: ONE aggregate
    collects the ten sums, every pairwise correlation is O(1)
    arithmetic on them.  Feature b sums DECIMAL so both engines
    correlate bit-identical inputs; a and c are integer-valued."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
        & F.col("ts").isNotNull()
    )
    feat = ev.groupBy("user_id").agg(
        F.count("*").cast("double").alias("a"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("b"),
        F.countDistinct(F.date_trunc("day", "ts").cast("date"))
        .cast("double")
        .alias("c"),
    )
    s = feat.agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"),
        F.sum("b").alias("sb"),
        F.sum("c").alias("sc"),
        F.sum(F.col("a") * F.col("a")).alias("saa"),
        F.sum(F.col("b") * F.col("b")).alias("sbb"),
        F.sum(F.col("c") * F.col("c")).alias("scc"),
        F.sum(F.col("a") * F.col("b")).alias("sab"),
        F.sum(F.col("a") * F.col("c")).alias("sac"),
        F.sum(F.col("b") * F.col("c")).alias("sbc"),
    )

    def corr(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        return F.round(
            (n * F.col(sxy) - F.col(sx) * F.col(sy))
            / F.sqrt(
                (n * F.col(sxx) - F.col(sx) * F.col(sx))
                * (n * F.col(syy) - F.col(sy) * F.col(sy))
            ),
            6,
        )

    return s.select(
        F.col("n").alias("n_users"),
        corr("sab", "sa", "sb", "saa", "sbb").alias("corr_events_value"),
        corr("sac", "sa", "sc", "saa", "scc").alias("corr_events_days"),
        corr("sbc", "sb", "sc", "sbb", "scc").alias("corr_value_days"),
    )


# ---------------------------------------------------------------------------
# golden-record assembly (field-level survivorship)
# ---------------------------------------------------------------------------


@register(
    "events_golden_record",
    """
    WITH e AS (
      SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), span AS (
      SELECT user_id, MIN(ts) AS first_seen, MAX(ts) AS last_seen,
             COUNT(*) AS n_records
      FROM e GROUP BY 1
    ), lv AS (
      SELECT user_id, value AS latest_value FROM (
        SELECT user_id, value,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM e WHERE value IS NOT NULL
      ) WHERE rn = 1
    ), lt AS (
      SELECT user_id, event_type AS latest_type FROM (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (
                 PARTITION BY user_id ORDER BY ts DESC, event_id DESC
               ) AS rn
        FROM e WHERE event_type IS NOT NULL
      ) WHERE rn = 1
    )
    SELECT s.user_id, s.first_seen, s.last_seen, s.n_records,
           lv.latest_value, lt.latest_type
    FROM span s
    LEFT JOIN lv USING (user_id)
    LEFT JOIN lt USING (user_id)
    """,
)
def events_golden_record(spark, sf_dir):
    """Golden-record assembly (MDM survivorship): per entity, each
    FIELD independently keeps its latest NON-NULL observation -- the
    field-level refinement of the whole-row-wins changelog snapshot
    (a record with a fresher timestamp but a NULL field must not blank
    the golden value).  ONE partial-aggregated pass: per-field
    `max_by ... FILTER (WHERE field IS NOT NULL)` aggregates combine
    map-side, where the window formulation (kept as the oracle) would
    need one sorted pass PER FIELD.  NULL-ts records are positionless
    and excluded, as in snapshot_at."""
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    return e.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.count("*").alias("n_records"),
        F.expr(
            "max_by(value, struct(ts, event_id)) "
            "FILTER (WHERE value IS NOT NULL)"
        ).alias("latest_value"),
        F.expr(
            "max_by(event_type, struct(ts, event_id)) "
            "FILTER (WHERE event_type IS NOT NULL)"
        ).alias("latest_type"),
    )
