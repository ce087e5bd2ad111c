"""Changelog snapshot / KMV sketch / ML-prep operator semantics
(queries_temporal.py family).

Operator-level pins on synthetic frames -- the driver queries cover the
oracle differentials; these pin the SEMANTICS edge cases: tombstone
resolution, co-timestamped tie-breaks, the KMV
merge law on adversarial splits, and negative-sampling invariants.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark.operators.sketches import (
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
)
from dbt_metrics_ingestion_script_spark.operators.temporal import snapshot_at


def _ts(day: int, sec: int = 0) -> datetime.datetime:
    return datetime.datetime(2024, 1, day, 0, 0, sec)


def _log(spark):
    rows = [
        # key 1: upsert then tombstone then re-upsert
        (1, _ts(1), 1, "set", 10.0),
        (2, _ts(2), 1, "del", None),
        (3, _ts(3), 1, "set", 30.0),
        # key 2: latest is a tombstone -> absent
        (4, _ts(1), 2, "set", 5.0),
        (5, _ts(4), 2, "del", None),
        # key 3: co-timestamped records -> higher seq wins
        (6, _ts(2), 3, "set", 1.0),
        (7, _ts(2), 3, "set", 2.0),
        # key 4: NULL ts ignored entirely
        (8, None, 4, "set", 9.0),
    ]
    return spark.createDataFrame(
        rows, "seq bigint, ts timestamp, k bigint, op string, v double"
    )


def _snap(spark, as_of):
    return snapshot_at(
        _log(spark),
        key_col="k",
        ts_col="ts",
        seq_col="seq",
        op_col="op",
        delete_op="del",
        value_cols=["v"],
        as_of=as_of,
    )


def test_snapshot_tombstone_and_tiebreak(spark):
    got = {
        r["k"]: (r["v"], r["state_seq"])
        for r in _snap(spark, "2024-01-05 00:00:00").collect()
    }
    # key 1 re-upserted after its tombstone; key 2 ends tombstoned;
    # key 3 resolves the ts tie by seq; key 4 never has a position
    assert got == {1: (30.0, 3), 3: (2.0, 7)}


def test_snapshot_as_of_is_inclusive_and_historical(spark):
    # at T=day2 exactly, key 1's tombstone (ts == as_of) applies,
    # while key 2's later tombstone (day 4) has not happened yet
    got = {r["k"]: r["v"] for r in _snap(spark, "2024-01-02 00:00:00").collect()}
    assert got == {2: 5.0, 3: 2.0}
    # before any record: empty state
    assert _snap(spark, "2023-12-31 00:00:00").count() == 0


def test_kmv_merge_law_on_adversarial_split(spark):
    # keys arranged so every part's sketch differs from the union's:
    # the merged sketch must still equal the direct union sketch EXACTLY
    rows = [(g, i) for g in ("a", "b", "c") for i in range(40)]
    df = spark.createDataFrame(rows, "g string, x bigint").withColumn(
        "all", F.lit("u")
    )
    k = 16
    parts = kmv_sketch(df, "x", ["g"], k).withColumn("all", F.lit("u"))
    merged = kmv_merge(parts, ["g"], ["all"], k)
    direct = kmv_sketch(df, "x", ["all"], k)
    assert sorted(r["h"] for r in merged.collect()) == sorted(
        r["h"] for r in direct.collect()
    )
    em = kmv_estimate(merged, ["all"], k).collect()[0]["est_distinct"]
    ed = kmv_estimate(direct, ["all"], k).collect()[0]["est_distinct"]
    assert em == ed


def test_kmv_small_group_is_exact(spark):
    df = spark.createDataFrame(
        [("a", i) for i in range(5)], "g string, x bigint"
    )
    sk = kmv_sketch(df, "x", ["g"], k=16)
    assert sk.count() == 5  # sketch IS the set when |set| < k
    est = kmv_estimate(sk, ["g"], 16).collect()[0]["est_distinct"]
    assert est == 5.0


def test_kmv_estimate_within_standard_error(spark):
    # k=64 -> relative standard error ~ 1/sqrt(k-2) ~ 12.7%; assert a
    # generous 4-sigma envelope on a 500-distinct set
    df = spark.createDataFrame(
        [("u", i) for i in range(500)], "g string, x bigint"
    )
    k = 64
    est = kmv_estimate(kmv_sketch(df, "x", ["g"], k), ["g"], k).collect()[0][
        "est_distinct"
    ]
    assert abs(est - 500) / 500 < 0.51


def test_negative_samples_invariants(spark, sf_dir):
    from dbt_metrics_ingestion_script_spark.queries_temporal import (
        _NEG_K,
        corpus_negative_samples,
    )
    from dbt_metrics_ingestion_script_spark.sources.tables import load_table

    out = corpus_negative_samples(spark, sf_dir).collect()
    docs = {
        r["doc_id"]: r["source"]
        for r in load_table(spark, sf_dir, "documents").collect()
    }
    assert out, "sampling produced no pairs"
    for r in out:
        assert r["negative_id"] != r["anchor_id"]
        assert docs[r["negative_id"]] != docs[r["anchor_id"]]
        assert 1 <= r["j"] <= _NEG_K
    # deterministic: a second run produces the identical pair set
    again = corpus_negative_samples(spark, sf_dir).collect()
    key = lambda r: (r["anchor_id"], r["j"], r["negative_id"])  # noqa: E731
    assert sorted(map(key, out)) == sorted(map(key, again))


def test_join_size_estimate_scales_sample_correctly(spark, sf_dir):
    from dbt_metrics_ingestion_script_spark.queries_temporal import (
        events_join_size_estimate,
    )

    r = events_join_size_estimate(spark, sf_dir).collect()[0]
    assert r["est_rows"] % 8 == 0  # est is 8x an integer sample count
    assert r["exact_rows"] > 0
    assert r["rel_err"] == pytest.approx(
        abs(r["est_rows"] - r["exact_rows"]) / r["exact_rows"], abs=1e-6
    )


def test_pagerank_uniform_on_cycle(spark):
    from dbt_metrics_ingestion_script_spark.operators.graph import pagerank

    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src bigint, dst bigint"
    )
    got = {r["node"]: r["pagerank"] for r in pagerank(cyc).collect()}
    # a cycle is rank-symmetric: everyone stays at exactly 1/3
    assert got == {1: pytest.approx(1 / 3), 2: pytest.approx(1 / 3),
                   3: pytest.approx(1 / 3)}


def test_pagerank_conserves_mass_with_dangling(spark):
    from dbt_metrics_ingestion_script_spark.operators.graph import pagerank

    # node 3 is dangling (no out-edges): its mass redistributes, total
    # rank must stay 1 (up to the per-round 9-dp rounding)
    g = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3)], "src bigint, dst bigint"
    )
    ranks = pagerank(g).collect()
    assert sum(r["pagerank"] for r in ranks) == pytest.approx(1.0, abs=1e-7)
    got = {r["node"]: r["pagerank"] for r in ranks}
    # 3 receives from both 1 and 2: strictly the most central
    assert got[3] > got[2] > got[1]


def test_pagerank_star_center_dominates(spark):
    from dbt_metrics_ingestion_script_spark.operators.graph import pagerank

    star = spark.createDataFrame(
        [(s, 0) for s in range(1, 6)] + [(0, 1)], "src bigint, dst bigint"
    )
    got = {r["node"]: r["pagerank"] for r in pagerank(star).collect()}
    assert got[0] == max(got.values())
    assert got[0] > 0.4


def test_kmv_overlap_identical_and_disjoint(spark):
    from dbt_metrics_ingestion_script_spark.operators.sketches import kmv_sketch

    rows = [("a", i) for i in range(200)] + [("b", i) for i in range(200)] + [
        ("c", i + 1000) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "g string, x bigint")
    sk = kmv_sketch(df, "x", ["g"], 32).collect()
    by_g = {}
    for r in sk:
        by_g.setdefault(r["g"], set()).add(r["h"])
    # identical sets -> identical sketches -> jaccard estimator = 1
    assert by_g["a"] == by_g["b"]
    # disjoint sets -> combined k-min sample shares nothing
    assert not (by_g["a"] & by_g["c"])


def test_equidepth_buckets_balanced_and_ordered(spark, sf_dir):
    from dbt_metrics_ingestion_script_spark.queries_temporal import (
        _HIST_BUCKETS,
        dq_value_histogram_equidepth,
    )

    rows = sorted(
        dq_value_histogram_equidepth(spark, sf_dir).collect(),
        key=lambda r: r["bucket"],
    )
    assert [r["bucket"] for r in rows] == list(range(1, _HIST_BUCKETS + 1))
    counts = [r["n_rows"] for r in rows]
    assert max(counts) - min(counts) <= 1  # equi-depth
    for prev, cur in zip(rows, rows[1:]):
        assert prev["hi"] <= cur["lo"]  # non-overlapping value ranges


def test_psi_drift_totals_and_smoothing(spark, sf_dir):
    from dbt_metrics_ingestion_script_spark.queries_temporal import (
        _PSI_BUCKETS,
        dq_orders_psi_drift,
    )

    rows = dq_orders_psi_drift(spark, sf_dir).collect()
    assert len(rows) <= _PSI_BUCKETS
    totals = {r["psi_total"] for r in rows}
    assert len(totals) == 1  # one scalar, repeated per bucket row
    assert totals.pop() >= 0.0  # PSI is a symmetrized KL: non-negative
    for r in rows:
        assert r["p_ref"] > 0 and r["p_cmp"] > 0  # Laplace-smoothed


def test_ab_ztest_consistency(spark, sf_dir):
    from dbt_metrics_ingestion_script_spark.queries_temporal import (
        events_ab_conversion_ztest,
    )

    r = events_ab_conversion_ztest(spark, sf_dir).collect()[0]
    assert r["n_a"] > 0 and r["n_b"] > 0
    assert 0 < r["conv_a"] < r["n_a"]  # the arm is not saturated
    assert r["significant"] == (abs(r["z_score"]) > 1.96)


def test_survival_curve_monotone_and_bounded(spark, sf_dir):
    from dbt_metrics_ingestion_script_spark.queries_temporal import (
        events_survival_curve,
    )

    rows = sorted(
        events_survival_curve(spark, sf_dir).collect(),
        key=lambda r: r["dur_days"],
    )
    assert rows
    surv = [r["survival"] for r in rows]
    assert all(0 <= s <= 1 for s in surv)
    assert all(a >= b for a, b in zip(surv, surv[1:]))  # non-increasing
    # at-risk counts shrink as duration grows
    risk = [r["n_at_risk"] for r in rows]
    assert all(a >= b for a, b in zip(risk, risk[1:]))
    # survival only drops where churn happened
    for prev, cur in zip(rows, rows[1:]):
        if cur["churned"] == 0:
            assert cur["survival"] == pytest.approx(prev["survival"], abs=1e-6)


def _xy2d_py(n, x, y):
    # canonical public-domain Hilbert xy->d walk, independent reference
    rx = ry = 0
    d = 0
    s = n // 2
    while s > 0:
        rx = 1 if (x & s) > 0 else 0
        ry = 1 if (y & s) > 0 else 0
        d += s * s * ((3 * rx) ^ ry)
        if ry == 0:
            if rx == 1:
                x = n - 1 - x
                y = n - 1 - y
            x, y = y, x
        s //= 2
    return d


def test_hilbert_walk_matches_reference_and_is_a_curve(spark):
    from dbt_metrics_ingestion_script_spark.operators.layout import (
        hilbert_stages,
    )

    bits, n = 4, 16
    grid = spark.createDataFrame(
        [(x * n + y, x, y) for x in range(n) for y in range(n)],
        "cell bigint, __hx bigint, __hy bigint",
    )
    got = {
        r["cell"]: r["__hd"]
        for r in hilbert_stages(grid, bits, ["cell"]).collect()
    }
    # exact match with the independent Python reference on every cell
    for x in range(n):
        for y in range(n):
            assert got[x * n + y] == _xy2d_py(n, x, y), (x, y)
    # a space-filling curve: d is a bijection onto [0, n^2) ...
    assert sorted(got.values()) == list(range(n * n))
    # ... and consecutive keys are ALWAYS in adjacent cells (the
    # locality Morton lacks): unit Manhattan step everywhere
    by_d = {d: divmod(cell, n) for cell, d in got.items()}
    for d in range(n * n - 1):
        (x1, y1), (x2, y2) = by_d[d], by_d[d + 1]
        assert abs(x1 - x2) + abs(y1 - y2) == 1


def test_mutual_info_nonnegative_and_consistent(spark, sf_dir):
    from dbt_metrics_ingestion_script_spark.queries_temporal import (
        events_feature_mutual_info,
    )

    rows = events_feature_mutual_info(spark, sf_dir).collect()
    totals = {r["mi_total"] for r in rows}
    assert len(totals) == 1
    assert totals.pop() >= 0.0  # MI is a KL divergence: non-negative
    # marginals re-aggregate from the joint: per-x sums agree
    for r in rows:
        same_x = sum(q["n_xy"] for q in rows if q["event_type"] == r["event_type"])
        assert same_x == r["n_x"]


def test_feature_correlations_bounded_and_sane(spark, sf_dir):
    from dbt_metrics_ingestion_script_spark.queries_temporal import (
        events_feature_correlations,
    )

    r = events_feature_correlations(spark, sf_dir).collect()[0]
    for c in ("corr_events_value", "corr_events_days", "corr_value_days"):
        assert -1.0 <= r[c] <= 1.0
    # more events mechanically means more total value (a near-linear
    # relation) and at least directionally more active days (weaker at
    # tiny SF where day counts saturate)
    assert r["corr_events_value"] > 0.5
    assert r["corr_events_days"] > 0.0


def test_golden_record_null_field_does_not_blank_value(spark):
    from dbt_metrics_ingestion_script_spark.queries_temporal import (
        events_golden_record,
    )
    import os
    import tempfile

    rows = [
        (1, _ts(1), 7, "set", 10.0, None),
        # fresher record with NULL value: must NOT blank latest_value,
        # but MUST win latest_type
        (2, _ts(2), 7, "ping", None, None),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    )
    d = tempfile.mkdtemp(prefix="golden_")
    try:
        df.coalesce(1).write.parquet(os.path.join(d, "events.parquet"))
        r = events_golden_record(spark, d).collect()[0]
        assert r["latest_value"] == 10.0  # survived the NULL overwrite
        assert r["latest_type"] == "ping"  # freshest non-null field wins
        assert r["n_records"] == 2
    finally:
        import shutil

        shutil.rmtree(d, ignore_errors=True)
