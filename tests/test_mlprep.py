"""ML-prep family semantics (queries_mlprep.py).

The driver queries cover the oracle differentials; these pin the
edge-case SEMANTICS: target-encoding leakage exclusion, RFM bucket
boundary behavior, PII pattern hits on crafted strings, MAD outlier
fences on a constructed distribution, kappa bounds and its
perfect-agreement limit, hashing-trick determinism, and the
lift >= confidence >= support ordering laws.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark import queries as _q
from dbt_metrics_ingestion_script_spark.queries_mlprep import (
    _MAD_K,
    _MAD_SIGMA,
    _PII_PATTERNS,
    _TE_FOLDS,
    _TE_SMOOTH,
    dq_mad_outliers,
    events_feature_hashing_profile,
    events_target_encoding_oof,
    metric_part_affinity_lift,
    metric_rfm_segments,
    text_classifier_agreement_kappa,
    text_pii_pattern_counts,
)

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# out-of-fold target encoding
# ---------------------------------------------------------------------------


def test_target_encoding_excludes_own_fold(spark):
    """The encoding for (category, fold) must equal the smoothed mean
    computed WITHOUT that fold's rows -- recomputed independently in
    pandas from the raw events."""
    rows = (
        events_target_encoding_oof(spark, SF)
        .orderBy("event_type", "fold")
        .collect()
    )
    assert rows, "encoding map must be non-empty"

    import pandas as pd

    pdf = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            (
                F.conv(
                    F.substring(F.md5(F.col("event_id").cast("string")), 1, 15),
                    16,
                    10,
                ).cast("bigint")
                % _TE_FOLDS
            ).alias("fold"),
            "value",
        )
        .toPandas()
    )
    mu = pdf["value"].sum() / len(pdf)
    for r in rows[:25]:
        rest = pdf[
            (pdf["event_type"] == r["event_type"]) & (pdf["fold"] != r["fold"])
        ]
        expected = (rest["value"].sum() + _TE_SMOOTH * mu) / (
            len(rest) + _TE_SMOOTH
        )
        assert r["oof_encoding"] == pytest.approx(expected, abs=2e-6)


def test_target_encoding_all_folds_present(spark):
    df = events_target_encoding_oof(spark, SF)
    per_cat = (
        df.groupBy("event_type").agg(F.countDistinct("fold").alias("k")).collect()
    )
    # every category with rows in all folds yields _TE_FOLDS map rows
    assert max(r["k"] for r in per_cat) == _TE_FOLDS


# ---------------------------------------------------------------------------
# RFM segmentation
# ---------------------------------------------------------------------------


def test_rfm_bins_cover_customers_and_range(spark):
    seg = metric_rfm_segments(spark, SF).collect()
    n_customers = sum(r["n_customers"] for r in seg)
    expected = (
        spark.read.parquet(f"{SF}/orders.parquet")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert n_customers == expected
    for r in seg:
        for c in ("r_bin", "f_bin", "m_bin"):
            assert 1 <= r[c] <= 5


def test_rfm_quintiles_roughly_balanced(spark):
    """Monetary quintiles split on a continuous metric: each bin gets
    ~20% of customers (exact up to interpolation ties)."""
    seg = metric_rfm_segments(spark, SF).collect()
    total = sum(r["n_customers"] for r in seg)
    by_m = {}
    for r in seg:
        by_m[r["m_bin"]] = by_m.get(r["m_bin"], 0) + r["n_customers"]
    assert set(by_m) == {1, 2, 3, 4, 5}
    for b, n in by_m.items():
        assert abs(n / total - 0.2) < 0.02, (b, n, total)


# ---------------------------------------------------------------------------
# PII pattern scan
# ---------------------------------------------------------------------------


def test_pii_patterns_hit_crafted_strings(spark):
    crafted = spark.createDataFrame(
        [
            (1, "mail me at a.b+c@example.co.uk or x@y.io", "s", 1),
            (2, "call 555-867-5309 or 555.867.5309", "s", 1),
            (3, "host 192.168.0.1 peer 10.0.0.255", "s", 1),
            (4, "ssn 123-45-6789", "s", 1),
            (5, "clean text with no identifiers at all", "s", 1),
        ],
        "doc_id long, text string, source string, n_chars long",
    )
    counts = {
        name: crafted.select(
            F.sum(F.regexp_count(F.col("text"), F.lit(pat))).alias("n")
        ).first()["n"]
        for name, pat in _PII_PATTERNS.items()
    }
    assert counts["emails"] == 2
    assert counts["phones"] == 2
    assert counts["ipv4s"] == 2
    # the SSN pattern also matches inside phone text (xxx-xx-like? no:
    # 3-2-4 grouping differs from 3-3-4), crafted row 4 only
    assert counts["ssns"] == 1


def test_pii_scan_schema_and_fraction_bounds(spark):
    rows = text_pii_pattern_counts(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["pii_doc_fraction"] <= 1.0
        assert r["n_docs_with_pii"] <= r["n_docs"]


# ---------------------------------------------------------------------------
# MAD outliers
# ---------------------------------------------------------------------------


def test_mad_flags_constructed_outliers(spark):
    """99 values in [100, 102] plus one at 10_000: exactly one point
    beyond the 3-sigma-equivalent MAD fence."""
    vals = [(float(100 + (i % 3)), "P") for i in range(99)] + [(10_000.0, "P")]
    df = spark.createDataFrame(vals, "o_totalprice double, o_orderpriority string")
    med = df.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    j = df.join(med, "o_orderpriority")
    mad = j.groupBy("o_orderpriority").agg(
        F.expr("percentile(ABS(o_totalprice - med), 0.5)").alias("mad")
    )
    r = (
        j.join(mad, "o_orderpriority")
        .agg(
            F.sum(
                (
                    F.abs(F.col("o_totalprice") - F.col("med"))
                    > F.lit(_MAD_K * _MAD_SIGMA) * F.col("mad")
                ).cast("bigint")
            ).alias("n")
        )
        .first()
    )
    assert r["n"] == 1


def test_mad_outliers_bounded_by_group_size(spark):
    rows = dq_mad_outliers(spark, SF).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_outliers"] <= r["n_orders"]
        assert r["mad_price"] >= 0.0


# ---------------------------------------------------------------------------
# Cohen's kappa
# ---------------------------------------------------------------------------


def test_kappa_bounds_and_cells(spark):
    r = text_classifier_agreement_kappa(spark, SF).first()
    assert r["n"] == r["n11"] + r["n10"] + r["n01"] + r["n00"]
    assert -1.0 <= r["kappa"] <= 1.0
    assert 0.0 <= r["p_observed"] <= 1.0
    assert 0.0 <= r["p_expected"] <= 1.0


def test_kappa_perfect_agreement_is_one():
    """Closed-form check of the kappa arithmetic on a constructed
    2x2 table with full agreement but both classes present."""
    n11, n10, n01, n00 = 40, 0, 0, 60
    n = n11 + n10 + n01 + n00
    p_o = (n11 + n00) / n
    p_e = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) / (n * n)
    kappa = (p_o - p_e) / (1 - p_e)
    assert kappa == pytest.approx(1.0)


# ---------------------------------------------------------------------------
# hashing-trick profile
# ---------------------------------------------------------------------------


def test_feature_hashing_partitions_vocabulary(spark):
    rows = events_feature_hashing_profile(spark, SF).collect()
    vocab = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(F.col("event_type").isNotNull())
        .select("event_type")
        .distinct()
        .count()
    )
    assert sum(r["n_types"] for r in rows) == vocab  # buckets partition it
    assert all(0 <= r["bucket"] < 16 for r in rows)


# ---------------------------------------------------------------------------
# basket lift
# ---------------------------------------------------------------------------


def test_basket_lift_laws(spark):
    rows = metric_part_affinity_lift(spark, SF).collect()
    assert rows, "sf0.001 baskets must produce at least one frequent pair"
    for r in rows:
        # support <= confidence (confidence divides by a smaller count)
        assert r["support"] <= r["confidence"] + 1e-9
        assert r["pair_orders"] >= 1
        assert r["part_a"] < r["part_b"]
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_basket_pair_counts_match_bruteforce(spark):
    """Pair supports for the returned pairs must equal a brute-force
    pandas co-occurrence count on the raw lineitem."""
    rows = metric_part_affinity_lift(spark, SF).collect()
    li = (
        spark.read.parquet(f"{SF}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .toPandas()
    )
    by_order = li.groupby("l_orderkey")["l_partkey"].apply(set)
    for r in rows[:10]:
        n = sum(
            1
            for parts in by_order
            if r["part_a"] in parts and r["part_b"] in parts
        )
        assert n == r["pair_orders"]


# ---------------------------------------------------------------------------
# hybrid RRF retrieval
# ---------------------------------------------------------------------------


def test_hybrid_rrf_fuses_both_lists(spark):
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        _RRF_C,
        _RRF_K,
        similarity_hybrid_rrf_topk,
    )

    rows = similarity_hybrid_rrf_topk(spark, SF).collect()
    assert 0 < len(rows) <= _RRF_K
    for r in rows:
        assert r["lex_rank"] is not None or r["sem_rank"] is not None
        expected = 0.0
        if r["lex_rank"] is not None:
            expected += 1.0 / (_RRF_C + r["lex_rank"])
        if r["sem_rank"] is not None:
            expected += 1.0 / (_RRF_C + r["sem_rank"])
        assert r["rrf_score"] == pytest.approx(expected, abs=1e-6)
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_hybrid_rrf_two_list_doc_beats_equal_single(spark):
    """A doc present in BOTH candidate lists at rank r must outscore a
    doc present in only one list at the same rank r (the fusion law)."""
    from dbt_metrics_ingestion_script_spark.queries_mlprep import _RRF_C

    both = 1.0 / (_RRF_C + 5) + 1.0 / (_RRF_C + 5)
    single = 1.0 / (_RRF_C + 5)
    assert both > single


# ---------------------------------------------------------------------------
# completeness profile
# ---------------------------------------------------------------------------


def test_completeness_profile_matches_direct_counts(spark):
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        dq_completeness_profile,
    )

    rows = {r["column_name"]: r for r in dq_completeness_profile(spark, SF).collect()}
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    n = orders.count()
    assert set(rows) == {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
    }
    for r in rows.values():
        assert r["n_rows"] == n
        assert 0 <= r["n_nulls"] <= n
        assert 1 <= r["n_distinct"] <= n
    ok = rows["o_orderkey"]
    assert ok["n_distinct"] == n  # primary key
    assert rows["o_orderstatus"]["min_num"] is None  # VARCHAR has no range


# ---------------------------------------------------------------------------
# referential integrity
# ---------------------------------------------------------------------------


def test_referential_integrity_clean_on_tpch(spark):
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        dq_referential_integrity,
    )

    rows = {r["fk"]: r for r in dq_referential_integrity(spark, SF).collect()}
    assert set(rows) == {"lineitem->orders", "orders->customer"}
    # TPC-H generators emit referentially-intact data
    assert rows["lineitem->orders"]["n_orphans"] == 0
    assert rows["orders->customer"]["n_orphans"] == 0
    li_n = spark.read.parquet(f"{SF}/lineitem.parquet").count()
    assert rows["lineitem->orders"]["n_children"] == li_n


def test_referential_integrity_detects_orphans(spark):
    """Constructed orphan: a child keyed outside the parent set."""
    child = spark.createDataFrame([(1,), (2,), (99,)], "k long")
    parent = spark.createDataFrame([(1,), (2,)], "k long")
    j = child.join(parent.withColumnRenamed("k", "pk"), child.k == F.col("pk"), "left")
    n = j.agg(F.sum(F.col("pk").isNull().cast("bigint")).alias("n")).first()["n"]
    assert n == 1


# ---------------------------------------------------------------------------
# sequence trigrams
# ---------------------------------------------------------------------------


def test_trigrams_on_constructed_sequence(spark):
    """One user, events A B C D in order -> trigrams ABC, BCD only."""
    import datetime

    from dbt_metrics_ingestion_script_spark.queries_mlprep import _TRIGRAM_K

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), 1, t, 1.0, "{}")
        for i, t in enumerate(["A", "B", "C", "D"])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = (
        df.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .collect()
    )
    got = {(r["t1"], r["t2"], r["t3"]) for r in seq}
    assert got == {("A", "B", "C"), ("B", "C", "D")}
    assert _TRIGRAM_K > 0


def test_trigrams_registry_deterministic(spark):
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        events_sequence_trigrams,
    )

    a = events_sequence_trigrams(spark, SF).collect()
    b = events_sequence_trigrams(spark, SF).collect()
    assert a == b
    counts = [r["n"] for r in a]
    assert counts == sorted(counts, reverse=True)


# ---------------------------------------------------------------------------
# PCA power iteration
# ---------------------------------------------------------------------------


def test_pca_matches_numpy_replay(spark):
    """The Spark recurrence must match a numpy implementation of the
    SAME recurrence (identical v0, centering, per-round 9-dp unit
    rounding) to the output rounding -- a full independent replay."""
    import numpy as np

    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        _PCA_DIM,
        _PCA_ITERS,
        embeddings_pca_power_iteration,
    )

    rows = embeddings_pca_power_iteration(spark, SF).orderBy("dim").collect()
    assert len(rows) == _PCA_DIM

    X = np.array(
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("embedding")
        .toPandas()["embedding"]
        .tolist(),
        dtype=np.float64,
    )
    mu = np.round(X.mean(axis=0), 9)
    C = X - mu
    v = np.full(_PCA_DIM, 1.0 / np.sqrt(_PCA_DIM))
    for _ in range(_PCA_ITERS):
        w = C.T @ (C @ v)
        nrm = float(np.sqrt((w * w).sum()))
        v = np.round(w / nrm, 9)
    got = np.array([r["loading"] for r in rows])
    assert np.allclose(got, np.round(v, 6), atol=2e-6)
    assert rows[0]["lambda_hat"] == pytest.approx(nrm, rel=1e-5)


def test_pca_loading_is_unit_vector(spark):
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        embeddings_pca_power_iteration,
    )

    rows = embeddings_pca_power_iteration(spark, SF).collect()
    ss = sum(r["loading"] ** 2 for r in rows)
    assert ss == pytest.approx(1.0, abs=1e-4)
    assert all(r["lambda_hat"] > 0 for r in rows)


# ---------------------------------------------------------------------------
# seasonal decomposition
# ---------------------------------------------------------------------------


def test_seasonal_decomposition_identity_and_edges(spark):
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        metric_revenue_seasonal_decomposition,
    )

    rows = metric_revenue_seasonal_decomposition(spark, SF).orderBy("day").collect()
    assert len(rows) >= 14
    # centered 7-day MA: first and last 3 days have no full window
    for r in rows[:3] + rows[-3:]:
        assert r["trend"] is None and r["residual"] is None
    interior = [r for r in rows if r["trend"] is not None]
    assert interior
    for r in interior:
        assert r["residual"] == pytest.approx(
            r["revenue"] - r["trend"] - r["seasonal"], abs=5e-6
        )


# ---------------------------------------------------------------------------
# position-based attribution
# ---------------------------------------------------------------------------


def test_position_attribution_conserves_value(spark):
    """Every conversion with >=1 in-window touch hands out exactly its
    value (0.4+0.2+0.4 = 1; 1.0 and 0.5x2 in the degenerate cases), so
    total attributed == total value over attributable conversions."""
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        _ATTR_POS_LOOKBACK,
        events_attribution_position,
    )

    rows = events_attribution_position(spark, SF).collect()
    total = sum(r["attributed_value"] for r in rows)

    e = spark.read.parquet(f"{SF}/events.parquet")
    t = e.where(
        F.col("event_type").isin("view", "click") & F.col("ts").isNotNull()
    ).select("user_id", F.col("ts").alias("tts"))
    c = e.where(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    ).select("user_id", F.col("ts").alias("cts"), "value", "event_id")
    attributable = (
        c.join(t, "user_id")
        .where(
            (F.col("tts") <= F.col("cts"))
            & (
                F.col("tts")
                >= F.col("cts") - F.expr(f"INTERVAL {_ATTR_POS_LOOKBACK} DAYS")
            )
        )
        .select("event_id", "value")
        .distinct()
        .agg(F.sum("value").alias("v"))
        .first()["v"]
    )
    assert total == pytest.approx(attributable, abs=1e-3)


def test_position_credit_shape():
    """Closed-form U-shape: 4 touches -> 0.4, 0.1, 0.1, 0.4."""
    def credit(pos, n):
        if n == 1:
            return 1.0
        if n == 2:
            return 0.5
        if pos in (1, n):
            return 0.4
        return 0.2 / (n - 2)

    assert [credit(p, 4) for p in range(1, 5)] == [0.4, 0.1, 0.1, 0.4]
    assert sum(credit(p, 7) for p in range(1, 8)) == pytest.approx(1.0)
    assert credit(1, 1) == 1.0
    assert [credit(1, 2), credit(2, 2)] == [0.5, 0.5]


# ---------------------------------------------------------------------------
# calibration curve
# ---------------------------------------------------------------------------


def test_calibration_deciles_cover_and_bound(spark):
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        text_quality_calibration,
    )

    rows = text_quality_calibration(spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    for r in rows:
        assert 1 <= r["decile"] <= 10
        assert 0.0 <= r["frac_long"] <= 1.0
        assert -1.0 <= r["avg_score"] <= 1.0
    # deciles are score-ordered: avg_score strictly increases with decile
    by_decile = sorted(rows, key=lambda r: r["decile"])
    scores = [r["avg_score"] for r in by_decile]
    assert scores == sorted(scores)


# ---------------------------------------------------------------------------
# JL projection
# ---------------------------------------------------------------------------


def test_jl_matches_numpy_replay(spark):
    """Every projected cosine must equal an independent numpy replay
    of the SAME sign matrix; plus the weak JL sanity bound -- at k=16
    the per-pair cosine noise is O(1/sqrt(k)), so the mean absolute
    error stays under 0.6 (an uncorrelated projection would sit near
    the raw cosine spread, ~0.7 on this data)."""
    import numpy as np

    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        _JL_SIGNS,
        embeddings_jl_projection_error,
    )

    rows = embeddings_jl_projection_error(spark, SF).orderBy("vec_id_a").collect()
    assert rows

    pdf = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("vec_id", "embedding")
        .toPandas()
        .set_index("vec_id")
    )
    S = np.array(_JL_SIGNS, dtype=np.float64)  # (16, 64)

    def cos(a, b):
        return float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b)))

    for r in rows[:50]:
        xa = np.array(pdf.loc[r["vec_id_a"], "embedding"], dtype=np.float64)
        xb = np.array(pdf.loc[r["vec_id_b"], "embedding"], dtype=np.float64)
        assert r["cos_orig"] == pytest.approx(cos(xa, xb), abs=2e-6)
        assert r["cos_proj"] == pytest.approx(cos(S @ xa, S @ xb), abs=2e-6)
    mean_err = sum(r["abs_err"] for r in rows) / len(rows)
    assert mean_err < 0.6, mean_err


def test_jl_sign_matrix_is_balanced():
    """Achlioptas signs must be near-balanced per output row (a skewed
    row would bias every projection)."""
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        _JL_IN_DIM,
        _JL_SIGNS,
    )

    for row in _JL_SIGNS:
        assert set(row) <= {-1, 1}
        assert abs(sum(row)) <= _JL_IN_DIM // 3


# ---------------------------------------------------------------------------
# run-length stats
# ---------------------------------------------------------------------------


def test_run_lengths_on_constructed_stream(spark):
    """User stream A A A B A -> runs: A(3), B(1), A(1)."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(minutes=i), 1, t, 1.0, "{}")
        for i, t in enumerate(["A", "A", "A", "B", "A"])
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = df.select(
        "user_id", "event_type", "ts", "event_id",
        F.when(
            ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w)),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("new_run"),
    )
    runs = seq.select(
        "user_id", "event_type", F.sum("new_run").over(w).alias("run_id")
    )
    rl = {
        (r["event_type"], r["run_len"])
        for r in runs.groupBy("user_id", "run_id", "event_type")
        .agg(F.count("*").alias("run_len"))
        .collect()
    }
    assert rl == {("A", 3), ("B", 1), ("A", 1)}


def test_run_length_totals_conserve_events(spark):
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        events_run_length_stats,
    )

    rows = events_run_length_stats(spark, SF).collect()
    total_run_events = sum(
        round(r["avg_run_len"] * r["n_runs"]) for r in rows
    )
    expected = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(
            F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
            & F.col("ts").isNotNull()
        )
        .count()
    )
    # avg*count reconstructs each type's event total up to 6-dp rounding
    assert abs(total_run_events - expected) <= len(rows)


# ---------------------------------------------------------------------------
# WOE / chi2 / separability
# ---------------------------------------------------------------------------


def test_woe_matches_closed_form(spark):
    import math

    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        events_woe_information_value,
    )

    rows = events_woe_information_value(spark, SF).collect()
    assert rows
    P = sum(r["n_pos"] for r in rows)
    N = sum(r["n_neg"] for r in rows)
    iv = 0.0
    for r in rows:
        woe = math.log(
            ((r["n_pos"] + 0.5) / (P + 0.5)) / ((r["n_neg"] + 0.5) / (N + 0.5))
        )
        assert r["woe"] == pytest.approx(woe, abs=2e-6)
        dp = r["n_pos"] / P - r["n_neg"] / N
        assert r["iv_term"] == pytest.approx(dp * round(woe, 6), abs=2e-6)
        iv += dp * round(woe, 6)
    assert rows[0]["iv_total"] == pytest.approx(iv, abs=5e-6)


def test_chi2_matches_scipy_free_reference(spark):
    """chi2 recomputed from the raw contingency table in pure Python."""
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        _WOE_LABEL_THRESHOLD,
        events_feature_chi2,
    )

    got = events_feature_chi2(spark, SF).first()
    pdf = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            (F.col("value") > _WOE_LABEL_THRESHOLD).cast("int").alias("hv"),
        )
        .toPandas()
    )
    tab = pdf.groupby(["event_type", "hv"]).size().unstack(fill_value=0)
    n = tab.values.sum()
    chi2 = 0.0
    row_t = tab.sum(axis=1)
    col_t = tab.sum(axis=0)
    for et in tab.index:
        for c in tab.columns:
            exp = row_t[et] * col_t[c] / n
            chi2 += (tab.loc[et, c] - exp) ** 2 / exp
    assert got["chi2"] == pytest.approx(chi2, abs=1e-4)
    assert got["dof"] == len(tab.index) - 1
    assert got["n"] == n


def test_separability_bounds_and_identity(spark):
    """Pairs cover all label combinations; cosines bounded; within
    cosines positive (vectors cluster around their own centroid)."""
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        embeddings_label_separability,
    )

    rows = embeddings_label_separability(spark, SF).collect()
    labels = {
        r["label"]
        for r in spark.read.parquet(f"{SF}/embeddings.parquet")
        .select("label")
        .distinct()
        .collect()
    }
    k = len(labels)
    assert len(rows) == k * (k - 1) // 2
    for r in rows:
        assert r["label_a"] < r["label_b"]
        assert -1.0 <= r["centroid_cos"] <= 1.0
        assert 0.0 < r["within_a"] <= 1.0 + 1e-9
        assert 0.0 < r["within_b"] <= 1.0 + 1e-9
        # labels are real clusters: own-centroid coherence beats the
        # cross-centroid alignment
        assert r["within_a"] >= r["centroid_cos"] - 0.2


# ---------------------------------------------------------------------------
# time-to-convert
# ---------------------------------------------------------------------------


def test_time_to_convert_bounds_and_replay(spark):
    """Single-row sanity plus a pandas replay of the per-user logic."""
    from dbt_metrics_ingestion_script_spark.queries_mlprep import (
        events_time_to_convert,
    )

    r = events_time_to_convert(spark, SF).first()
    assert 0 <= r["n_converted_users"] <= r["n_viewed_users"]
    assert 0.0 <= r["conversion_rate"] <= 1.0
    if r["n_converted_users"] > 0:
        assert 0.0 <= r["p50_hours"] <= r["p90_hours"]

    pdf = (
        spark.read.parquet(f"{SF}/events.parquet")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_type", "ts")
        .toPandas()
    )
    viewed = converted = 0
    for _, g in pdf.groupby("user_id"):
        views = g[g.event_type == "view"].ts
        if views.empty:
            continue
        viewed += 1
        fv = views.min()
        purchases = g[(g.event_type == "purchase") & (g.ts > fv)]
        if not purchases.empty:
            converted += 1
    assert r["n_viewed_users"] == viewed
    assert r["n_converted_users"] == converted
