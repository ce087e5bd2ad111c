"""Differential tests: every registered Layer B query vs its DuckDB
oracle at sf0.001 (fast); the driver repeats this at sf0.01."""

from __future__ import annotations

import os
import sys
from concurrent.futures import ThreadPoolExecutor

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark import queries as q
from dbt_metrics_ingestion_script_spark.plans import compiler
from dbt_metrics_ingestion_script_spark.plans.compiler import (
    PLAN_CACHE,
    PLAN_CACHE_BOUND,
    MetricCompiler,
    plan_cache_stats,
)
from dbt_metrics_ingestion_script_spark.plans.metric_spec import MetricFilter, MetricSpec
from dbt_metrics_ingestion_script_spark.plans.sql_oracle import oracle_sql_for
from dbt_metrics_ingestion_script_spark.registry import round_cols
from dbt_metrics_ingestion_script_spark.sources import tables

from .oracle import assert_matches_oracle

ORACLE_BACKED = sorted(q.oracle_sql().keys())

# registered with driver=False: outside the driver's 50-slot budget but
# still differential-tested here on every run
DEMOTED = sorted(n for n, qd in q.REGISTRY.items() if not qd.driver and qd.oracle)


@pytest.mark.parametrize("name", ORACLE_BACKED)
@pytest.mark.slow
def test_query_matches_oracle(spark, sf_dir, name):
    df = q.REGISTRY[name].fn(spark, sf_dir)
    assert_matches_oracle(df, q.REGISTRY[name].oracle, sf_dir)


@pytest.mark.parametrize("name", DEMOTED)
def test_demoted_query_matches_oracle(spark, sf_dir, name):
    df = q.REGISTRY[name].fn(spark, sf_dir)
    assert_matches_oracle(df, q.REGISTRY[name].oracle, sf_dir)


def test_rows_only_queries_run(spark, sf_dir):
    for name, qd in q.REGISTRY.items():
        if qd.oracle is None:
            assert qd.fn(spark, sf_dir).count() >= 0


def test_derived_cycle_detection(spark, sf_dir):
    a = MetricSpec(
        name="a", metric_type="derived", expression="b + 1",
        model="orders", input_metrics=["b"],
    )
    b = MetricSpec(
        name="b", metric_type="derived", expression="a + 1",
        model="orders", input_metrics=["a"],
    )
    comp = MetricCompiler(lambda m: None, registry={"a": a, "b": b})
    with pytest.raises(ValueError, match="cycle"):
        comp.compile(a, None)


def test_unknown_filter_operator_rejected():
    with pytest.raises(ValueError, match="operator"):
        MetricFilter(field="x", operator="like", value="y")


def test_unsupported_template_rejected(spark, sf_dir):
    spec = MetricSpec(
        name="bad", calculation_method="sum", expression="o_totalprice",
        model="orders",
        filters=[MetricFilter(field="o_orderdate", operator=">=",
                              value="{{ weird_macro() }}")],
    )
    comp = MetricCompiler(lambda m: spark.read.parquet(f"{sf_dir}/orders.parquet"))
    with pytest.raises(ValueError, match="templated"):
        comp.compile(spec, None).collect()


def test_cumulative_requires_additive():
    spec = MetricSpec(
        name="cd", metric_type="cumulative", calculation_method="count_distinct",
        expression="o_custkey", model="orders", timestamp="o_orderdate",
    )
    comp = MetricCompiler(lambda m: None)
    with pytest.raises(ValueError, match="re-aggregable"):
        comp.compile(spec, "month")


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_KEYS = ["2024-01-01", "2024-02-01", "2024-03-01", "2024-04-01"]


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    a_keys=st.sets(st.sampled_from(_KEYS), min_size=1),
    b_keys=st.sets(st.sampled_from(_KEYS), min_size=1),
)
@pytest.mark.slow
def test_derived_disjoint_keys_null_policy(spark, a_keys, b_keys):
    """Derived metrics FULL-join their inputs: output keys = union of
    input keys, value NULL wherever a referenced input has no bucket
    (documented policy in MetricCompiler._compile_derived)."""
    import datetime

    def frame(keys, val):
        return spark.createDataFrame(
            [(datetime.date.fromisoformat(k), float(val)) for k in sorted(keys)],
            "d date, v double",
        )

    def resolver(model):
        return frame(a_keys, 2.0) if model == "ma" else frame(b_keys, 4.0)

    a = MetricSpec(name="a", calculation_method="sum", expression="v",
                   model="ma", timestamp="d", time_grains=["month"])
    b = MetricSpec(name="b", calculation_method="sum", expression="v",
                   model="mb", timestamp="d", time_grains=["month"])
    d = MetricSpec(name="r", metric_type="derived", expression="a / b",
                   model="ma", timestamp="d", time_grains=["month"],
                   input_metrics=["a", "b"])
    comp = MetricCompiler(resolver, registry={"a": a, "b": b})
    got = {str(r["ts"]): r["r"] for r in comp.compile(d, "month").collect()}
    assert set(got) == a_keys | b_keys  # union of keys survives
    for k in a_keys | b_keys:
        if k in a_keys and k in b_keys:
            assert got[k] == 0.5
        else:
            assert got[k] is None  # partial bucket -> visible row, NULL value


@pytest.mark.parametrize("grain", ["week", "quarter", "year"])
def test_total_revenue_grain_matches_oracle(spark, sf_dir, grain):
    """Differential coverage for the grains whose single-grain queries
    were unregistered to stay inside the driver's evaluated-query budget
    (the driver still covers all grains via
    metric_total_revenue_all_grains)."""
    comp = MetricCompiler(lambda m: spark.read.parquet(f"{sf_dir}/{m}.parquet"))
    df = round_cols(comp.compile(q.TOTAL_REVENUE, grain), {"total_revenue": 4})
    assert_matches_oracle(
        df,
        f"""
        SELECT CAST(date_trunc('{grain}', o_orderdate) AS DATE) AS ts,
               o_custkey,
               ROUND(SUM(o_totalprice), 4) AS total_revenue
        FROM orders GROUP BY 1, 2
        """,
        sf_dir,
    )


def test_all_grains(spark, sf_dir):
    comp = MetricCompiler(
        lambda m: spark.read.parquet(f"{sf_dir}/{m}.parquet")
    )
    frames = comp.compile_all_grains(q.TOTAL_REVENUE)
    assert set(frames) == {"day", "week", "month", "quarter", "year"}
    counts = {g: f.count() for g, f in frames.items()}
    assert counts["year"] <= counts["quarter"] <= counts["month"] <= counts["day"]


def test_trailing_metric_calendar_gap_semantics(spark, tmp_path):
    """RANGE-over-bucket-index semantics: a missing day still consumes
    trailing-window width (day 10 must NOT see day 1-2 through the
    gap), adjacent days sum, and validation rejects a missing window
    and non-re-aggregable methods."""
    import datetime

    import pytest
    from pyspark.sql import functions as F  # noqa: F401

    from dbt_metrics_ingestion_script_spark.plans.compiler import MetricCompiler
    from dbt_metrics_ingestion_script_spark.plans.metric_spec import MetricSpec

    d = lambda n: datetime.date(2024, 1, n)  # noqa: E731
    orders = spark.createDataFrame(
        [(1, d(1), 10.0), (2, d(2), 20.0), (3, d(10), 40.0)],
        "o_orderkey long, o_orderdate date, o_totalprice double",
    )
    spec = MetricSpec(
        name="t3",
        calculation_method="sum",
        expression="o_totalprice",
        metric_type="trailing",
        model="orders",
        timestamp="o_orderdate",
        window_buckets=3,
    )
    got = {
        str(r["ts"]): r["t3"]
        for r in MetricCompiler(lambda m: orders).compile(spec, "day").collect()
    }
    assert got == {
        "2024-01-01": 10.0,
        "2024-01-02": 30.0,   # day1+day2 inside the 3-day window
        "2024-01-10": 40.0,   # the gap consumed the window: alone
    }
    with pytest.raises(ValueError, match="window_buckets"):
        MetricSpec(
            name="bad", metric_type="trailing", model="orders",
            calculation_method="sum", expression="o_totalprice",
            timestamp="o_orderdate",
        )
    with pytest.raises(ValueError, match="re-aggregable"):
        MetricCompiler(lambda m: orders).compile(
            MetricSpec(
                name="bad2", metric_type="trailing", model="orders",
                calculation_method="average", expression="o_totalprice",
                timestamp="o_orderdate", window_buckets=3,
            ),
            "day",
        )


def test_growth_metric_calendar_and_zero_semantics(spark):
    """Growth compares against the previous CALENDAR bucket: the month
    after a gap yields NULL (not growth vs the pre-gap month), the
    first bucket yields NULL, and a zero previous month yields NULL
    rather than an engine-dependent division."""
    import datetime

    from dbt_metrics_ingestion_script_spark.plans.compiler import MetricCompiler
    from dbt_metrics_ingestion_script_spark.plans.metric_spec import MetricSpec

    m = lambda n, v: (n, datetime.date(2024, n, 15), v)  # noqa: E731
    orders = spark.createDataFrame(
        [m(1, 100.0), m(2, 150.0), m(4, 300.0), (5, datetime.date(2024, 6, 1), 0.0),
         (6, datetime.date(2024, 7, 1), 50.0)],
        "o_orderkey long, o_orderdate date, o_totalprice double",
    )
    spec = MetricSpec(
        name="g",
        calculation_method="sum",
        expression="o_totalprice",
        metric_type="growth",
        model="orders",
        timestamp="o_orderdate",
    )
    got = {
        str(r["ts"]): r["g"]
        for r in MetricCompiler(lambda m: orders).compile(spec, "month").collect()
    }
    assert got["2024-01-01"] is None            # no previous bucket
    assert abs(got["2024-02-01"] - 0.5) < 1e-12
    assert got["2024-04-01"] is None            # March missing: calendar gap
    assert got["2024-06-01"] is None            # May missing
    assert got["2024-07-01"] is None            # previous month sums to 0


# ---------------------------------------------------------------------------
# calendar spine zero-fill
# ---------------------------------------------------------------------------


def test_fill_time_gaps_inserts_zero_buckets(spark):
    import datetime

    from dbt_metrics_ingestion_script_spark.plans.compiler import fill_time_gaps

    d = lambda s: datetime.date.fromisoformat(s)  # noqa: E731
    m = spark.createDataFrame(
        [(d("2024-01-01"), 10.0), (d("2024-04-01"), 40.0)], "ts date, rev double"
    )
    got = {str(r["ts"]): r["rev"] for r in fill_time_gaps(m, "month", {"rev": 0.0}).collect()}
    assert got == {
        "2024-01-01": 10.0, "2024-02-01": 0.0,
        "2024-03-01": 0.0, "2024-04-01": 40.0,
    }


def test_fill_time_gaps_dims_cross_observed_combos(spark):
    import datetime

    from dbt_metrics_ingestion_script_spark.plans.compiler import fill_time_gaps

    d = lambda s: datetime.date.fromisoformat(s)  # noqa: E731
    m = spark.createDataFrame(
        [(d("2024-01-01"), "a", 1.0), (d("2024-03-01"), "b", 3.0)],
        "ts date, dim string, rev double",
    )
    rows = fill_time_gaps(m, "month", {"rev": 0.0}, dims=("dim",)).collect()
    # 3 months x 2 observed dim values
    assert len(rows) == 6
    got = {(str(r["ts"]), r["dim"]): r["rev"] for r in rows}
    assert got[("2024-01-01", "a")] == 1.0 and got[("2024-03-01", "b")] == 3.0
    assert got[("2024-02-01", "a")] == 0.0 and got[("2024-01-01", "b")] == 0.0


def test_fill_time_gaps_empty_frame_and_bad_grain(spark):
    import pytest

    from dbt_metrics_ingestion_script_spark.plans.compiler import fill_time_gaps

    empty = spark.createDataFrame([], "ts date, rev double")
    assert fill_time_gaps(empty, "month", {"rev": 0.0}).count() == 0
    with pytest.raises(ValueError, match="spine grain"):
        fill_time_gaps(empty, "fortnight", {"rev": 0.0})


def test_fill_time_gaps_week_step_stays_monday_aligned(spark):
    import datetime

    from dbt_metrics_ingestion_script_spark.plans.compiler import fill_time_gaps

    d = lambda s: datetime.date.fromisoformat(s)  # noqa: E731
    m = spark.createDataFrame(
        [(d("2024-01-01"), 1.0), (d("2024-01-22"), 2.0)], "ts date, rev double"
    )  # both Mondays, two missing weeks between
    got = [str(r["ts"]) for r in fill_time_gaps(m, "week", {"rev": 0.0}).collect()]
    assert sorted(got) == ["2024-01-01", "2024-01-08", "2024-01-15", "2024-01-22"]
    assert all(datetime.date.fromisoformat(t).weekday() == 0 for t in got)


def test_percentile_metric_validation_and_interpolation(spark):
    import pytest as _pytest

    from dbt_metrics_ingestion_script_spark.plans.metric_spec import (
        MetricSpec,
    )

    with _pytest.raises(ValueError, match="percentile in \\[0, 1\\]"):
        MetricSpec(
            name="bad", calculation_method="percentile", expression="x",
            model="t",
        )
    with _pytest.raises(ValueError, match="percentile in \\[0, 1\\]"):
        MetricSpec(
            name="bad", calculation_method="percentile", percentile=1.5,
            expression="x", model="t",
        )
    # interpolation pinned: p90 of [0, 10, 20, 30, 40] = 36.0
    df = spark.createDataFrame([(float(v),) for v in range(0, 50, 10)], "x double")
    comp = MetricCompiler(lambda m: df)
    spec = MetricSpec(
        name="p90_x", calculation_method="percentile", percentile=0.9,
        expression="x", model="t",
    )
    got = comp.compile(spec).collect()
    assert got[0]["p90_x"] == _pytest.approx(36.0)


def test_alert_rules_null_growth_and_validation(spark):
    from dbt_metrics_ingestion_script_spark.plans.alerts import (
        AlertRule,
        evaluate_alerts,
    )

    df = spark.createDataFrame(
        [("2024-01-01", None), ("2024-02-01", -0.5), ("2024-03-01", 0.4)],
        "ts string, g double",
    )
    rules = [
        AlertRule("drop", "critical", "g < -0.1", "g"),
        AlertRule("spike", "warn", "g > 0.25", "g"),
    ]
    got = {(r["rule"], r["ts"], r["value"])
           for r in evaluate_alerts(df, rules).collect()}
    # NULL growth (first bucket) never alerts; each rule fires once
    assert got == {
        ("drop", "2024-01-01"[:0] + "2024-02-01", -0.5),
        ("spike", "2024-03-01", 0.4),
    }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one rule"):
        evaluate_alerts(df, [])


def _plan_text(df) -> str:
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    return df._jdf.queryExecution().explainString(mode)


def _rows(df):
    def norm(v):
        return round(v, 6) if isinstance(v, float) else v

    return sorted(
        (tuple(norm(r[c]) for c in sorted(df.columns)) for r in df.collect()),
        key=lambda t: tuple((v is None, str(v)) for v in t),
    )


def _forced_join_compile(frame, inputs, derived, grain):
    """Compile the derived spec with each input cloned onto a distinct
    model name (all resolving to the same frame), so the single-model
    fusion guard rejects and the FULL-join fallback runs -- the
    reference semantics the fused paths must reproduce exactly."""
    import dataclasses

    clones = {
        s.name: dataclasses.replace(s, model=f"{s.model}__{i}")
        for i, s in enumerate(inputs)
    }
    comp = MetricCompiler(lambda m: frame, registry=clones)
    return comp.compile(derived, grain)


def test_derived_fusion_matches_join_path_null_policy(spark):
    """Equal-dims fusion: one scan, and EXACT join-path semantics --
    a bucket selected by only one input's filter yields NULL (not 0)
    for the other input, even for count-like methods (the match-marker
    machinery)."""
    import datetime

    d = lambda m, dy: datetime.date(2024, m, dy)  # noqa: E731
    orders = spark.createDataFrame(
        [
            (d(1, 1), "F", 10.0), (d(1, 2), "F", 20.0),   # Jan: only F
            (d(2, 1), "O", 5.0),                          # Feb: only O
            (d(3, 1), "F", 7.0), (d(3, 2), "O", 8.0),     # Mar: both
            (d(4, 1), "P", 9.0),                          # Apr: neither
        ],
        "o_orderdate date, o_orderstatus string, o_totalprice double",
    )
    a = MetricSpec(
        name="a", calculation_method="sum", expression="o_totalprice",
        model="orders", timestamp="o_orderdate",
        filters=[MetricFilter(field="o_orderstatus", operator="=", value="F")],
    )
    b = MetricSpec(
        name="b", calculation_method="count", expression="*",
        model="orders", timestamp="o_orderdate",
        filters=[MetricFilter(field="o_orderstatus", operator="=", value="O")],
    )
    der = MetricSpec(
        name="r", metric_type="derived", expression="a + b",
        model="orders", input_metrics=["a", "b"],
    )
    comp = MetricCompiler(lambda m: orders, registry={"a": a, "b": b})
    fused = comp.compile(der, "month")
    assert "Join" not in _plan_text(fused)  # fused: no input join at all
    got = {str(r["ts"]): r["r"] for r in fused.collect()}
    # Apr matched neither filter: no row at all (group-existence parity)
    assert set(got) == {"2024-01-01", "2024-02-01", "2024-03-01"}
    assert got["2024-01-01"] is None  # b absent -> NULL, NOT count 0
    assert got["2024-02-01"] is None  # a absent -> NULL
    assert got["2024-03-01"] == 7.0 + 1
    assert _rows(fused) == _rows(
        _forced_join_compile(orders, [a, b], der, "month")
    )


def test_derived_fusion_subset_dims(spark, sf_dir):
    """Cross-granularity fusion (the revenue_per_customer shape): sum at
    (ts, custkey) composed with count_distinct and average at (ts) --
    ONE fact scan, windows instead of a join, byte-identical to the
    FULL-join reference path."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rv = MetricSpec(
        name="rv", calculation_method="sum", expression="o_totalprice",
        model="orders", timestamp="o_orderdate", dimensions=["o_custkey"],
    )
    cc = MetricSpec(
        name="cc", calculation_method="count_distinct", expression="o_custkey",
        model="orders", timestamp="o_orderdate",
    )
    av = MetricSpec(
        name="av", calculation_method="average", expression="o_totalprice",
        model="orders", timestamp="o_orderdate",
    )
    der = MetricSpec(
        name="x", metric_type="derived", expression="rv / cc + av",
        model="orders", input_metrics=["rv", "cc", "av"],
    )
    comp = MetricCompiler(
        lambda m: orders, registry={"rv": rv, "cc": cc, "av": av}
    )
    fused = comp.compile(der, "month")
    plan = _plan_text(fused)
    assert plan.count("orders.parquet") == 1
    assert "Join" not in plan
    assert _rows(fused) == _rows(
        _forced_join_compile(orders, [rv, cc, av], der, "month")
    )


def test_derived_fusion_filtered_subset_dims_falls_back(spark, sf_dir):
    """With EVERY fine-granularity input filtered there is no unfiltered
    anchor, so the join path's coarse-only rows (NULL fine keys) are
    possible and fusion must decline (the multiplicity difference
    documented in _compile_derived_fused_subset)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rv = MetricSpec(
        name="rv", calculation_method="sum", expression="o_totalprice",
        model="orders", timestamp="o_orderdate", dimensions=["o_custkey"],
        filters=[MetricFilter(field="o_orderstatus", operator="=", value="F")],
    )
    cc = MetricSpec(
        name="cc", calculation_method="count_distinct", expression="o_custkey",
        model="orders", timestamp="o_orderdate",
    )
    der = MetricSpec(
        name="x", metric_type="derived", expression="rv / cc",
        model="orders", input_metrics=["rv", "cc"],
    )
    comp = MetricCompiler(lambda m: orders, registry={"rv": rv, "cc": cc})
    assert "Join" in _plan_text(comp.compile(der, "month"))


def test_derived_fusion_filtered_coarse_with_unfiltered_anchor(spark, sf_dir):
    """r7 stretch: filtered COARSE inputs fuse when an unfiltered
    fine-granularity anchor pins the row set -- conditional partials +
    match markers reproduce the join path's NULL placement exactly
    (a coarse bucket the filter never matched is NULL, not 0)."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    rv = MetricSpec(
        name="rv", calculation_method="sum", expression="o_totalprice",
        model="orders", timestamp="o_orderdate", dimensions=["o_custkey"],
    )
    fo = MetricSpec(  # filtered coarse count
        name="fo", calculation_method="count", expression="*",
        model="orders", timestamp="o_orderdate",
        filters=[MetricFilter(field="o_orderstatus", operator="=", value="F")],
    )
    fc = MetricSpec(  # filtered coarse count_distinct over a fine dim
        name="fc", calculation_method="count_distinct", expression="o_custkey",
        model="orders", timestamp="o_orderdate",
        filters=[MetricFilter(field="o_orderstatus", operator="=", value="O")],
    )
    der = MetricSpec(
        name="x", metric_type="derived", expression="rv / fo + fc",
        model="orders", input_metrics=["rv", "fo", "fc"],
    )
    comp = MetricCompiler(
        lambda m: orders, registry={"rv": rv, "fo": fo, "fc": fc}
    )
    fused = comp.compile(der, "month")
    plan = _plan_text(fused)
    assert plan.count("orders.parquet") == 1
    assert "Join" not in plan
    assert _rows(fused) == _rows(
        _forced_join_compile(orders, [rv, fo, fc], der, "month")
    )


def test_derived_join_path_multi_coarse_incomparable_dims(spark):
    """ADVICE r7: the FULL-join reference path with >=3 inputs at
    INCOMPARABLE granularities (dims {a}, {b}, fine {a,b}) used to
    crash with AMBIGUOUS_REFERENCE (shared keys computed from the first
    frame only); shared keys now accumulate from the joined frame, so
    the third input joins on BOTH dims and the fused subset path can be
    differentially verified against it."""
    import datetime

    rows = [
        (datetime.date(2024, 1 + i % 3, 1 + i % 5),
         ["A", "B"][i % 2], ["X", "Y", "Z"][i % 3], float(i))
        for i in range(30)
    ]
    frame = spark.createDataFrame(
        rows, "o_orderdate date, a string, b string, v double"
    )
    ma = MetricSpec(
        name="ma", calculation_method="sum", expression="v",
        model="orders", timestamp="o_orderdate", dimensions=["a"],
    )
    mb = MetricSpec(
        name="mb", calculation_method="count", expression="v",
        model="orders", timestamp="o_orderdate", dimensions=["b"],
    )
    mab = MetricSpec(
        name="mab", calculation_method="max", expression="v",
        model="orders", timestamp="o_orderdate", dimensions=["a", "b"],
    )
    der = MetricSpec(
        name="r", metric_type="derived", expression="ma + mb + mab",
        model="orders", input_metrics=["ma", "mb", "mab"],
    )
    joined = _forced_join_compile(frame, [ma, mb, mab], der, "month")
    assert set(joined.columns) == {"ts", "a", "b", "r"}
    comp = MetricCompiler(
        lambda m: frame, registry={"ma": ma, "mb": mb, "mab": mab}
    )
    fused = comp.compile(der, "month")
    assert "Join" not in _plan_text(fused)
    assert _rows(fused) == _rows(joined)


@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
@pytest.mark.slow
def test_derived_fusion_equivalence_random(spark, data):
    """Randomized differential for BOTH fusion tiers: arbitrary method /
    filter combinations compiled fused must match the forced FULL-join
    reference path row for row (including NULL placement and group
    existence)."""
    import datetime

    statuses = ["A", "B", "C"]
    rows = []
    for i in range(40):
        rows.append(
            (
                i,
                datetime.date(2024, 1 + i % 4, 1 + i % 27),
                statuses[i % 3],
                ["X", "Y"][i % 2],
                float(i % 7) if i % 11 else None,
            )
        )
    frame = spark.createDataFrame(
        rows,
        "o_orderkey long, o_orderdate date, o_orderstatus string,"
        " region string, v double",
    )

    def rand_filters(allow_empty=True):
        opts = [None] if allow_empty else []
        opts += statuses
        pick = data.draw(st.sampled_from(opts))
        if pick is None:
            return []
        op = data.draw(st.sampled_from(["=", "!="]))
        return [MetricFilter(field="o_orderstatus", operator=op, value=pick)]

    tier = data.draw(st.sampled_from(["equal_dims", "subset_dims"]))
    methods_all = ["sum", "count", "count_distinct", "average", "min", "max"]
    fine_dims = ["o_orderstatus", "region"]
    inputs = []
    n_inputs = data.draw(st.integers(2, 3))
    for i in range(n_inputs):
        if tier == "equal_dims":
            m = data.draw(st.sampled_from(methods_all))
            dims, filters = [], rand_filters()
            expr = "o_orderkey" if m == "count_distinct" else "v"
        else:
            # input 0 is the unfiltered finest anchor (the r8 fusion
            # gate); the rest draw any dimension subset -- including
            # INCOMPARABLE coarse subsets ({status} and {region}
            # together, the ADVICE r7 join-path crash shape) -- and,
            # off the anchor, any filter the marker machinery must
            # reproduce
            if i == 0:
                m = data.draw(st.sampled_from(methods_all))
                dims, filters = fine_dims, []
                expr = "o_orderkey" if m == "count_distinct" else "v"
            else:
                dims = data.draw(
                    st.sampled_from(
                        [fine_dims, ["o_orderstatus"], ["region"], []]
                    )
                )
                filters = rand_filters()
                if dims == fine_dims:
                    m = data.draw(st.sampled_from(methods_all))
                    expr = "o_orderkey" if m == "count_distinct" else "v"
                else:
                    m = data.draw(
                        st.sampled_from(
                            ["sum", "count", "count_distinct",
                             "average", "min", "max"]
                        )
                    )
                    if m == "count_distinct":
                        # re-aggregable only over a fine grouping dim
                        expr = data.draw(
                            st.sampled_from(
                                [d for d in fine_dims if d not in dims]
                            )
                        )
                    else:
                        expr = "v"
        inputs.append(
            MetricSpec(
                name=f"m{i}", calculation_method=m, expression=expr,
                model="orders", timestamp="o_orderdate", dimensions=dims,
                filters=filters,
            )
        )
    der = MetricSpec(
        name="r", metric_type="derived",
        expression=" + ".join(s.name for s in inputs),
        model="orders", input_metrics=[s.name for s in inputs],
    )
    comp = MetricCompiler(
        lambda m: frame, registry={s.name: s for s in inputs}
    )
    grain = data.draw(st.sampled_from(["month", None]))
    fused = comp.compile(der, grain)
    assert "Join" not in _plan_text(fused), "expected the fused path"
    assert _rows(fused) == _rows(
        _forced_join_compile(frame, inputs, der, grain)
    )


def test_compile_shared_validation_and_filter_independence(spark):
    from dbt_metrics_ingestion_script_spark.plans.metric_spec import (
        MetricFilter,
        MetricSpec,
    )

    df = spark.createDataFrame(
        [(1.0, "A"), (2.0, "A"), (30.0, "B")], "v double, s string"
    )
    comp = MetricCompiler(lambda m: df)
    specs = [
        MetricSpec(name="all_sum", calculation_method="sum", expression="v",
                   model="t"),
        MetricSpec(name="b_sum", calculation_method="sum", expression="v",
                   model="t",
                   filters=[MetricFilter(field="s", operator="=", value="B")]),
    ]
    got = comp.compile_shared(specs).collect()[0]
    assert got["all_sum"] == 33.0 and got["b_sum"] == 30.0

    import pytest as _pytest

    other = MetricSpec(name="x", calculation_method="sum", expression="v",
                       model="other")
    with _pytest.raises(ValueError, match="one model"):
        comp.compile_shared([specs[0], other])
    with _pytest.raises(ValueError, match="at least one"):
        comp.compile_shared([])
    ratio = MetricSpec(
        name="r", metric_type="ratio", calculation_method="sum",
        expression="v", model="t",
        numerator=specs[0], denominator=specs[1],
    )
    with _pytest.raises(ValueError, match="simple metrics only"):
        comp.compile_shared([ratio])


# ---------------------------------------------------------------------------
# plan cache: repeated requests over unchanged tables reuse one plan
# ---------------------------------------------------------------------------

REVENUE = MetricSpec(
    name="revenue", calculation_method="sum", expression="o_totalprice",
    model="orders", timestamp="o_orderdate", dimensions=["o_orderstatus"],
)


def _table_compiler(spark, data_dir, **kw):
    return MetricCompiler(lambda m: tables.load_table(spark, data_dir, m), **kw)


@pytest.fixture
def table_dir(tmp_path, sf_dir):
    """sf_dir's tables, with orders.parquet a private copy a test may
    rewrite."""
    for t in tables.TABLES:
        os.symlink(os.path.join(sf_dir, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    orders = tmp_path / "orders.parquet"
    os.remove(orders)
    pq.write_table(pq.read_table(os.path.join(sf_dir, "orders.parquet")), orders)
    return str(tmp_path)


def test_plan_cache_misses_after_table_rewrite(spark, table_dir):
    comp = _table_compiler(spark, table_dir)
    orders = tables.load_table(spark, table_dir, "orders")
    assert tables.load_table(spark, table_dir, "orders") is orders
    assert tables.snapshot_of(orders) is not None
    assert tables.snapshot_of(orders.where("o_totalprice > 0")) is None
    sql = oracle_sql_for(REVENUE, "month")
    first = comp.compile(REVENUE, "month")
    assert comp.compile(REVENUE, "month") is first
    assert_matches_oracle(first, sql, table_dir)
    before = sorted(tuple(r) for r in first.collect())

    path = os.path.join(table_dir, "orders.parquet")
    t = pq.read_table(path)
    pq.write_table(t.slice(0, t.num_rows // 2), path)
    assert tables.load_table(spark, table_dir, "orders") is not orders
    second = comp.compile(REVENUE, "month")
    assert second is not first
    assert_matches_oracle(second, sql, table_dir)
    assert sorted(tuple(r) for r in second.collect()) != before


def test_plan_cache_evicts_least_recently_used(spark, sf_dir):
    PLAN_CACHE.clear()
    comp = _table_compiler(spark, sf_dir)
    specs = [
        MetricSpec(name=f"n{i}", calculation_method="count", model="orders")
        for i in range(PLAN_CACHE_BOUND + 1)
    ]
    evictions = plan_cache_stats()["evictions"]
    dfs = [comp.compile(s) for s in specs]
    stats = plan_cache_stats()
    assert stats["entries"] == PLAN_CACHE_BOUND
    assert stats["evictions"] - evictions == 1
    assert comp.compile(specs[1]) is dfs[1]
    assert comp.compile(specs[0]) is not dfs[0]


def test_plan_cache_keys_current_date_filters_on_session_date(
    spark, sf_dir, monkeypatch
):
    assert compiler._session_date(spark) == spark.sql(
        "SELECT CAST(current_date() AS STRING)"
    ).first()[0]
    recent = MetricSpec(
        name="recent_orders", calculation_method="count", model="orders",
        timestamp="o_orderdate",
        filters=[MetricFilter(
            "o_orderdate", ">=", "{{ dbt.dateadd('day', -30, 'current_date') }}"
        )],
    )
    comp = _table_compiler(spark, sf_dir)
    first = comp.compile(recent, "month")
    literal = comp.compile(REVENUE, "month")
    assert comp.compile(recent, "month") is first
    monkeypatch.setattr(compiler, "_session_date", lambda s: "2999-01-01")
    assert comp.compile(recent, "month") is not first
    assert comp.compile(REVENUE, "month") is literal


def test_in_memory_frames_bypass_plan_cache(spark, sf_dir):
    frame = spark.createDataFrame([(1, "a"), (2, "b")], "x long, k string")
    spec = MetricSpec(
        name="total", calculation_method="sum", expression="x", model="t",
        dimensions=["k"],
    )
    filtered = MetricCompiler(
        lambda m: tables.load_table(spark, sf_dir, m).where(F.col("o_totalprice") > 0)
    )
    before = plan_cache_stats()
    comp = MetricCompiler(lambda m: frame)
    assert comp.compile(spec) is not comp.compile(spec)
    assert filtered.compile(REVENUE) is not filtered.compile(REVENUE)
    assert plan_cache_stats() == before


def test_concurrent_requests_match_oracle(spark, sf_dir):
    registry = {
        "revenue": REVENUE,
        "buyers": MetricSpec(
            name="buyers", calculation_method="count_distinct",
            expression="o_custkey", model="orders", timestamp="o_orderdate",
            dimensions=["o_orderstatus"],
        ),
    }
    spec = MetricSpec(
        name="per_buyer", metric_type="derived", expression="revenue / buyers",
        input_metrics=["revenue", "buyers"], model="orders",
        timestamp="o_orderdate", dimensions=["o_orderstatus"],
    )
    sql = oracle_sql_for(spec, "quarter", registry=registry)
    PLAN_CACHE.clear()
    before = plan_cache_stats()

    def request(_):
        df = _table_compiler(spark, sf_dir, registry=registry).compile(spec, "quarter")
        assert_matches_oracle(df, sql, sf_dir)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(8) as pool:
            for f in [pool.submit(request, i) for i in range(8)]:
                f.result(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    after = plan_cache_stats()
    assert after["entries"] == 1
    assert (after["hits"] + after["misses"]) - (before["hits"] + before["misses"]) == 8


def test_plan_cache_persists_nothing(spark, sf_dir):
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    comp = _table_compiler(spark, sf_dir)
    for _ in range(3):
        comp.compile(REVENUE, "month").collect()
    assert persisted() - before == set()
