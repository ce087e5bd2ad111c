"""Property-based differential tests for text/dedup operators: random
printable-ASCII corpora (regex metachars, quotes, runs of whitespace,
empty-ish strings) written as a documents table and pushed through BOTH
engines using the exact oracle SQL registered in the driver contract.
Any divergence is an engine-semantics gap the fixture corpus missed."""

from __future__ import annotations

import math

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dbt_metrics_ingestion_script_spark import queries as q

TEXT_QUERIES = [
    "text_stats",
    "text_token_count_bpe",
    "text_language_id",
    "text_doc_fingerprint",
    "text_quality_score",
    "dedup_exact",
]

ascii_text = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=120
)
corpora = st.lists(ascii_text, min_size=1, max_size=20)


def _write_documents(spark, tmpdir: str, texts: list[str]) -> None:
    rows = [
        (i, t, "en", "hypothesis", len(t)) for i, t in enumerate(texts)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")


def _run_duckdb(sql: str, tmpdir: str):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmpdir}/documents.parquet/*.parquet')"
    )
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    return v


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=corpora)
@pytest.mark.slow
def test_text_ops_agree_on_adversarial_corpora(spark, tmp_path_factory, texts):
    q.queries()
    tmpdir = str(tmp_path_factory.mktemp("hyptext"))
    _write_documents(spark, tmpdir, texts)
    for name in TEXT_QUERIES:
        qd = q.REGISTRY[name]
        sdf = qd.fn(spark, tmpdir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        o_cols, o_rows = _run_duckdb(qd.oracle, tmpdir)
        assert sorted(s_cols) == sorted(o_cols), name
        order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
        order_o = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
        ns = sorted(
            [tuple(_norm(r[i]) for i in order_s) for r in s_rows], key=repr
        )
        no = sorted(
            [tuple(_norm(r[i]) for i in order_o) for r in o_rows], key=repr
        )
        assert ns == no, f"{name} diverged on {texts!r}:\n{ns}\nvs\n{no}"


@pytest.mark.parametrize("degenerate", [[""], [" "], ["  \t "], ["a"], ['"'], ["\\"]])
def test_text_ops_agree_on_degenerate_docs(spark, tmp_path_factory, degenerate):
    q.queries()
    tmpdir = str(tmp_path_factory.mktemp("degtext"))
    _write_documents(spark, tmpdir, degenerate)
    for name in TEXT_QUERIES:
        qd = q.REGISTRY[name]
        s_rows = sorted(map(repr, (tuple(r) for r in qd.fn(spark, tmpdir).collect())))
        _, o_rows = _run_duckdb(qd.oracle, tmpdir)
        assert len(s_rows) == len(o_rows), name


CORPUS_QUERIES = [
    "corpus_decontamination",
    "corpus_bloom_decontamination",
    "corpus_stratified_sample",
    "corpus_temperature_sample",
    "corpus_chunks_fixed",
    "corpus_pack_next_fit",
    "corpus_length_profile",
    "corpus_duplication_report",
    "corpus_quality_percentile_filter",
    "text_vocab_top_terms",
    "text_source_term_kl",
    "corpus_line_dedup",
    "corpus_source_cap",
    "corpus_global_shuffle",
    "text_quality_classifier",
    "text_vocab_coverage",
    "corpus_line_dedup_incremental",
    "dedup_containment_pairs",
    "corpus_budget_select",
    "text_token_entropy",
    # round-6 additions over the documents table
    "corpus_pps_systematic_sample",
    "corpus_length_histogram",
    "corpus_train_val_test_split",
    "corpus_mixing_schedule",
    "dedup_fuzzy_title_pairs",
    "dedup_fuzzy_title_pairs_dense",
    "text_zipf_slope",
    # round-7 additions over the documents table
    "corpus_dup_ngram_fraction",
    "text_bpe_pair_counts",
]


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=corpora)
@pytest.mark.slow
def test_corpus_ops_agree_on_adversarial_corpora(spark, tmp_path_factory, texts):
    """Same adversarial-corpus differential harness for the corpus
    preparation queries (decontaminate / sample / chunk / pack), with
    langs cycling through known / unknown-rate / empty-string strata so
    multi-shard packing and the sampling default-rate branch are hit."""
    q.queries()
    tmpdir = str(tmp_path_factory.mktemp("hypcorpus"))
    langs = ["en", "zh", "", "xx"]
    rows = [
        (i, t, langs[i % len(langs)], "hypothesis", len(t))
        for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")
    for name in CORPUS_QUERIES:
        qd = q.REGISTRY[name]
        sdf = qd.fn(spark, tmpdir)
        s_cols = sdf.columns
        s_rows = [tuple(r) for r in sdf.collect()]
        o_cols, o_rows = _run_duckdb(qd.oracle, tmpdir)
        assert sorted(s_cols) == sorted(o_cols), name
        order_s = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
        order_o = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
        ns = sorted(
            [tuple(_norm(r[i]) for i in order_s) for r in s_rows], key=repr
        )
        no = sorted(
            [tuple(_norm(r[i]) for i in order_o) for r in o_rows], key=repr
        )
        assert ns == no, f"{name} diverged on {texts!r}:\n{ns}\nvs\n{no}"


@pytest.mark.slow
def test_duplicate_clusters_chain_corpus_matches_oracle(spark, tmp_path_factory):
    """Three documents where A~B and B~C overlap enough for Jaccard>=0.2
    but A and C don't: the recursive-CTE oracle and the star algorithm
    must both collapse them into one cluster."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    texts = [
        base + " one two three four five",            # A: shares core with B
        base + " six seven eight nine ten",           # B: shares core with A and C
        "lambda mu " + base.replace("alpha beta ", "") + " six seven eight nine ten eleven",  # C
        "completely different vocabulary with no overlap at all here",
    ]
    q.queries()
    tmpdir = str(tmp_path_factory.mktemp("chaincorpus"))
    _write_documents(spark, tmpdir, texts)
    qd = q.REGISTRY["dedup_duplicate_clusters"]
    s_rows = sorted(tuple(r) for r in qd.fn(spark, tmpdir).collect())
    _, o_rows = _run_duckdb(qd.oracle, tmpdir)
    assert s_rows == sorted(o_rows)
    if s_rows:  # every flagged doc resolves to one shared min label
        labels = {c for _, c in s_rows}
        assert min(labels) == min(d for d, _ in s_rows)


@pytest.mark.slow
def test_corpus_ops_agree_on_null_rows(spark, tmp_path_factory):
    """NULL text / NULL lang rows: every corpus query must agree with
    its oracle on whether the row survives (the NULL-concat and
    NULL-lambda semantics differ between engines unless pinned)."""
    rows = [
        (0, None, None, "hyp", 0),
        (1, "", "en", "hyp", 0),
        (2, "plain ok text here we go", None, "hyp", 24),
        (3, "plain ok text here we go", "en", "hyp", 24),
    ]
    tmpdir = str(tmp_path_factory.mktemp("nullcorpus"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")
    q.queries()
    for name in CORPUS_QUERIES + ["dedup_duplicate_clusters"]:
        qd = q.REGISTRY[name]
        s_rows = sorted(
            map(repr, (tuple(r) for r in qd.fn(spark, tmpdir).collect()))
        )
        _, o_rows = _run_duckdb(qd.oracle, tmpdir)
        o_rows = sorted(map(repr, (tuple(r) for r in o_rows)))
        assert len(s_rows) == len(o_rows), (name, s_rows, o_rows)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    deltas=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # user id
            st.integers(min_value=0, max_value=4000),   # seconds offset
            st.integers(min_value=0, max_value=999999), # microseconds
        ),
        min_size=1,
        max_size=40,
    )
)
@pytest.mark.slow
def test_sessionization_agrees_on_random_events(spark, tmp_path_factory, deltas):
    """Random users/offsets/micros (including duplicate timestamps and
    gaps straddling the 30-min boundary) through BOTH engines."""
    from datetime import datetime, timedelta

    q.queries()
    tmpdir = str(tmp_path_factory.mktemp("hypsessions"))
    base = datetime(2024, 1, 1)
    rows = [
        (i, base + timedelta(seconds=s, microseconds=us), u, "click", 1.0, "{}")
        for i, (u, s, us) in enumerate(deltas)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")
    qd = q.REGISTRY["events_sessionization"]
    sdf = qd.fn(spark, tmpdir)
    s_rows = sorted(
        [tuple(_norm(v) for v in r) for r in (tuple(r) for r in sdf.collect())],
        key=repr,
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{tmpdir}/events.parquet/*.parquet')"
    )
    o_rows = sorted(
        [tuple(_norm(v) for v in r) for r in con.execute(qd.oracle).fetchall()],
        key=repr,
    )
    # compare order-insensitively with columns aligned by name
    s_cols, o_cols = sdf.columns, [d[0] for d in con.execute(qd.oracle).description]
    assert sorted(s_cols) == sorted(o_cols)
    so = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    oo = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    assert sorted([tuple(r[i] for i in so) for r in s_rows], key=repr) == sorted(
        [tuple(r[i] for i in oo) for r in o_rows], key=repr
    ), deltas


EVENT_ANALYTICS_QUERIES = [
    "events_funnel_stages",
    "events_funnel_conversion_window",
    "events_session_window_agg",
    "events_range_join_sessions",
    "events_cohort_retention",
    "events_rolling_retention",
    "events_asof_last_order",
    "events_asof_last_order_bucketed",
    "events_hopping_window_agg",
    "events_hopping_window_agg_daily6h",
    "events_interarrival_profile",
    "events_daily_anomaly_zscore",
    # round-6 event analytics
    "events_markov_transitions",
    "events_top_paths",
    "events_lateness_profile",
    "events_active_time_coverage",
    "events_attribution_linear",
    "events_frequent_pairs",
    "events_scd2_user_state",
    "events_countmin_user_counts",
    "events_zorder_layout",
    # round-7 event analytics
    "events_user_rolling_features",
]


def _diff_event_query(spark, tmpdir: str, name: str) -> None:
    """Run a registered event query and its oracle over the fixture dir
    and compare order-insensitively with columns aligned by name."""
    qd = q.REGISTRY[name]
    sdf = qd.fn(spark, tmpdir)
    s_rows = [tuple(r) for r in sdf.collect()]
    con = duckdb.connect()
    for t in ("events", "orders"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmpdir}/{t}.parquet/*.parquet')"
        )
    cur = con.execute(qd.oracle)
    o_cols = [d[0] for d in cur.description]
    o_rows = cur.fetchall()
    s_cols = sdf.columns
    assert sorted(s_cols) == sorted(o_cols), name
    so = sorted(range(len(s_cols)), key=lambda i: s_cols[i])
    oo = sorted(range(len(o_cols)), key=lambda i: o_cols[i])
    ns = sorted(
        [tuple(_norm(r[i]) for i in so) for r in s_rows], key=repr
    )
    no = sorted(
        [tuple(_norm(r[i]) for i in oo) for r in o_rows], key=repr
    )
    assert ns == no, f"{name} diverged:\n{ns}\nvs\n{no}"


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),          # user id
            st.integers(min_value=0, max_value=1_500_000),  # seconds offset (~17 days)
            st.sampled_from([0, 500000]),                   # micros: frequent exact ties
            st.integers(min_value=0, max_value=3),          # event type index
        ),
        min_size=1,
        max_size=40,
    ),
    orders=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),   # customer == user id space
            st.integers(min_value=0, max_value=20),  # order day offset
            st.integers(min_value=1, max_value=999), # price
        ),
        min_size=0,
        max_size=20,
    ),
)
@pytest.mark.slow
def test_event_analytics_agree_on_random_events(
    spark, tmp_path_factory, events, orders
):
    """Funnel / range-join / cohort / as-of through BOTH engines on
    random event streams with deliberate exact-timestamp ties (the
    funnel and as-of tie rules), week-boundary-straddling activity
    (cohort offsets), and orders that may precede, tie with, or miss
    the event range entirely (as-of null fill)."""
    from datetime import date, datetime, timedelta

    q.queries()
    tmpdir = str(tmp_path_factory.mktemp("hypevents"))
    base = datetime(2024, 1, 1)
    etypes = ["view", "click", "purchase", "error"]
    ev_rows = [
        (i, base + timedelta(seconds=s, microseconds=us), u, etypes[ti], 1.0, "{}")
        for i, (u, s, us, ti) in enumerate(events)
    ]
    spark.createDataFrame(
        ev_rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")
    o_rows = [
        (i, c, date(2023, 12, 25) + timedelta(days=d), float(p))
        for i, (c, d, p) in enumerate(orders)
    ]
    spark.createDataFrame(
        o_rows,
        "o_orderkey long, o_custkey long, o_orderdate date, o_totalprice double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/orders.parquet")
    for name in EVENT_ANALYTICS_QUERIES:
        _diff_event_query(spark, tmpdir, name)


@pytest.mark.slow
def test_event_analytics_agree_on_null_timestamps(spark, tmp_path_factory):
    """NULL event timestamps and NULL order dates through both engines:
    the funnel drops them on both sides, cohort retention excludes them
    from cohorts and activity, and the as-of join must NOT treat a
    NULL-timestamp right row as a phantom '-infinity' match (Spark's
    nulls-first sort would otherwise carry it into every left row where
    ASOF semantics return no match).  events_range_join_sessions is
    excluded: sessionization's contract assumes non-null event time
    (the physical events table is non-null there)."""
    from datetime import date, datetime

    q.queries()
    tmpdir = str(tmp_path_factory.mktemp("nullevents"))
    t = lambda d, h=0: datetime(2024, 1, d, h)  # noqa: E731
    ev_rows = [
        (0, t(1), 0, "view", 1.0, "{}"),
        (1, None, 0, "click", 1.0, "{}"),   # NULL ts: cannot progress funnel
        (2, t(2), 0, "click", 1.0, "{}"),
        (3, None, 1, "view", 1.0, "{}"),    # user 1: ONLY null-ts events
        (4, t(9), 2, "purchase", 1.0, "{}"),
    ]
    spark.createDataFrame(
        ev_rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/events.parquet")
    o_rows = [
        (0, 0, date(2023, 12, 30), 10.0),
        (1, 0, None, 999.0),   # NULL order date: must never match
        (2, 2, None, 888.0),   # user 2's ONLY order row is NULL-dated
    ]
    spark.createDataFrame(
        o_rows,
        "o_orderkey long, o_custkey long, o_orderdate date, o_totalprice double",
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/orders.parquet")
    for name in (
        "events_funnel_stages",
        "events_funnel_conversion_window",
        "events_session_window_agg",
        "events_cohort_retention",
        "events_rolling_retention",
        "events_asof_last_order",
        "events_asof_last_order_bucketed",
        # hopping windows: Spark's F.window drops NULL-ts rows; the
        # oracle's WHERE ts IS NOT NULL must match (a bare offset
        # unnest would count each NULL-ts event window/hop times)
        "events_hopping_window_agg",
        "events_hopping_window_agg_daily6h",
        "events_interarrival_profile",
        "events_daily_anomaly_zscore",
        # round-6 event analytics: NULL-ts rows must drop identically
        "events_markov_transitions",
        "events_top_paths",
        "events_lateness_profile",
        "events_active_time_coverage",
        "events_attribution_linear",
        "events_frequent_pairs",
        "events_scd2_user_state",
        "events_countmin_user_counts",
        "events_zorder_layout",
    ):
        _diff_event_query(spark, tmpdir, name)
