"""Property tests for the training-corpus preparation operators
(operators/corpus.py).  Differential DuckDB coverage for the four
registered corpus_* queries runs in test_metric_compiler's
ORACLE_BACKED sweep; these tests pin the semantic invariants the
oracle can't express (coverage, determinism, packing layout).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark.operators import corpus


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def test_decontamination_flags_verbatim_overlap(spark):
    train = _docs(
        spark,
        [
            (1, "the quick brown fox jumps over the lazy dog", "en"),
            (2, "completely disjoint vocabulary here alpha beta gamma", "en"),
            (3, "prefix words then the quick brown fox jumps over suffix", "en"),
        ],
    )
    eval_set = _docs(spark, [(100, "the quick brown fox jumps over a fence", "en")])
    got = {
        r["doc_id"]: r["n_overlap"]
        for r in corpus.decontaminate_ngram_overlap(train, eval_set, n=5).collect()
    }
    # docs 1 and 3 share the 5-gram "the quick brown fox jumps" (and more)
    assert set(got) == {1, 3}
    assert all(v >= 1 for v in got.values())


def test_decontamination_min_overlap_threshold(spark):
    train = _docs(spark, [(1, "a b c d e f", "en")])
    eval_set = _docs(spark, [(100, "a b c d e z", "en")])
    # exactly one shared 5-gram ("a b c d e")
    assert corpus.decontaminate_ngram_overlap(
        train, eval_set, n=5, min_overlap=2
    ).count() == 0
    assert corpus.decontaminate_ngram_overlap(
        train, eval_set, n=5, min_overlap=1
    ).count() == 1


# ---------------------------------------------------------------------------
# stratified sampling
# ---------------------------------------------------------------------------


def test_stratified_sample_rates_and_determinism(spark):
    rows = [(i, f"text {i}", ["en", "zh"][i % 2]) for i in range(2000)]
    df = _docs(spark, rows)
    out = corpus.stratified_sample(df, "lang", {"en": 1.0, "zh": 0.25})
    counts = {
        r["lang"]: r["n"]
        for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    assert counts["en"] == 1000  # rate 1.0 keeps everything
    assert 150 <= counts.get("zh", 0) <= 350  # ~250 expected
    # deterministic: identical output on re-run (function of id+stratum)
    ids1 = {r["doc_id"] for r in out.collect()}
    ids2 = {
        r["doc_id"]
        for r in corpus.stratified_sample(
            df, "lang", {"en": 1.0, "zh": 0.25}
        ).collect()
    }
    assert ids1 == ids2
    # rate 0 drops the stratum entirely
    none = corpus.stratified_sample(df, "lang", {"en": 0.0}, default_rate=0.0)
    assert none.count() == 0


def test_stratified_sample_is_subset(spark):
    df = _docs(spark, [(i, f"t {i}", "en") for i in range(100)])
    sampled = {r["doc_id"] for r in corpus.stratified_sample(df, "lang", {"en": 0.5}).collect()}
    assert sampled <= set(range(100))
    assert 0 < len(sampled) < 100


# ---------------------------------------------------------------------------
# chunking
# ---------------------------------------------------------------------------


def test_chunk_fixed_covers_text(spark):
    text = "x" * 777
    df = _docs(spark, [(1, text, "en")])
    chunks = corpus.chunk_fixed(df, chunk_chars=200, overlap=50).collect()
    stride = 150
    expected_offsets = list(range(0, len(text), stride))
    assert sorted(r["chunk_offset"] for r in chunks) == expected_offsets
    for r in chunks:
        expected_len = min(200, len(text) - r["chunk_offset"])
        assert r["chunk_len"] == expected_len
    # consecutive chunks overlap by `overlap` chars
    assert expected_offsets[1] - expected_offsets[0] == stride


def test_chunk_fixed_empty_and_short_docs(spark):
    df = _docs(spark, [(1, "", "en"), (2, "short", "en")])
    got = corpus.chunk_fixed(df, chunk_chars=200, overlap=50).collect()
    by_doc = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 1 and by_doc[1][0]["chunk_len"] == 0
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_len"] == 5


def test_chunk_fixed_rejects_bad_overlap(spark):
    df = _docs(spark, [(1, "abc", "en")])
    try:
        corpus.chunk_fixed(df, chunk_chars=100, overlap=100)
        raise AssertionError("expected ValueError")
    except ValueError:
        pass


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def test_pack_next_fit_layout(spark):
    # shard "en": docs of 3, 4, 5 tokens; capacity 8.
    # cum_excl: 0, 3, 7 -> all bin 0 (a doc belongs to the bin its first
    # token lands in; doc 3 straddles the boundary).
    # shard "zh": 6-token docs at cum_excl 0, 6 -> bin 0; 12 -> bin 1.
    rows = [
        (1, "a b c", "en"),
        (2, "a b c d", "en"),
        (3, "a b c d e", "en"),
        (10, "a b c d e f", "zh"),
        (11, "a b c d e f", "zh"),
        (12, "a b c d e f", "zh"),
    ]
    out = {
        (r["shard"], r["bin_id"]): (r["n_docs"], r["n_tokens"])
        for r in corpus.pack_next_fit(
            _docs(spark, rows), "lang", capacity=8
        ).collect()
    }
    assert out == {
        ("en", 0): (3, 12),
        ("zh", 0): (2, 12),
        ("zh", 1): (1, 6),
    }


def test_pack_conserves_tokens(spark, sf_dir):
    from dbt_metrics_ingestion_script_spark.operators.dedup import normalize_text
    from dbt_metrics_ingestion_script_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    packed = corpus.pack_next_fit(docs, "lang", capacity=512)
    total_packed = packed.agg(F.sum("n_tokens")).collect()[0][0]
    total_direct = docs.select(
        F.size(F.split(normalize_text("text"), " ")).alias("n")
    ).agg(F.sum("n")).collect()[0][0]
    assert total_packed == total_direct
    # bin ids are dense from 0 within every shard
    per_shard = packed.groupBy("shard").agg(
        F.min("bin_id").alias("lo"),
        F.max("bin_id").alias("hi"),
        F.count_distinct("bin_id").alias("n"),
    )
    for r in per_shard.collect():
        assert r["lo"] == 0 and r["n"] == r["hi"] + 1


def test_percentile_filter_per_stratum_semantics(spark):
    """Keeps the top q per stratum with deterministic tie handling: a
    boundary tie group is kept whole (percent_rank gives equal scores
    equal rank); strata are independent; q validates."""
    import pytest

    rows = [
        # stratum A: scores 1..4 distinct -> top half = {3, 4}
        (1, "A", 1.0), (2, "A", 2.0), (3, "A", 3.0), (4, "A", 4.0),
        # stratum B: all-equal scores -> every row ties at rank 1,
        # pct_rank 0 -> NOTHING reaches >= 0.5 (documented tie rule)
        (5, "B", 7.0), (6, "B", 7.0), (7, "B", 7.0),
        # stratum C: single row -> pct_rank 0 -> dropped at q=0.5
        (8, "C", 9.0),
    ]
    df = spark.createDataFrame(rows, "doc_id long, src string, score double")
    kept = {
        r["doc_id"]: r["pct_rank"]
        for r in corpus.percentile_filter(
            df, score_col="score", stratum_col="src", q=0.5
        ).collect()
    }
    assert set(kept) == {3, 4}
    assert kept[4] == 1.0
    # q=1 keeps everything (pct_rank >= 0)
    all_kept = corpus.percentile_filter(
        df, score_col="score", stratum_col="src", q=1.0
    ).count()
    assert all_kept == len(rows)
    with pytest.raises(ValueError, match="q must be"):
        corpus.percentile_filter(df, score_col="score", stratum_col="src", q=0)


def test_temperature_sample_rates_and_determinism(spark):
    """Rate math: rarest stratum keeps rate 1.0, a stratum k times
    larger keeps sqrt(1/k) at alpha=0.5; decisions are hash-stable
    across runs; NULL strata group with ''; alpha=1 keeps everything;
    alpha validates."""
    import pytest

    rows = (
        [(i, "big") for i in range(400)]
        + [(1000 + i, "small") for i in range(100)]
        + [(2000, None), (2001, None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = corpus.temperature_sample(df, stratum_col="lang", alpha=0.5)
    rates = {
        r["lang"]: r["keep_rate"]
        for r in out.select("lang", "keep_rate").distinct().collect()
    }
    # cmin = 2 (the NULL group): rates = sqrt(2/c)
    assert rates.get(None) == 1.0
    assert abs(rates["small"] - round((2 / 100) ** 0.5, 6)) < 1e-9
    assert abs(rates["big"] - round((2 / 400) ** 0.5, 6)) < 1e-9
    # deterministic: the same call keeps the same rows
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(
        r["doc_id"]
        for r in corpus.temperature_sample(
            df, stratum_col="lang", alpha=0.5
        ).collect()
    )
    assert ids1 == ids2 and ids1  # non-empty
    # kept counts trend toward sqrt proportions: big kept ~ 400*sqrt(2/400)=20
    from collections import Counter

    kept_by = Counter(r["lang"] for r in out.collect())
    assert kept_by[None] == 2  # rate 1.0 keeps all
    assert 0 < kept_by["big"] < 80  # way below the natural 400
    # alpha=1: natural distribution, rate 1 everywhere
    assert (
        corpus.temperature_sample(df, stratum_col="lang", alpha=1.0).count()
        == len(rows)
    )
    with pytest.raises(ValueError, match="alpha"):
        corpus.temperature_sample(df, stratum_col="lang", alpha=1.5)


def test_temperature_sample_corpus_stays_mapside(spark, sf_dir):
    """The corpus never shuffles: the only exchanges in the plan hash
    tiny stratum frames (counts + broadcast of rates); the documents
    scan feeds the filter directly."""
    from dbt_metrics_ingestion_script_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    plan_df = corpus.temperature_sample(docs, stratum_col="lang")
    jmode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = plan_df._jdf.queryExecution().explainString(jmode)
    # the big side reaches the join through a BroadcastHashJoin probe,
    # never through a shuffle exchange on doc rows
    assert "BroadcastHashJoin" in plan
    # exactly the aggregation exchanges (stratum counts): every
    # Exchange in the plan is hashpartitioning on the stratum key
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^,]+)", plan):
        assert "__strat" in m.group(1), plan


def test_bloom_decontamination_superset_of_exact(spark, sf_dir):
    """One-sided error, proven on the fixture corpus: every document
    the exact n-gram decontamination flags is also bloom-flagged (no
    false negatives at ANY m), and at the registered small m the bloom
    over-flags (false positives exist -- the thing the driver oracle
    replays bit-identically)."""
    from dbt_metrics_ingestion_script_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 19 != 0)
    eval_set = docs.where(F.col("doc_id") % 19 == 0)
    exact = {
        r["doc_id"]
        for r in corpus.decontaminate_ngram_overlap(
            train, eval_set, n=5
        ).collect()
    }
    small_m = {
        r["doc_id"]
        for r in corpus.decontaminate_bloom(
            train, eval_set, n=5, m_bits=4096, k=3
        ).collect()
    }
    assert exact <= small_m, "bloom must never miss true contamination"
    big_m = {
        r["doc_id"]
        for r in corpus.decontaminate_bloom(
            train, eval_set, n=5, m_bits=1 << 24, k=3
        ).collect()
    }
    assert exact <= big_m <= small_m
    import pytest

    with pytest.raises(ValueError, match="m_bits"):
        corpus.decontaminate_bloom(train, eval_set, k=0)


def test_duplication_report_semantics(spark, tmp_path):
    """Digest-based: normalization jitter counts as a dup; rates are
    per source; a dup shared ACROSS sources does not raise either
    source's within-source rate."""
    from dbt_metrics_ingestion_script_spark import queries_corpus

    rows = [
        (0, "same text here", "en", "A", 14),
        (1, "SAME   text HERE", "en", "A", 16),  # jitter dup of 0
        (2, "unique a", "en", "A", 8),
        (3, "same text here", "en", "B", 14),    # cross-source: B-unique
        (4, "unique b", "en", "B", 8),
    ]
    tmpdir = str(tmp_path / "dupes")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmpdir}/documents.parquet")
    got = {
        r["source"]: (r["n_docs"], r["n_unique"], r["dup_rate"])
        for r in queries_corpus.corpus_duplication_report(
            spark, tmpdir
        ).collect()
    }
    assert got == {
        "A": (3, 2, round(1 - 2 / 3, 6)),
        "B": (2, 2, 0.0),
    }


# ---------------------------------------------------------------------------
# line (segment) dedup
# ---------------------------------------------------------------------------


def test_line_dedup_removes_all_copies_of_duplicated_segments(spark):
    """CCNet drop-all semantics: a segment occurring >= threshold times
    vanishes from EVERY document carrying it -- including the first."""
    boiler = "all rights reserved site map"  # 5 words = one segment
    docs = _docs(
        spark,
        [
            (1, boiler + " unique alpha beta gamma delta", "en"),
            (2, boiler + " other epsilon zeta eta theta", "en"),
            (3, "fully unique text with five words", "en"),
        ],
    )
    got = {
        r["doc_id"]: r
        for r in corpus.line_dedup(docs, segment_words=5).collect()
    }
    assert set(got) == {1, 2, 3}
    assert got[1]["n_segments"] == 2 and got[1]["n_removed"] == 1
    assert got[1]["text_kept"] == "unique alpha beta gamma delta"
    assert got[2]["text_kept"] == "other epsilon zeta eta theta"
    assert got[3]["n_removed"] == 0
    assert got[3]["text_kept"] == "fully unique text with five words"


def test_line_dedup_counts_within_doc_repeats(spark):
    """A segment repeated inside ONE doc reaches the threshold by
    itself (total occurrences, not distinct docs)."""
    seg = "spam spam spam spam spam"
    docs = _docs(spark, [(1, seg + " " + seg + " tail words only here now", "en")])
    row = corpus.line_dedup(docs, segment_words=5).collect()[0]
    assert row["n_segments"] == 3
    assert row["n_removed"] == 2
    assert row["text_kept"] == "tail words only here now"


def test_line_dedup_fully_removed_doc_survives_with_empty_text(spark):
    docs = _docs(spark, [(1, "a b c d e", "en"), (2, "a b c d e", "en")])
    rows = {r["doc_id"]: r for r in corpus.line_dedup(docs, segment_words=5).collect()}
    assert set(rows) == {1, 2}
    assert all(r["text_kept"] == "" and r["n_removed"] == 1 for r in rows.values())


def test_line_dedup_unreachable_threshold_is_identity(spark):
    """With a threshold no segment reaches, reassembly reproduces the
    normalized text exactly -- segmentation + ordered concat is
    lossless, including the short final segment."""
    docs = _docs(
        spark,
        [
            (1, "  ONE two   Three four five six seven  ", "en"),
            (2, "alpha beta", "en"),
            (3, "", "en"),
        ],
    )
    rows = {
        r["doc_id"]: r
        for r in corpus.line_dedup(docs, segment_words=3, dup_threshold=99).collect()
    }
    assert rows[1]["text_kept"] == "one two three four five six seven"
    assert rows[1]["n_segments"] == 3 and rows[1]["n_removed"] == 0
    assert rows[2]["text_kept"] == "alpha beta"
    assert rows[3]["text_kept"] == ""


def test_line_dedup_rejects_bad_width(spark):
    import pytest

    with pytest.raises(ValueError):
        corpus.line_dedup(_docs(spark, [(1, "x", "en")]), segment_words=0)


# ---------------------------------------------------------------------------
# source cap + global shuffle
# ---------------------------------------------------------------------------


def test_source_cap_bounds_and_tiebreak(spark):
    rows = [(i, "t", "en", "srcA" if i < 8 else "srcB", 100) for i in range(12)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = corpus.source_cap_topk(df, k=3).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r["doc_id"])
    # at most k rows per stratum; all scores tie, so the id ASC
    # tiebreak keeps the LOWEST ids deterministically
    assert sorted(by_src["srcA"]) == [0, 1, 2]
    assert sorted(by_src["srcB"]) == [8, 9, 10]
    assert all(1 <= r["rank"] <= 3 for r in got)


def test_global_shuffle_is_a_permutation(spark):
    df = spark.createDataFrame(
        [(i, "x") for i in range(100)], "doc_id long, text string"
    )
    out = corpus.global_shuffle(df, seed=1, n_buckets=8).collect()
    assert sorted(r["doc_id"] for r in out) == list(range(100))  # every doc once
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r["bucket"], []).append(r["pos"])
    # in-shard positions are contiguous 1..n
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_bucket.values())


def test_global_shuffle_seed_reproducible_and_distinct(spark):
    df = spark.createDataFrame(
        [(i, "x") for i in range(50)], "doc_id long, text string"
    )
    order = lambda seed: [  # noqa: E731
        r["doc_id"]
        for r in sorted(
            corpus.global_shuffle(df, seed=seed, n_buckets=4).collect(),
            key=lambda r: (r["bucket"], r["pos"]),
        )
    ]
    a, b, c = order(7), order(7), order(8)
    assert a == b          # same seed -> identical epoch order
    assert a != c          # different seed -> different permutation
    assert a != list(range(50))  # and it actually shuffles


def test_line_dedup_against_index_batch_internal_not_counted(spark):
    """Only index frequencies matter: a segment spammed within the
    batch but absent from history survives; a known-boilerplate
    segment is stripped even on its first batch appearance."""
    boiler = "all rights reserved site map"
    ref = _docs(
        spark,
        [(100, boiler + " old content words here now", "en"),
         (102, boiler + " other history text goes here", "en")],
    )
    batch = _docs(
        spark,
        [(1, boiler + " fresh unique alpha beta gamma", "en"),
         (3, "spam spam spam spam spam " + "spam spam spam spam spam", "en")],
    )
    index = corpus.segment_count_index(ref, segment_words=5)
    rows = {
        r["doc_id"]: r
        for r in corpus.line_dedup_against_index(
            batch, index, segment_words=5, dup_threshold=2
        ).collect()
    }
    assert rows[1]["n_removed"] == 1
    assert rows[1]["text_kept"] == "fresh unique alpha beta gamma"
    # doc 3's repeated segment never appeared in history -> untouched
    assert rows[3]["n_removed"] == 0 and rows[3]["n_segments"] == 2


def test_budget_select_greedy_prefix_semantics(spark):
    """Quality-ordered greedy prefix: the first doc that would overflow
    the budget is cut, and nothing after it re-enters -- even a later
    doc small enough to fit (deterministic, not knapsack)."""
    mk = lambda n_stop, n_fill: " ".join(  # noqa: E731
        ["the"] * n_stop + [f"w{i}" for i in range(n_fill)]
    )
    df = spark.createDataFrame(
        [
            (1, mk(8, 2), "en", "s", 0),    # score 0.8, 10 tokens
            (2, mk(5, 5), "en", "s", 0),    # score 0.5, 10 tokens
            (3, mk(2, 8), "en", "s", 0),    # score 0.2, 10 tokens -> overflows at 25
            (4, mk(1, 1), "en", "s", 0),    # score 0.5 tie w/ 2? no: 1/2=0.5, 2 tokens
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {r["doc_id"]: r for r in corpus.budget_select(df, budget_tokens=25).collect()}
    # order: 1 (0.8), then the 0.5 ties 2 & 4 by id -> 2 (20), 4 (22); 3 overflows
    assert set(got) == {1, 2, 4}
    assert got[4]["running_tokens"] == 22
    import pytest

    with pytest.raises(ValueError):
        corpus.budget_select(df, budget_tokens=0)


# ---------------------------------------------------------------------------
# PPS systematic sampling
# ---------------------------------------------------------------------------


def _weighted(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, w long")


def test_pps_certainty_and_multiplicity(spark):
    # one whale doc holds ~all the weight: stride = total DIV k, so the
    # whale's segment contains multiple sampling points -> n_hits > 1,
    # and tiny docs are (almost) never selected
    rows = [(0, "s", 10_000)] + [(i, "s", 1) for i in range(1, 11)]
    got = {
        r["doc_id"]: r
        for r in corpus.pps_systematic_sample(
            _weighted(spark, rows), "w", stratum_col="source", k=5
        ).collect()
    }
    assert 0 in got
    assert got[0]["n_hits"] >= 4  # whale is ~all of total/stride points
    assert sum(r["n_hits"] for r in got.values()) >= 5


def test_pps_total_hits_matches_stride_walk(spark):
    # sum of multiplicities over a stratum == floor(total / stride):
    # the stride walk covers the line exactly once, no point lost at
    # bucket boundaries (the offset join is the part that could break)
    rows = [(i, "a" if i % 2 else "b", (i % 7) + 1) for i in range(200)]
    df = _weighted(spark, rows)
    out = corpus.pps_systematic_sample(
        df, "w", stratum_col="source", k=10, n_buckets=8
    )
    hits = {
        r["stratum"]: r["h"]
        for r in out.groupBy("stratum").agg(
            F.sum("n_hits").alias("h")
        ).collect()
    }
    totals = {
        r["source"]: r["t"]
        for r in df.groupBy("source").agg(F.sum("w").alias("t")).collect()
    }
    for s, tot in totals.items():
        stride = max(tot // 10, 1)
        assert hits[s] == tot // stride


def test_pps_drops_nonpositive_weights(spark):
    rows = [(1, "s", 0), (2, "s", -5), (3, "s", 100)]
    got = corpus.pps_systematic_sample(
        _weighted(spark, rows), "w", stratum_col="source", k=3
    ).collect()
    assert {r["doc_id"] for r in got} == {3}


def test_weighted_priority_sample_semantics(spark):
    """Priority sampling: k rows out, priorities non-increasing with
    deterministic reruns, non-positive weights excluded, priority =
    weight / u >= weight (u <= 1), and k >= n degrades to 'all positive
    rows'."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    rows = [(i, w) for i, w in [(1, 10), (2, 0), (3, 5), (4, -2), (5, 1000), (6, 7)]]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    got = corpus.weighted_priority_sample(df, F.col("w"), k=3).collect()
    assert len(got) == 3
    prios = [r["priority"] for r in got]
    assert prios == sorted(prios, reverse=True)
    assert all(r["priority"] >= r["weight"] for r in got)  # u <= 1
    again = corpus.weighted_priority_sample(df, F.col("w"), k=3).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in again]
    everyone = corpus.weighted_priority_sample(df, F.col("w"), k=10).collect()
    assert {r["doc_id"] for r in everyone} == {1, 3, 5, 6}  # w > 0 only
    with _pytest.raises(ValueError, match="k must be"):
        corpus.weighted_priority_sample(df, F.col("w"), k=0)


def test_weighted_priority_sample_is_takeordered(spark, sf_dir):
    """Plan: per-partition heaps + k-row merge (TakeOrderedAndProject),
    no global sort, no hash-partition exchange."""
    from dbt_metrics_ingestion_script_spark.registry import REGISTRY
    import dbt_metrics_ingestion_script_spark.queries_corpus  # noqa: F401

    df = REGISTRY["corpus_weighted_priority_sample"].fn(spark, sf_dir)
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan


def test_mixing_schedule_interleaves_at_weight_ratios(spark, sf_dir):
    """Reading in mix_key order must deliver sources at their weight
    ratios: in any prefix of the schedule, a weight-3 source has ~3x
    the documents of a weight-1 source (exact up to per-source +/-1
    rounding)."""
    from dbt_metrics_ingestion_script_spark.registry import REGISTRY
    import dbt_metrics_ingestion_script_spark.queries_corpus  # noqa: F401

    rows = REGISTRY["corpus_mixing_schedule"].fn(spark, sf_dir).collect()
    rows.sort(key=lambda r: (r["mix_key"], r["source"], r["doc_id"]))
    prefix = rows[: len(rows) // 2]
    from collections import Counter

    by_src = Counter(r["source"] for r in prefix)
    heavy = [c for s, c in by_src.items() if int(s[3:]) % 2 == 0]
    light = [c for s, c in by_src.items() if int(s[3:]) % 2 == 1]
    assert heavy and light
    ratio = (sum(heavy) / len(heavy)) / (sum(light) / len(light))
    assert 2.5 <= ratio <= 3.5  # weight 3 vs 1, +/- boundary rounding


def test_cdc_chunks_survive_prefix_insertion(spark):
    """The CDC selling point: inserting a prefix shifts EVERY
    fixed-width chunk hash but preserves the content-defined chunk
    hashes downstream of the edit -- boundaries follow content, not
    position."""
    from dbt_metrics_ingestion_script_spark.operators.corpus import (
        cdc_chunks,
        chunk_fixed,
    )

    body = (
        "the quick brown fox jumps over the lazy dog while the "
        "cat naps by the warm stove and the rain taps the window "
        "glass softly through the long gray afternoon hours again "
        "and again until the kettle sings and the bread is done"
    ) * 3
    docs = spark.createDataFrame(
        [(1, body), (2, "breaking news update " + body)],
        "doc_id long, text string",
    )
    cdc = cdc_chunks(docs)
    h1 = {r["chunk_hash"] for r in cdc.where("doc_id = 1").collect()}
    h2 = {r["chunk_hash"] for r in cdc.where("doc_id = 2").collect()}
    shared = len(h1 & h2)
    assert shared >= len(h1) * 0.6, (shared, len(h1), len(h2))
    # fixed-width chunking of the same pair: the prefix shifts every
    # boundary, so (almost) nothing is shared
    fx = chunk_fixed(docs)
    f1 = {r["chunk_hash"] for r in fx.where("doc_id = 1").collect()}
    f2 = {r["chunk_hash"] for r in fx.where("doc_id = 2").collect()}
    assert len(f1 & f2) < shared


def test_cdc_chunks_partition_document_exactly(spark):
    """Chunks tile the normalized document: contiguous, non-overlapping,
    covering; short docs (< window) come back as one whole-doc chunk;
    empty/NULL docs are dropped."""
    from dbt_metrics_ingestion_script_spark.operators.corpus import (
        cdc_chunks,
    )
    from dbt_metrics_ingestion_script_spark.operators.dedup import (
        normalize_text,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "a long enough document body to produce several chunks "
             "with varied content so boundaries actually fire " * 4),
         (2, "tiny"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = cdc_chunks(docs).orderBy("doc_id", "chunk_idx").collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}
    norms = {
        r["doc_id"]: r["n"]
        for r in docs.select(
            "doc_id", F.length(normalize_text("text")).alias("n")
        ).collect()
        if r["n"]
    }
    for doc_id, chunks in by_doc.items():
        pos = 0
        for c in chunks:
            assert c["chunk_start"] == pos
            assert c["chunk_len"] >= 1
            pos += c["chunk_len"]
        assert pos == norms[doc_id]
    assert len(by_doc[1]) > 1
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_len"] == 4


def test_curriculum_phases_monotone_and_balanced(spark, sf_dir):
    """Phase is monotone nonincreasing in score (a higher-scoring doc
    never lands in a later phase), phases span 1..10, and no phase is
    grossly imbalanced (exact-percentile boundaries)."""
    from dbt_metrics_ingestion_script_spark.operators.corpus import (
        curriculum_phases,
    )
    from dbt_metrics_ingestion_script_spark.operators.text import (
        unigram_logprob_score,
    )
    from dbt_metrics_ingestion_script_spark.sources.tables import load_table

    scores = unigram_logprob_score(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", "avg_logprob")
    rows = curriculum_phases(scores).collect()
    assert rows
    by_score = sorted(rows, key=lambda r: -r["avg_logprob"])
    phases = [r["phase"] for r in by_score]
    assert all(a <= b for a, b in zip(phases, phases[1:]))
    assert min(phases) == 1 and max(phases) <= 10
    n = len(rows)
    from collections import Counter

    sizes = Counter(phases)
    # exact percentiles: no phase exceeds ~2x its fair share unless the
    # score distribution has heavy ties (the synthetic corpus doesn't)
    assert max(sizes.values()) <= max(2 * n // 10, 3), sizes
    # order keys are deterministic 64-bit hashes, distinct per doc
    assert len({r["order_key"] for r in rows}) == n
