"""ML-preparation / data-quality query family (EXT, round 8 wave 3).

The remaining feature-engineering primitives a training pipeline runs
between raw tables and a model: leakage-safe out-of-fold target
encoding, percentile-binned RFM segmentation, a PII pattern scan for
scrubbing audits, robust (MAD) outlier profiling, inter-labeler
agreement (Cohen's kappa) between heuristic quality classifiers, the
hashing-trick collision profile, and frequent-pair association lift
over order baskets (the Apriori first pass).

Same driver contract as queries.py: every computed column aliased
identically in Spark and the DuckDB oracle; floats rounded identically
on both sides BEFORE any ranking/limit; exact interpolated percentile
(Spark `percentile` == DuckDB `quantile_cont`).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .functions.hashing import DUCKDB_HASH64, hash64
from .registry import register
from .sources.tables import load_table

# ---------------------------------------------------------------------------
# out-of-fold target encoding (leakage-safe categorical encoding)
# ---------------------------------------------------------------------------
#
# Target encoding replaces a categorical feature with the mean of the
# label over that category.  Done naively it leaks the row's own label
# into its feature; the standard fix is K-fold out-of-fold encoding:
# a row in fold f is encoded with the category mean computed from the
# OTHER folds only, smoothed toward the global mean by a pseudo-count
# prior m (Micci-Barreca 2001).  The artifact that ships to training
# is the tiny (category x fold) -> encoding map, broadcast-joined onto
# the raw rows -- so the query returns that map, not 10^11 encoded
# rows.  ONE scan: per-(category, fold) partial sums; category totals
# and the global mean re-aggregate from the tiny partial frame.

_TE_FOLDS = 5
_TE_SMOOTH = 10.0  # prior pseudo-count toward the global mean


@register(
    "events_target_encoding_oof",
    f"""
    WITH labeled AS (
      SELECT event_type,
             ({DUCKDB_HASH64.format(x="event_id::VARCHAR")}) % {_TE_FOLDS}
               AS fold,
             value
      FROM events
      WHERE value IS NOT NULL AND event_type IS NOT NULL
    ), cf AS (
      SELECT event_type, fold,
             SUM(value) AS s_cf, COUNT(*) AS n_cf
      FROM labeled GROUP BY 1, 2
    ), c AS (
      SELECT event_type, SUM(s_cf) AS s_c, SUM(n_cf) AS n_c
      FROM cf GROUP BY 1
    ), g AS (
      SELECT SUM(s_c) / SUM(n_c) AS mu FROM c
    )
    SELECT cf.event_type, cf.fold, cf.n_cf AS n_rows,
           ROUND((c.s_c - cf.s_cf + {_TE_SMOOTH} * g.mu)
                 / (c.n_c - cf.n_cf + {_TE_SMOOTH}), 6) AS oof_encoding
    FROM cf JOIN c USING (event_type) CROSS JOIN g
    """,
)
def events_target_encoding_oof(spark, sf_dir):
    """K-fold out-of-fold target encoding of event_type against the
    numeric label `value`.  Leakage-safe by construction: the encoding
    for fold f sums every fold EXCEPT f (category total minus the
    fold's own partial), so no row's label contributes to its own
    feature.  ONE events scan produces the (category, fold) partial
    frame; category totals and the global prior mean are WINDOWS over
    that tiny frame (a category partition and an empty-key window --
    the Q15 anchor idiom), never a re-derivation that would rescan
    events; at serving time the returned map broadcast-joins onto the
    raw rows (plan-locked to a single events scan)."""
    from pyspark.sql import Window

    labeled = (
        load_table(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & F.col("event_type").isNotNull())
        .select(
            "event_type",
            (hash64(F.col("event_id")) % _TE_FOLDS).alias("fold"),
            "value",
        )
    )
    cf = labeled.groupBy("event_type", "fold").agg(
        F.sum("value").alias("s_cf"), F.count("*").alias("n_cf")
    )
    wc = Window.partitionBy("event_type")
    wg = Window.partitionBy()
    enriched = cf.select(
        "event_type",
        "fold",
        "s_cf",
        "n_cf",
        F.sum("s_cf").over(wc).alias("s_c"),
        F.sum("n_cf").over(wc).alias("n_c"),
        (F.sum("s_cf").over(wg) / F.sum("n_cf").over(wg)).alias("mu"),
    )
    return enriched.select(
        "event_type",
        "fold",
        F.col("n_cf").alias("n_rows"),
        F.round(
            (F.col("s_c") - F.col("s_cf") + F.lit(_TE_SMOOTH) * F.col("mu"))
            / (F.col("n_c") - F.col("n_cf") + F.lit(_TE_SMOOTH)),
            6,
        ).alias("oof_encoding"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation (percentile-binned, scale-safe)
# ---------------------------------------------------------------------------
#
# Classic recency/frequency/monetary segmentation.  The textbook form
# ranks every customer with NTILE(5) -- a single-partition global sort
# that does not survive 100 TB.  Here the quintile BOUNDARIES are a
# 1-row exact-percentile aggregate (percentile_approx at real scale --
# same shape, sketch instead of sort), broadcast onto the per-customer
# frame, and bucket assignment is pure comparison -- no global sort
# anywhere.  Boundary floats compare exactly in both engines because
# both interpolate quantiles identically from the same doubles.

_RFM_QS = "0.2, 0.4, 0.6, 0.8"


@register(
    "metric_rfm_segments",
    f"""
    WITH cust AS (
      SELECT o_custkey,
             DATE_DIFF('day', MAX(o_orderdate),
                       (SELECT MAX(o_orderdate) FROM orders)) AS recency_days,
             COUNT(*) AS frequency,
             SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS monetary
      FROM orders GROUP BY 1
    ), b AS (
      SELECT quantile_cont(recency_days, [{_RFM_QS}]) AS rq,
             quantile_cont(frequency,   [{_RFM_QS}]) AS fq,
             quantile_cont(CAST(monetary AS DOUBLE), [{_RFM_QS}]) AS mq
      FROM cust
    ), scored AS (
      SELECT
        1 + CAST(recency_days > rq[1] AS INT) + CAST(recency_days > rq[2] AS INT)
          + CAST(recency_days > rq[3] AS INT) + CAST(recency_days > rq[4] AS INT)
          AS r_bin,
        1 + CAST(frequency > fq[1] AS INT) + CAST(frequency > fq[2] AS INT)
          + CAST(frequency > fq[3] AS INT) + CAST(frequency > fq[4] AS INT)
          AS f_bin,
        1 + CAST(CAST(monetary AS DOUBLE) > mq[1] AS INT)
          + CAST(CAST(monetary AS DOUBLE) > mq[2] AS INT)
          + CAST(CAST(monetary AS DOUBLE) > mq[3] AS INT)
          + CAST(CAST(monetary AS DOUBLE) > mq[4] AS INT)
          AS m_bin,
        monetary
      FROM cust CROSS JOIN b
    )
    SELECT r_bin, f_bin, m_bin, COUNT(*) AS n_customers,
           ROUND(SUM(monetary), 2) AS segment_revenue
    FROM scored GROUP BY 1, 2, 3
    """,
)
def metric_rfm_segments(spark, sf_dir):
    """RFM segmentation: per-customer recency/frequency/monetary from
    one orders scan, quintile boundaries as a 1-row exact-percentile
    aggregate over the per-customer frame (percentile_approx at real
    scale -- identical plan shape), bucket assignment by broadcast
    comparison.  No NTILE: the global sort the textbook form implies
    is the thing that dies at 100 TB, and comparisons against four
    boundary values replace it exactly.  ONE orders scan: the anchor
    date and all twelve boundaries are empty-key windows over the
    per-customer frame (the Q15 anchor idiom; plan-locked) -- at 100 TB
    persist that frame and swap the windows for broadcast 1-row
    percentile_approx aggregates, same shape."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cust0 = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("monetary"),
    )
    wg = Window.partitionBy()
    cust = cust0.select(
        F.datediff(F.max("last_order").over(wg), F.col("last_order")).alias(
            "recency_days"
        ),
        "frequency",
        "monetary",
    )
    qs = [0.2, 0.4, 0.6, 0.8]
    scored0 = cust.select(
        "recency_days",
        "frequency",
        "monetary",
        F.expr(f"percentile(recency_days, array({_RFM_QS}))")
        .over(wg)
        .alias("rq"),
        F.expr(f"percentile(frequency, array({_RFM_QS}))")
        .over(wg)
        .alias("fq"),
        F.expr(f"percentile(CAST(monetary AS DOUBLE), array({_RFM_QS}))")
        .over(wg)
        .alias("mq"),
    )

    def bin_col(value, bounds):
        out = F.lit(1)
        for i in range(len(qs)):
            out = out + (value > F.col(bounds)[i]).cast("int")
        return out

    scored = scored0.select(
        bin_col(F.col("recency_days").cast("double"), "rq").alias("r_bin"),
        bin_col(F.col("frequency").cast("double"), "fq").alias("f_bin"),
        bin_col(F.col("monetary").cast("double"), "mq").alias("m_bin"),
        "monetary",
    )
    return scored.groupBy("r_bin", "f_bin", "m_bin").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("monetary"), 2).alias("segment_revenue"),
    )


# ---------------------------------------------------------------------------
# PII pattern scan (scrubbing audit)
# ---------------------------------------------------------------------------
#
# Before a web corpus ships to training, a scrubbing pass counts and
# redacts PII-shaped spans.  The AUDIT side of that pass is pure
# map-side regex over one scan -- counts per source so the mixing
# schedule can downweight dirty sources.  Patterns deliberately use
# only syntax with identical semantics in Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition, no lookaround.

_PII_PATTERNS = {
    "emails": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phones": r"[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}",
    "ipv4s": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "ssns": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
}


def _pii_oracle() -> str:
    per = ",\n           ".join(
        f"CAST(SUM(len(regexp_extract_all(text, '{pat}'))) AS BIGINT)"
        f" AS n_{name}"
        for name, pat in _PII_PATTERNS.items()
    )
    any_hit = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for pat in _PII_PATTERNS.values()
    )
    return f"""
    SELECT source, COUNT(*) AS n_docs,
           {per},
           CAST(SUM(CAST(({any_hit}) > 0 AS BIGINT)) AS BIGINT)
             AS n_docs_with_pii,
           ROUND(SUM(CAST(({any_hit}) > 0 AS BIGINT))::DOUBLE / COUNT(*), 6)
             AS pii_doc_fraction
    FROM documents GROUP BY 1
    """


@register("text_pii_pattern_counts", _pii_oracle())
def text_pii_pattern_counts(spark, sf_dir):
    """PII scrubbing audit: per source, non-overlapping match counts
    for email / phone / IPv4 / SSN shapes plus the fraction of
    documents containing any hit.  One scan, regexp_count entirely
    inside whole-stage codegen (no Python), aggregate output is one
    row per source -- the shape that feeds a mixing-schedule
    downweight.  Patterns restricted to the Java-regex/RE2 common
    subset so the oracle replays them exactly."""
    docs = load_table(spark, sf_dir, "documents")
    # NB: F.regexp_count + F.lit, NOT F.expr with an embedded literal --
    # Spark SQL string literals process backslash escapes ('\.' -> '.'),
    # which would silently change the pattern the oracle replays.
    counts = [
        F.regexp_count(F.col("text"), F.lit(pat)).alias(f"c_{name}")
        for name, pat in _PII_PATTERNS.items()
    ]
    scanned = docs.select("source", *counts)
    any_hit = None
    for name in _PII_PATTERNS:
        term = F.col(f"c_{name}")
        any_hit = term if any_hit is None else any_hit + term
    scanned = scanned.withColumn("any_hit", (any_hit > 0).cast("bigint"))
    aggs = [F.count("*").alias("n_docs")] + [
        F.sum(f"c_{name}").alias(f"n_{name}") for name in _PII_PATTERNS
    ]
    return scanned.groupBy("source").agg(
        *aggs,
        F.sum("any_hit").alias("n_docs_with_pii"),
        F.round(F.sum("any_hit") / F.count("*"), 6).alias("pii_doc_fraction"),
    )


# ---------------------------------------------------------------------------
# MAD-based robust outlier profile
# ---------------------------------------------------------------------------
#
# Winsorization (already registered) clips at fixed percentiles; the
# robust-statistics standard for DETECTING outliers is the median
# absolute deviation: |x - median| > k * 1.4826 * MAD (1.4826 scales
# MAD to sigma under normality; k=3 is the usual fence).  MAD is
# inherently two-pass (the second quantile is of deviations from the
# first); both quantile passes become mergeable sketches at scale --
# the plan SHAPE (tiny broadcast stats joined onto the scan) is the
# same either way.

_MAD_K = 3.0
_MAD_SIGMA = 1.4826


@register(
    "dq_mad_outliers",
    f"""
    WITH med AS (
      SELECT o_orderpriority,
             quantile_cont(o_totalprice, 0.5) AS med
      FROM orders GROUP BY 1
    ), mad AS (
      SELECT o.o_orderpriority,
             quantile_cont(ABS(o.o_totalprice - med.med), 0.5) AS mad
      FROM orders o JOIN med USING (o_orderpriority)
      GROUP BY 1
    )
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(ANY_VALUE(med.med), 6) AS median_price,
           ROUND(ANY_VALUE(mad.mad), 6) AS mad_price,
           CAST(SUM(CAST(ABS(o.o_totalprice - med.med)
                         > {_MAD_K} * {_MAD_SIGMA} * mad.mad AS BIGINT))
                AS BIGINT) AS n_outliers
    FROM orders o
    JOIN med USING (o_orderpriority)
    JOIN mad USING (o_orderpriority)
    GROUP BY 1
    """,
)
def dq_mad_outliers(spark, sf_dir):
    """Robust outlier profile per order priority: |x - median| >
    3 * 1.4826 * MAD.  Two quantile passes (MAD is a quantile OF
    deviations from a quantile -- irreducibly two-pass), each
    collapsing to a 5-row stats frame that broadcast-joins onto the
    counting scan; at 100 TB both passes swap percentile for the
    mergeable percentile_approx sketch with the identical plan
    shape.

    Scan budget: orders 4x -- irreducibly two quantile passes (MAD is
    a quantile OF deviations from a quantile), each a stats+apply
    pair; at 100 TB both swap to mergeable percentile_approx with the
    same shape.
    """
    orders = load_table(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med")
    )
    mad = (
        orders.join(F.broadcast(med), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.expr("percentile(ABS(o_totalprice - med), 0.5)").alias("mad")
        )
    )
    stats = med.join(mad, "o_orderpriority")
    return (
        orders.join(F.broadcast(stats), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.first("med"), 6).alias("median_price"),
            F.round(F.first("mad"), 6).alias("mad_price"),
            F.sum(
                (
                    F.abs(F.col("o_totalprice") - F.col("med"))
                    > F.lit(_MAD_K * _MAD_SIGMA) * F.col("mad")
                ).cast("bigint")
            ).alias("n_outliers"),
        )
    )


# ---------------------------------------------------------------------------
# inter-labeler agreement (Cohen's kappa)
# ---------------------------------------------------------------------------
#
# Quality-filtering pipelines run several cheap heuristic labelers and
# keep documents where they agree; Cohen's kappa is the standard
# chance-corrected agreement statistic between two of them.  Labeler A
# votes on raw length, labeler B on word count -- correlated but not
# identical, so kappa lands strictly inside (0, 1).

_KAPPA_A_CHARS = 400
_KAPPA_B_WORDS = 80


@register(
    "text_classifier_agreement_kappa",
    f"""
    WITH votes AS (
      SELECT CAST(n_chars >= {_KAPPA_A_CHARS} AS INT) AS a,
             CAST(len(regexp_extract_all(text, '[^ ]+'))
                  >= {_KAPPA_B_WORDS} AS INT) AS b
      FROM documents
    ), cells AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(a = 1 AND b = 1 AS BIGINT)) AS BIGINT) AS n11,
             CAST(SUM(CAST(a = 1 AND b = 0 AS BIGINT)) AS BIGINT) AS n10,
             CAST(SUM(CAST(a = 0 AND b = 1 AS BIGINT)) AS BIGINT) AS n01,
             CAST(SUM(CAST(a = 0 AND b = 0 AS BIGINT)) AS BIGINT) AS n00
      FROM votes
    )
    SELECT n, n11, n10, n01, n00,
           ROUND((n11 + n00)::DOUBLE / n, 6) AS p_observed,
           ROUND(((n11 + n10) * (n11 + n01)
                  + (n01 + n00) * (n10 + n00))::DOUBLE / (n * n), 6)
             AS p_expected,
           ROUND(((n11 + n00)::DOUBLE / n
                  - ((n11 + n10) * (n11 + n01)
                     + (n01 + n00) * (n10 + n00))::DOUBLE / (n * n))
                 / (1 - ((n11 + n10) * (n11 + n01)
                         + (n01 + n00) * (n10 + n00))::DOUBLE / (n * n)), 6)
             AS kappa
    FROM cells
    """,
)
def text_classifier_agreement_kappa(spark, sf_dir):
    """Cohen's kappa between two heuristic quality labelers (length
    vote vs word-count vote) over one documents scan: the 2x2
    agreement table as four conditional counts in a single aggregate,
    kappa = (p_o - p_e) / (1 - p_e) computed from those integer cells
    (exact in both engines; only the final ratios round)."""
    docs = load_table(spark, sf_dir, "documents")
    votes = docs.select(
        (F.col("n_chars") >= _KAPPA_A_CHARS).cast("int").alias("a"),
        (
            F.regexp_count(F.col("text"), F.lit("[^ ]+")) >= _KAPPA_B_WORDS
        )
        .cast("int")
        .alias("b"),
    )
    cells = votes.agg(
        F.count("*").alias("n"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 1)).cast("bigint")).alias("n11"),
        F.sum(((F.col("a") == 1) & (F.col("b") == 0)).cast("bigint")).alias("n10"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 1)).cast("bigint")).alias("n01"),
        F.sum(((F.col("a") == 0) & (F.col("b") == 0)).cast("bigint")).alias("n00"),
    )
    n, n11, n10, n01, n00 = (F.col(c) for c in ("n", "n11", "n10", "n01", "n00"))
    p_o = (n11 + n00).cast("double") / n
    p_e = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)).cast(
        "double"
    ) / (n * n)
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(p_o, 6).alias("p_observed"),
        F.round(p_e, 6).alias("p_expected"),
        F.round((p_o - p_e) / (F.lit(1.0) - p_e), 6).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# hashing-trick collision profile
# ---------------------------------------------------------------------------
#
# The hashing trick maps an unbounded categorical vocabulary into a
# fixed bucket space with no dictionary -- the only stateless encoding
# that works on a 100 TB stream.  Its cost is collisions; this query
# IS the collision audit: per bucket, how many distinct categories
# landed there and how much mass they carry, so the bucket width can
# be sized before training.

_FH_BUCKETS = 16


@register(
    "events_feature_hashing_profile",
    f"""
    SELECT ({DUCKDB_HASH64.format(x="event_type")}) % {_FH_BUCKETS} AS bucket,
           COUNT(DISTINCT event_type) AS n_types,
           COUNT(*) AS n_events,
           ROUND(SUM(COALESCE(value, 0)), 6) AS bucket_mass
    FROM events
    WHERE event_type IS NOT NULL
    GROUP BY 1
    """,
)
def events_feature_hashing_profile(spark, sf_dir):
    """Hashing-trick collision audit: event_type hashed into a fixed
    {16}-bucket feature space; per bucket the distinct-category
    collision count, row count, and value mass.  One scan, one
    shuffle on the bucket key; hash64 is non-negative by construction
    (60-bit md5 prefix) so `%` needs no sign fix-up in either
    engine."""
    events = load_table(spark, sf_dir, "events").where(
        F.col("event_type").isNotNull()
    )
    return (
        events.select(
            (hash64(F.col("event_type")) % _FH_BUCKETS).alias("bucket"),
            "event_type",
            "value",
        )
        .groupBy("bucket")
        .agg(
            F.countDistinct("event_type").alias("n_types"),
            F.count("*").alias("n_events"),
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 6).alias(
                "bucket_mass"
            ),
        )
    )


# ---------------------------------------------------------------------------
# market-basket association lift (Apriori first pass)
# ---------------------------------------------------------------------------
#
# Pairs of parts co-purchased in the same order, with support /
# confidence / lift.  The naive self-join explodes quadratically in
# basket size; the Apriori downward-closure bound fixes the scale
# path: only items above a support floor can appear in a frequent
# pair, so the pair join runs over the support-filtered projection
# (top-N frequent items), never the raw table.

_BASKET_TOP_ITEMS = 100
_BASKET_TOP_PAIRS = 20


@register(
    "metric_part_affinity_lift",
    f"""
    WITH item AS (
      SELECT l_partkey, COUNT(DISTINCT l_orderkey) AS item_orders
      FROM lineitem GROUP BY 1
    ), frequent AS (
      SELECT l_partkey, item_orders FROM item
      ORDER BY item_orders DESC, l_partkey LIMIT {_BASKET_TOP_ITEMS}
    ), basket AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey
      FROM lineitem l JOIN frequent f USING (l_partkey)
    ), n_orders AS (
      SELECT COUNT(DISTINCT l_orderkey) AS n FROM lineitem
    ), pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS pair_orders
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, pair_orders,
           ROUND(pair_orders::DOUBLE / n.n, 6) AS support,
           ROUND(pair_orders::DOUBLE / fa.item_orders, 6) AS confidence,
           ROUND(pair_orders::DOUBLE * n.n
                 / (fa.item_orders * fb.item_orders), 6) AS lift
    FROM pairs
    JOIN frequent fa ON fa.l_partkey = pairs.part_a
    JOIN frequent fb ON fb.l_partkey = pairs.part_b
    CROSS JOIN n_orders n
    ORDER BY lift DESC, part_a, part_b
    LIMIT {_BASKET_TOP_PAIRS}
    """,
)
def metric_part_affinity_lift(spark, sf_dir):
    """Association lift over order baskets: top-{100} frequent parts
    (Apriori downward closure -- an infrequent item cannot join a
    frequent pair, so the pair self-join runs on the support-filtered
    projection only), pair support counted on the orderkey equi-join,
    confidence/lift from the broadcast item-support map.  Lift rounds
    to 6 dp BEFORE the top-{20} ordering so both engines rank
    identically.

    Scan budget: lineitem 7x -- inherent pair self-join (two sides) on
    the support-filtered projection plus the item-support stats
    frames; the Apriori support filter is what keeps the joined sides
    small.
    """
    li = load_table(spark, sf_dir, "lineitem")
    item = li.groupBy("l_partkey").agg(
        F.countDistinct("l_orderkey").alias("item_orders")
    )
    frequent = item.orderBy(
        F.desc("item_orders"), F.asc("l_partkey")
    ).limit(_BASKET_TOP_ITEMS)
    basket = (
        li.join(F.broadcast(frequent.select("l_partkey")), "l_partkey")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n_orders = li.agg(F.countDistinct("l_orderkey").alias("n"))
    a = basket.alias("a")
    b = basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("pair_orders"))
    )
    fa = frequent.select(
        F.col("l_partkey").alias("part_a"), F.col("item_orders").alias("oa")
    )
    fb = frequent.select(
        F.col("l_partkey").alias("part_b"), F.col("item_orders").alias("ob")
    )
    scored = (
        pairs.join(F.broadcast(fa), "part_a")
        .join(F.broadcast(fb), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "pair_orders",
            F.round(F.col("pair_orders").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(
                F.col("pair_orders").cast("double") / F.col("oa"), 6
            ).alias("confidence"),
            F.round(
                F.col("pair_orders").cast("double")
                * F.col("n")
                / (F.col("oa") * F.col("ob")),
                6,
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.desc("lift"), F.asc("part_a"), F.asc("part_b")
    ).limit(_BASKET_TOP_PAIRS)


# ---------------------------------------------------------------------------
# hybrid retrieval: reciprocal-rank fusion of BM25 + embedding cosine
# ---------------------------------------------------------------------------
#
# Production RAG retrieval serves BOTH a lexical index and a vector
# index and fuses the two rankings; reciprocal-rank fusion
# (Cormack/Clarke/Buettcher 2009) is the standard score-free fuser:
# rrf(d) = sum over lists of 1 / (C + rank_list(d)), C = 60.  Rank
# positions -- not raw scores -- fuse, so the two lists need no score
# calibration.  The synthetic documents and embeddings tables share
# the 0..N-1 id space (doc_id == vec_id), making the join honest.

_RRF_C = 60
_RRF_DEPTH = 50  # per-list candidate depth feeding the fusion
_RRF_K = 10


def _hybrid_rrf_oracle() -> str:
    from .queries_ext import _BM25_B, _BM25_K1, _BM25_TERMS

    terms = ", ".join(f"'{t}'" for t in sorted(_BM25_TERMS))
    k1, b = _BM25_K1, _BM25_B
    return rf"""
    WITH docs AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), dl AS (
      SELECT doc_id, len(string_split(norm, ' ')) AS dl FROM docs
    ), stats AS (
      SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl
    ), toks AS (
      SELECT doc_id, t.t AS term
      FROM docs, unnest(string_split(norm, ' ')) AS t(t)
      WHERE t.t IN ({terms})
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ), wdf AS (
      SELECT doc_id, term, tf,
             COUNT(*) OVER (PARTITION BY term) AS df
      FROM tf
    ), lex_scored AS (
      SELECT w.doc_id,
             ROUND(SUM(
               ln(1 + (s.n_docs - w.df + 0.5) / (w.df + 0.5))
               * (w.tf * ({k1} + 1))
               / (w.tf + {k1} * (1 - {b} + {b} * d.dl / s.avgdl))
             ), 6) AS score
      FROM wdf w JOIN dl d USING (doc_id), stats s
      GROUP BY 1
    ), lex AS (
      SELECT doc_id,
             (ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC))::INT
               AS lex_rank
      FROM lex_scored
      ORDER BY score DESC, doc_id ASC LIMIT {_RRF_DEPTH}
    ), q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    ), sem_scored AS (
      SELECT vec_id AS doc_id,
             ROUND(list_dot_product(embedding::DOUBLE[], qv) /
                   (sqrt(list_dot_product(embedding::DOUBLE[],
                                          embedding::DOUBLE[])) *
                    sqrt(list_dot_product(qv, qv))), 6) AS cosine_sim
      FROM embeddings, q
    ), sem AS (
      SELECT doc_id,
             (ROW_NUMBER() OVER (ORDER BY cosine_sim DESC, doc_id ASC))::INT
               AS sem_rank
      FROM sem_scored
      ORDER BY cosine_sim DESC, doc_id ASC LIMIT {_RRF_DEPTH}
    )
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
           lex.lex_rank, sem.sem_rank,
           ROUND(COALESCE(1.0 / ({_RRF_C} + lex.lex_rank), 0)
                 + COALESCE(1.0 / ({_RRF_C} + sem.sem_rank), 0), 6)
             AS rrf_score
    FROM lex FULL OUTER JOIN sem USING (doc_id)
    ORDER BY rrf_score DESC, doc_id ASC
    LIMIT {_RRF_K}
    """


@register("similarity_hybrid_rrf_topk", _hybrid_rrf_oracle())
def similarity_hybrid_rrf_topk(spark, sf_dir):
    """Hybrid retrieval with reciprocal-rank fusion: the BM25 lexical
    top-50 and the embedding-cosine top-50 (same corpus, shared id
    space) fused by rrf = sum 1/(60 + rank) -- rank positions fuse,
    never raw scores, so the lists need no calibration.  Both
    candidate lists are the registered scale paths (query-sized
    posting lists; broadcast query vector); the fusion itself is a
    FULL OUTER join of two <=50-row frames -- depth-bounded, so the
    rank windows sort candidate frames, never the corpus.

    Scan budget: documents 3x / embeddings 3x -- two retrieval paths
    (lexical posting lists + totals, semantic exact side) fused rank-
    wise; each path carries its own stats+apply scans.
    """
    from pyspark.sql import Window

    from .operators import similarity
    from .operators.text import bm25_topk
    from .queries_ext import _BM25_TERMS

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")

    lex = (
        bm25_topk(docs, _BM25_TERMS, k=_RRF_DEPTH)
        .select("doc_id", F.col("rank").alias("lex_rank"))
    )

    qv = emb.join(
        F.broadcast(emb.agg(F.min("vec_id").alias("vec_id"))), "vec_id"
    ).select(similarity.as_double("embedding").alias("__qvec"))
    sem_scored = emb.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        F.round(
            similarity.cosine(
                similarity.as_double("embedding"), F.col("__qvec")
            ),
            6,
        ).alias("cosine_sim"),
    )
    # depth-bounded candidate list: TakeOrdered to _RRF_DEPTH rows, then
    # the rank window sorts only that tiny frame
    sem = (
        sem_scored.orderBy(F.desc("cosine_sim"), F.asc("doc_id"))
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.desc("cosine_sim"), F.asc("doc_id")))
            .cast("int")
            .alias("sem_rank"),
        )
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rank",
        "sem_rank",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_C) + F.col("lex_rank")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_C) + F.col("sem_rank")), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(_RRF_K)


# ---------------------------------------------------------------------------
# completeness profile (one-pass column profiler)
# ---------------------------------------------------------------------------
#
# The dbt-style column profiler every ingestion run executes before
# trusting a new drop: per column, null count, distinct count, and the
# value range, in ONE scan -- the long-format output is what a
# freshness/completeness dashboard ingests.  Distinct counts are exact
# here; at 100 TB each becomes approx_count_distinct (HLL) with the
# identical one-pass shape.

_PROFILE_COLS = {
    "o_orderkey": "BIGINT",
    "o_custkey": "BIGINT",
    "o_orderstatus": "VARCHAR",
    "o_totalprice": "DOUBLE",
    "o_orderpriority": "VARCHAR",
}


def _completeness_oracle() -> str:
    arms = []
    for c in _PROFILE_COLS:
        arms.append(f"""
    SELECT '{c}' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           ROUND(MIN(CAST({c} AS DOUBLE)), 6) AS min_num,
           ROUND(MAX(CAST({c} AS DOUBLE)), 6) AS max_num
    FROM orders""" if _PROFILE_COLS[c] != "VARCHAR" else f"""
    SELECT '{c}' AS column_name,
           COUNT(*) AS n_rows,
           COUNT(*) - COUNT({c}) AS n_nulls,
           COUNT(DISTINCT {c}) AS n_distinct,
           CAST(NULL AS DOUBLE) AS min_num,
           CAST(NULL AS DOUBLE) AS max_num
    FROM orders""")
    return " UNION ALL ".join(arms)


@register("dq_completeness_profile", _completeness_oracle())
def dq_completeness_profile(spark, sf_dir):
    """One-pass column profiler over orders: per column the null
    count, exact distinct count, and numeric range, in long format.
    The Spark plan aggregates ALL columns in a single scan (one
    aggregate with per-column branches, then an explode to long
    format); the oracle's UNION ALL of per-column scans is the
    naive formulation kept as the semantic spec.  At 100 TB the
    distinct counts swap to approx_count_distinct with the same
    one-pass shape."""
    orders = load_table(spark, sf_dir, "orders")
    aggs = []
    for c, typ in _PROFILE_COLS.items():
        aggs += [
            F.count("*").alias(f"{c}__rows"),
            (F.count("*") - F.count(c)).alias(f"{c}__nulls"),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
        if typ != "VARCHAR":
            aggs.append(
                F.round(F.min(F.col(c).cast("double")), 6).alias(f"{c}__min")
            )
            aggs.append(
                F.round(F.max(F.col(c).cast("double")), 6).alias(f"{c}__max")
            )
    wide = orders.agg(*aggs)
    structs = []
    for c, typ in _PROFILE_COLS.items():
        mn = (
            F.col(f"{c}__min")
            if typ != "VARCHAR"
            else F.lit(None).cast("double")
        )
        mx = (
            F.col(f"{c}__max")
            if typ != "VARCHAR"
            else F.lit(None).cast("double")
        )
        structs.append(
            F.struct(
                F.lit(c).alias("column_name"),
                F.col(f"{c}__rows").alias("n_rows"),
                F.col(f"{c}__nulls").alias("n_nulls"),
                F.col(f"{c}__distinct").alias("n_distinct"),
                mn.alias("min_num"),
                mx.alias("max_num"),
            )
        )
    return wide.select(
        F.explode(F.array(*structs)).alias("p")
    ).select("p.*")


# ---------------------------------------------------------------------------
# referential integrity audit
# ---------------------------------------------------------------------------
#
# The standard FK orphan check an ingestion gate runs between fact and
# dimension drops: children whose parent key is absent.  Left-anti
# joins, counted -- at scale each becomes a broadcast or bucketed
# anti-join, and the audit emits counts, never the orphan payloads.


@register(
    "dq_referential_integrity",
    """
    SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_children,
           CAST(SUM(CAST(o_orderkey IS NULL AS BIGINT)) AS BIGINT)
             AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders->customer' AS fk, COUNT(*) AS n_children,
           CAST(SUM(CAST(c_custkey IS NULL AS BIGINT)) AS BIGINT)
             AS n_orphans
    FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    """,
)
def dq_referential_integrity(spark, sf_dir):
    """FK orphan audit: lineitem rows without a parent order, orders
    without a parent customer.  LEFT joins keep the child cardinality
    exact under duplicate parents (impossible on true PKs, cheap to be
    safe about); output is two count rows, never orphan payloads.  At
    scale the dimension side broadcasts (customer) or the join runs
    bucket-co-located (orders/lineitem share the orderkey layout
    registered in events_bucketed_join)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    lo = (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left")
        .agg(
            F.count("*").alias("n_children"),
            F.sum(F.col("o_orderkey").isNull().cast("bigint")).alias(
                "n_orphans"
            ),
        )
        .select(
            F.lit("lineitem->orders").alias("fk"), "n_children", "n_orphans"
        )
    )
    oc = (
        orders.join(
            F.broadcast(cust), orders.o_custkey == cust.c_custkey, "left"
        )
        .agg(
            F.count("*").alias("n_children"),
            F.sum(F.col("c_custkey").isNull().cast("bigint")).alias(
                "n_orphans"
            ),
        )
        .select(
            F.lit("orders->customer").alias("fk"), "n_children", "n_orphans"
        )
    )
    return lo.unionByName(oc)


# ---------------------------------------------------------------------------
# event sequence trigrams
# ---------------------------------------------------------------------------
#
# The 3-step sibling of the registered Markov bigram transitions:
# per-user ordered event-type trigrams, the sequence features behind
# next-action models and funnel mining.  Lead windows over ONE
# exchange+sort on user_id -- the same partitioning the bigram,
# session, and rolling-feature queries reuse.

_TRIGRAM_K = 25


@register(
    "events_sequence_trigrams",
    f"""
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT event_type AS t1, t2, t3, COUNT(*) AS n
    FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
    GROUP BY 1, 2, 3
    ORDER BY n DESC, t1, t2, t3
    LIMIT {_TRIGRAM_K}
    """,
)
def events_sequence_trigrams(spark, sf_dir):
    """Top event-type trigrams over per-user ordered sequences: two
    LEAD windows sharing ONE (user_id)-partitioned sort -- the same
    exchange the Markov bigram query pays, amortized across both lead
    offsets; NULL-padded sequence tails drop before counting.
    Deterministic top-k: count ties break on the full trigram."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t2").isNotNull() & F.col("t3").isNotNull())
    return (
        seq.groupBy("t1", "t2", "t3")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "t1", "t2", "t3")
        .limit(_TRIGRAM_K)
    )


# ---------------------------------------------------------------------------
# PCA top component (power iteration)
# ---------------------------------------------------------------------------
#
# The embedding-space analysis primitive between k-means (registered)
# and whitening: the top principal component of the corpus embedding
# cloud.  Never materializes the covariance -- power iteration needs
# only C v = sum_rows (x_c . v) x_c: a map-side dot per row plus a
# dimension-keyed 64-row aggregate, per round.  Fixed 5 rounds from
# v0 = 1/sqrt(d); per-round 9-dp unit re-rounding makes the recurrence
# bit-stable across engines (the PageRank oracle discipline); the
# oracle replays every round as chained MATERIALIZED CTEs.

_PCA_DIM = 64
_PCA_ITERS = 5


def _pca_oracle(dim: int = _PCA_DIM, iters: int = _PCA_ITERS) -> str:
    v0 = repr(1.0 / dim**0.5)
    ctes = [
        f"""base AS MATERIALIZED (
      SELECT embedding::DOUBLE[] AS x FROM embeddings
      WHERE len(embedding) = {dim}
    ), mu AS MATERIALIZED (
      SELECT r.d AS d, ROUND(AVG(x[r.d]), 9) AS m
      FROM base, range(1, {dim + 1}) r(d) GROUP BY 1
    ), mulist AS MATERIALIZED (
      SELECT list(m ORDER BY d) AS mv FROM mu
    ), c AS MATERIALIZED (
      SELECT list_transform(range(1, {dim + 1}), i -> x[i] - mv[i]) AS xc
      FROM base, mulist
    ), v0 AS MATERIALIZED (
      SELECT list_transform(range(1, {dim + 1}), i -> {v0}) AS v
    )"""
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""s{i} AS MATERIALIZED (
      SELECT xc, list_dot_product(xc, v) AS s FROM c, v{i - 1}
    ), w{i} AS MATERIALIZED (
      SELECT r.d AS d, SUM(xc[r.d] * s) AS w
      FROM s{i}, range(1, {dim + 1}) r(d) GROUP BY 1
    ), n{i} AS MATERIALIZED (
      SELECT sqrt(SUM(w * w)) AS nrm FROM w{i}
    ), v{i} AS MATERIALIZED (
      SELECT list(ROUND(w / nrm, 9) ORDER BY d) AS v FROM w{i}, n{i}
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT w{iters}.d AS dim,
           ROUND(ROUND(w{iters}.w / n{iters}.nrm, 9), 6) AS loading,
           ROUND(n{iters}.nrm, 6) AS lambda_hat
    FROM w{iters}, n{iters}"""
    )


@register("embeddings_pca_power_iteration", _pca_oracle())
def embeddings_pca_power_iteration(spark, sf_dir):
    """Top principal component of the embedding cloud by 5 rounds of
    power iteration on the centered data (covariance never
    materialized: each round is one scan of the staged centered frame,
    a 64-row dimension-keyed aggregate, and a 1-row broadcast of the
    current vector -- one plan, no per-round action).  Per-round 9-dp
    unit re-rounding keeps both engines on the identical trajectory;
    the oracle replays all 5 rounds as chained MATERIALIZED CTEs.  At
    100 TB, centered.persist() turns five scans into one
    materialization, and the per-round shuffle stays 64 rows.

    Scan budget: embeddings 2x per iteration (plan-locked linear in
    _PCA_ITERS) -- iterative power method; at 100 TB
    centered.persist() collapses the five logical scans into one
    materialization.
    """
    from .operators.linalg import pca_power_iteration

    return pca_power_iteration(
        load_table(spark, sf_dir, "embeddings"),
        dim=_PCA_DIM,
        iters=_PCA_ITERS,
    )


# ---------------------------------------------------------------------------
# seasonal decomposition (trend / day-of-week seasonal / residual)
# ---------------------------------------------------------------------------
#
# Classical additive decomposition of the daily revenue series: trend
# as a centered 7-day moving average (full windows only), day-of-week
# seasonal as the mean detrended value per weekday, residual as what
# remains.  The raw-to-daily aggregation is the only data-scale
# shuffle; every window below runs on the DATE-SPINE frame (one row
# per day -- metadata scale even for a century of days).

@register(
    "metric_revenue_seasonal_decomposition",
    """
    WITH daily AS (
      SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18, 2))) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1
    ), t AS (
      SELECT day, revenue,
             CASE WHEN COUNT(*) OVER w = 7
                  THEN ROUND(AVG(revenue) OVER w, 9) END AS trend
      FROM daily
      WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), d AS (
      SELECT day, revenue, trend, revenue - trend AS detr,
             dayofweek(day) AS dow
      FROM t
    ), s AS (
      SELECT dow, ROUND(AVG(detr), 9) AS seasonal
      FROM d WHERE detr IS NOT NULL GROUP BY 1
    )
    SELECT d.day, ROUND(d.revenue, 6) AS revenue,
           ROUND(d.trend, 6) AS trend,
           ROUND(s.seasonal, 6) AS seasonal,
           ROUND(d.detr - s.seasonal, 6) AS residual
    FROM d LEFT JOIN s USING (dow)
    """,
)
def metric_revenue_seasonal_decomposition(spark, sf_dir):
    """Additive seasonal decomposition of daily revenue: centered
    7-day moving-average trend (full windows only -- edges stay NULL
    rather than biased), day-of-week seasonal means of the detrended
    series, residual = value - trend - seasonal.  DECIMAL-exact daily
    sums; trend and seasonal round at 9 dp before the subtraction so
    both engines carry identical intermediates.  Spark dayofweek is
    1-based Sunday, DuckDB 0-based: the Spark side shifts by -1."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").cast("date").alias("day")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )
    w = Window.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "revenue",
        F.when(
            F.count("*").over(w) == 7, F.round(F.avg("revenue").over(w), 9)
        ).alias("trend"),
    )
    d = t.select(
        "day",
        "revenue",
        "trend",
        (F.col("revenue") - F.col("trend")).alias("detr"),
        (F.dayofweek("day") - 1).alias("dow"),
    )
    s = (
        d.where(F.col("detr").isNotNull())
        .groupBy("dow")
        .agg(F.round(F.avg("detr"), 9).alias("seasonal"))
    )
    return d.join(F.broadcast(s), "dow", "left").select(
        "day",
        F.round("revenue", 6).alias("revenue"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(F.col("detr") - F.col("seasonal"), 6).alias("residual"),
    )


# ---------------------------------------------------------------------------
# position-based (U-shaped) attribution
# ---------------------------------------------------------------------------
#
# The order-AWARE sibling of the registered linear attribution: 40% of
# a conversion's value to the first touch, 40% to the last, 20% split
# over the middles (the standard U-shape); 1 touch takes 100%, 2
# touches split 50/50.  Same bucketized range-join pairing as linear
# -- only the credit rule changes, and it needs one rank window per
# conversion (conversation-sized partitions, never corpus sorts).

_ATTR_POS_LOOKBACK = 7


@register(
    "events_attribution_position",
    f"""
    WITH t AS (
      SELECT event_id AS touch_id, user_id, ts, event_type AS touch_type
      FROM events
      WHERE event_type IN ('view', 'click') AND ts IS NOT NULL
    ), c AS (
      SELECT event_id AS conv_id, user_id, ts AS cts, value
      FROM events
      WHERE event_type = 'purchase' AND ts IS NOT NULL
    ), pairs AS (
      SELECT t.touch_type, t.touch_id, t.ts, c.conv_id, c.value
      FROM t JOIN c
        ON t.user_id = c.user_id
           AND t.ts <= c.cts
           AND t.ts >= c.cts - INTERVAL {_ATTR_POS_LOOKBACK} DAY
    ), ranked AS (
      SELECT touch_type, conv_id, value,
             ROW_NUMBER() OVER (
               PARTITION BY conv_id ORDER BY ts, touch_id
             ) AS pos,
             COUNT(*) OVER (PARTITION BY conv_id) AS n
      FROM pairs
    ), credited AS (
      SELECT touch_type,
             value * CASE
               WHEN n = 1 THEN 1.0
               WHEN n = 2 THEN 0.5
               WHEN pos = 1 OR pos = n THEN 0.4
               ELSE 0.2 / (n - 2)
             END AS credit
      FROM ranked
    )
    SELECT touch_type, COUNT(*) AS n_touches,
           ROUND(SUM(credit), 6) AS attributed_value
    FROM credited GROUP BY 1
    """,
)
def events_attribution_position(spark, sf_dir):
    """Position-based (U-shaped) multi-touch attribution: 40/20/40
    first/middles/last credit split over the user's views/clicks in
    the trailing {7}-day window, degenerate journeys (1 or 2 touches)
    handled by the standard special cases.  Pairing rides the same
    bucketized range join the linear query registered (equi-join on
    (user, day bucket)); the rank window partitions by conversion --
    journey-sized, never a corpus sort.  Oracle pairs with a direct
    BETWEEN join: same pairs from a different plan."""
    from pyspark.sql import Window

    from .operators.ranges import range_join_points

    events = load_table(spark, sf_dir, "events")
    touches = events.where(
        F.col("event_type").isin("view", "click") & F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        "ts",
    )
    conversions = events.where(
        (F.col("event_type") == "purchase") & F.col("ts").isNotNull()
    ).select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        "value",
        (F.col("ts") - F.expr(f"INTERVAL {_ATTR_POS_LOOKBACK} DAYS")).alias(
            "__start"
        ),
        F.col("ts").alias("__end"),
    )
    pairs = range_join_points(
        touches,
        conversions,
        on="user_id",
        point_ts="ts",
        start_col="__start",
        end_col="__end",
        bucket_minutes=24 * 60,
    )
    wo = Window.partitionBy("conv_id").orderBy("ts", "touch_id")
    wc = Window.partitionBy("conv_id")
    ranked = pairs.select(
        "touch_type",
        "value",
        F.row_number().over(wo).alias("pos"),
        F.count("*").over(wc).alias("n"),
    )
    credit = F.col("value") * (
        F.when(F.col("n") == 1, F.lit(1.0))
        .when(F.col("n") == 2, F.lit(0.5))
        .when((F.col("pos") == 1) | (F.col("pos") == F.col("n")), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n") - 2))
    )
    return (
        ranked.select("touch_type", credit.alias("__credit"))
        .groupBy("touch_type")
        .agg(
            F.count("*").alias("n_touches"),
            F.round(F.sum("__credit"), 6).alias("attributed_value"),
        )
    )


# ---------------------------------------------------------------------------
# classifier calibration curve
# ---------------------------------------------------------------------------
#
# Before a model-based quality gate filters a corpus, its score needs
# a calibration check against an independent signal: bucket the score
# into deciles and measure the positive fraction per bucket.  The
# score is the registered feature-hashing linear classifier
# (bit-reproducible in both engines); the independent label is the
# raw-length vote the kappa query uses.  Decile BOUNDARIES follow the
# RFM discipline: a 1-row exact-percentile aggregate broadcast onto
# the scored frame, bucket assignment by comparison -- no NTILE.

_CAL_LABEL_CHARS = 400
_CAL_QS = [round(0.1 * i, 1) for i in range(1, 10)]


def _calibration_oracle() -> str:
    from .functions.hashing import DUCKDB_HASH64, MERSENNE31, _family_coeffs
    from .operators.text import HASHED_LINEAR_HALF
    from .queries_ext import _CLS_BUCKETS, _CLS_SEED

    a, b = _family_coeffs(_CLS_SEED)
    h31 = f"({DUCKDB_HASH64.format(x='x')} & {MERSENNE31})"
    w = (
        f"(({a} * ({h31} % {_CLS_BUCKETS}) + {b}) % {MERSENNE31}"
        f" - {HASHED_LINEAR_HALF})"
    )
    qs = ", ".join(repr(q) for q in _CAL_QS)
    bins = " + ".join(f"CAST(score > qb[{i + 1}] AS INT)" for i in range(9))
    return rf"""
    WITH docs AS (
      SELECT doc_id, n_chars,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
               AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id,
             ROUND(CAST(list_sum(list_transform(toks, x -> {w})) AS BIGINT)::DOUBLE
                   / (len(toks) * {float(HASHED_LINEAR_HALF)}), 6) AS score,
             CAST(n_chars >= {_CAL_LABEL_CHARS} AS INT) AS is_long
      FROM docs
    ), qb_t AS (
      SELECT quantile_cont(score, [{qs}]) AS qb FROM scored
    )
    SELECT 1 + {bins} AS decile,
           COUNT(*) AS n_docs,
           ROUND(AVG(score), 6) AS avg_score,
           ROUND(AVG(is_long::DOUBLE), 6) AS frac_long
    FROM scored, qb_t
    GROUP BY 1
    """


@register("text_quality_calibration", _calibration_oracle())
def text_quality_calibration(spark, sf_dir):
    """Calibration curve of the feature-hashing quality classifier
    against the independent length label: score deciles (boundaries as
    a 1-row exact-percentile broadcast, buckets by comparison -- the
    RFM discipline, percentile_approx at 100 TB) vs the positive
    fraction per decile.  The classifier score stays the registered
    zero-shuffle scan-speed fold; calibration adds one 9-double
    broadcast and one 10-row aggregate."""
    from .operators.text import hashed_linear_score
    from .queries_ext import _CLS_BUCKETS, _CLS_SEED, _CLS_THRESHOLD

    scored = hashed_linear_score(
        load_table(spark, sf_dir, "documents"),
        n_buckets=_CLS_BUCKETS,
        weight_seed=_CLS_SEED,
        threshold=_CLS_THRESHOLD,
        extra_cols=("n_chars",),
    ).select(
        "score",
        (F.col("n_chars") >= _CAL_LABEL_CHARS).cast("int").alias("is_long"),
    )
    qs = ", ".join(repr(q) for q in _CAL_QS)
    qb = scored.agg(F.expr(f"percentile(score, array({qs}))").alias("qb"))
    decile = F.lit(1)
    for i in range(9):
        decile = decile + (F.col("score") > F.col("qb")[i]).cast("int")
    return (
        scored.crossJoin(F.broadcast(qb))
        .select(decile.alias("decile"), "score", "is_long")
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("score"), 6).alias("avg_score"),
            F.round(F.avg(F.col("is_long").cast("double")), 6).alias(
                "frac_long"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection: distance preservation audit
# ---------------------------------------------------------------------------
#
# Before serving ANN from a reduced space, measure what the projection
# does to the geometry: project 64-d embeddings to 16-d with a
# deterministic +-1 sign matrix (Achlioptas 2001 -- database-friendly
# JL: signs, no Gaussians) and compare pairwise cosines before and
# after on a deterministic pair sample.  The sign matrix is a pure
# function of (row, col) computed ONCE in Python and embedded as
# literals in BOTH plans, so the engines replay the identical
# projection; the 1/sqrt(k) JL scale cancels inside cosine and is
# omitted.

_JL_IN_DIM = 64
_JL_OUT_DIM = 16


def _jl_sign(i: int, j: int) -> int:
    from .functions.hashing import MERSENNE31, _family_coeffs

    a, b = _family_coeffs(7)
    return 1 if (a * (i * _JL_OUT_DIM + j) + b) % MERSENNE31 % 2 == 0 else -1


_JL_SIGNS = [
    [_jl_sign(i, j) for i in range(_JL_IN_DIM)] for j in range(_JL_OUT_DIM)
]


def _jl_oracle() -> str:
    proj = ", ".join(
        "list_dot_product(x, ["
        + ", ".join(f"{s}.0" for s in _JL_SIGNS[j])
        + "])"
        for j in range(_JL_OUT_DIM)
    )
    return f"""
    WITH base AS (
      SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings
      WHERE len(embedding) = {_JL_IN_DIM}
    ), proj AS (
      SELECT vec_id, x, [{proj}] AS y FROM base
    ), pairs AS (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             ROUND(list_dot_product(a.x, b.x)
                   / (sqrt(list_dot_product(a.x, a.x))
                      * sqrt(list_dot_product(b.x, b.x))), 6) AS cos_orig,
             ROUND(list_dot_product(a.y, b.y)
                   / (sqrt(list_dot_product(a.y, a.y))
                      * sqrt(list_dot_product(b.y, b.y))), 6) AS cos_proj
      FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
    )
    SELECT vec_id_a, vec_id_b, cos_orig, cos_proj,
           ROUND(ABS(cos_orig - cos_proj), 6) AS abs_err
    FROM pairs
    """


@register("embeddings_jl_projection_error", _jl_oracle())
def embeddings_jl_projection_error(spark, sf_dir):
    """JL random-projection audit: 64-d -> 16-d by an Achlioptas +-1
    sign matrix (a pure function of (row, col), computed once in
    Python and embedded as literals in both engines' plans), pairwise
    cosine before vs after on the deterministic consecutive-id pair
    sample.  The projection is a map-side fold (16 dot products per
    row, zero shuffles); the pair join is id+1 -- at scale the sample
    IS the audit, full pairs never materialize."""
    from .operators.similarity import as_double, cosine, dot

    base = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.size("embedding") == _JL_IN_DIM)
        .select("vec_id", as_double("embedding").alias("x"))
    )
    proj_cols = [
        dot(
            F.col("x"),
            F.array(*[F.lit(float(s)) for s in _JL_SIGNS[j]]),
        )
        for j in range(_JL_OUT_DIM)
    ]
    proj = base.select("vec_id", "x", F.array(*proj_cols).alias("y"))
    a = proj.alias("a")
    b = proj.alias("b")
    pairs = a.join(
        b, F.col("b.vec_id") == F.col("a.vec_id") + 1
    ).select(
        F.col("a.vec_id").alias("vec_id_a"),
        F.col("b.vec_id").alias("vec_id_b"),
        F.round(cosine(F.col("a.x"), F.col("b.x")), 6).alias("cos_orig"),
        F.round(cosine(F.col("a.y"), F.col("b.y")), 6).alias("cos_proj"),
    )
    return pairs.select(
        "vec_id_a",
        "vec_id_b",
        "cos_orig",
        "cos_proj",
        F.round(F.abs(F.col("cos_orig") - F.col("cos_proj")), 6).alias(
            "abs_err"
        ),
    )


# ---------------------------------------------------------------------------
# run-length statistics over event sequences
# ---------------------------------------------------------------------------
#
# Repeated-action runs (rage clicks, retry storms, scroll bursts) are
# a behavioral signal and a compression opportunity; this is the RLE
# pass: consecutive equal event_types within a user's ordered stream
# collapse into runs via the lag-marker + conditional-cumsum idiom the
# sessionizer uses -- ONE user-partitioned exchange+sort.


@register(
    "events_run_length_stats",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN event_type IS DISTINCT FROM
                    LAG(event_type) OVER w
                  THEN 1 ELSE 0 END AS new_run
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
             AND ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), runs AS (
      SELECT user_id, event_type,
             SUM(new_run) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS run_id
      FROM seq
    ), rl AS (
      SELECT event_type, COUNT(*) AS run_len
      FROM runs GROUP BY user_id, run_id, event_type
    )
    SELECT event_type, COUNT(*) AS n_runs,
           ROUND(AVG(run_len), 6) AS avg_run_len,
           MAX(run_len) AS max_run_len,
           CAST(SUM(CAST(run_len >= 3 AS BIGINT)) AS BIGINT) AS n_bursts
    FROM rl GROUP BY 1
    """,
)
def events_run_length_stats(spark, sf_dir):
    """Run-length encoding of per-user event streams: consecutive
    equal event_types collapse to runs (lag marker + running sum --
    both windows share ONE user-partitioned exchange+sort), then
    per-type run-length stats and the burst count (runs >= 3, the
    rage-click/retry-storm signal).  Integer counts end to end; only
    the average rounds."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.when(
            ~F.col("event_type").eqNullSafe(F.lag("event_type").over(w)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_run"),
    )
    runs = seq.select(
        "user_id",
        "event_type",
        F.sum("new_run").over(w).alias("run_id"),
    )
    rl = runs.groupBy("user_id", "run_id", "event_type").agg(
        F.count("*").alias("run_len")
    )
    return rl.groupBy("event_type").agg(
        F.count("*").alias("n_runs"),
        F.round(F.avg("run_len"), 6).alias("avg_run_len"),
        F.max("run_len").alias("max_run_len"),
        F.sum((F.col("run_len") >= 3).cast("bigint")).alias("n_bursts"),
    )


# ---------------------------------------------------------------------------
# weight-of-evidence encoding + information value
# ---------------------------------------------------------------------------
#
# The credit-scoring standard for categorical encoding against a
# binary label: WOE(x) = ln(P(x|pos)/P(x|neg)), with the category's
# information-value contribution (P(x|pos)-P(x|neg)) * WOE and the
# feature's total IV.  Laplace 0.5 smoothing keeps empty cells off
# ln(0) -- Spark 4 runs ANSI mode, a bare ln(0) is a job abort, not a
# NULL.  Label and base filter match the registered mutual-information
# query, so the two feature scores are directly comparable.

_WOE_LABEL_THRESHOLD = 150


@register(
    "events_woe_information_value",
    f"""
    WITH base AS (
      SELECT event_type,
             CASE WHEN value > {_WOE_LABEL_THRESHOLD} THEN 1 ELSE 0 END AS hv
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
    ), cat AS (
      SELECT event_type,
             CAST(SUM(hv) AS BIGINT) AS n_pos,
             CAST(COUNT(*) - SUM(hv) AS BIGINT) AS n_neg
      FROM base GROUP BY 1
    ), tot AS (
      SELECT event_type, n_pos, n_neg,
             SUM(n_pos) OVER () AS p_tot,
             SUM(n_neg) OVER () AS n_tot
      FROM cat
    ), scored AS (
      SELECT event_type, n_pos, n_neg,
             ROUND(ln(((n_pos + 0.5) / (p_tot + 0.5))
                      / ((n_neg + 0.5) / (n_tot + 0.5))), 6) AS woe,
             (n_pos::DOUBLE / p_tot - n_neg::DOUBLE / n_tot) AS dp
      FROM tot
    )
    SELECT event_type, n_pos, n_neg, woe,
           ROUND(dp * woe, 6) AS iv_term,
           ROUND(SUM(dp * woe) OVER (), 6) AS iv_total
    FROM scored
    """,
)
def events_woe_information_value(spark, sf_dir):
    """Weight-of-evidence encoding of event_type against the
    high-value label, with per-category information-value terms and
    the feature's total IV.  ONE events scan to the per-category
    conditional-count frame; class totals are empty-key windows over
    that tiny frame (the Q15 anchor idiom, plan-locked elsewhere in
    this family).  Laplace 0.5 smoothing keeps ln off zero cells
    (ANSI); ln rounds at 6 dp on both engines before the IV product
    re-rounds."""
    from pyspark.sql import Window

    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.when(F.col("value") > _WOE_LABEL_THRESHOLD, 1)
            .otherwise(0)
            .alias("hv"),
        )
    )
    cat = base.groupBy("event_type").agg(
        F.sum("hv").alias("n_pos"),
        (F.count("*") - F.sum("hv")).alias("n_neg"),
    )
    wg = Window.partitionBy()
    tot = cat.select(
        "event_type",
        "n_pos",
        "n_neg",
        F.sum("n_pos").over(wg).alias("p_tot"),
        F.sum("n_neg").over(wg).alias("n_tot"),
    )
    woe = F.round(
        F.log(
            ((F.col("n_pos") + 0.5) / (F.col("p_tot") + 0.5))
            / ((F.col("n_neg") + 0.5) / (F.col("n_tot") + 0.5))
        ),
        6,
    )
    dp = (
        F.col("n_pos").cast("double") / F.col("p_tot")
        - F.col("n_neg").cast("double") / F.col("n_tot")
    )
    scored = tot.select(
        "event_type", "n_pos", "n_neg", woe.alias("woe"), dp.alias("dp")
    )
    return scored.select(
        "event_type",
        "n_pos",
        "n_neg",
        "woe",
        F.round(F.col("dp") * F.col("woe"), 6).alias("iv_term"),
        F.round(
            F.sum(F.col("dp") * F.col("woe")).over(wg), 6
        ).alias("iv_total"),
    )


# ---------------------------------------------------------------------------
# chi-squared feature-label independence test
# ---------------------------------------------------------------------------
#
# The frequentist sibling of the registered mutual-information score:
# Pearson chi-squared over the (event_type x high-value) contingency
# table.  Same one-scan conditional-count frame; expected counts from
# empty-key window marginals; one summary row out.


@register(
    "events_feature_chi2",
    f"""
    WITH base AS (
      SELECT event_type,
             CASE WHEN value > {_WOE_LABEL_THRESHOLD} THEN 1 ELSE 0 END AS hv
      FROM events
      WHERE event_type IS NOT NULL AND value IS NOT NULL
    ), cat AS (
      SELECT event_type,
             SUM(hv) AS obs_pos,
             COUNT(*) - SUM(hv) AS obs_neg
      FROM base GROUP BY 1
    ), tot AS (
      SELECT event_type, obs_pos, obs_neg,
             SUM(obs_pos) OVER () AS p_tot,
             SUM(obs_neg) OVER () AS n_tot,
             SUM(obs_pos + obs_neg) OVER () AS n,
             COUNT(*) OVER () AS k
      FROM cat
    )
    SELECT ROUND(SUM(
             POWER(obs_pos - (obs_pos + obs_neg) * p_tot::DOUBLE / n, 2)
               / ((obs_pos + obs_neg) * p_tot::DOUBLE / n)
             + POWER(obs_neg - (obs_pos + obs_neg) * n_tot::DOUBLE / n, 2)
               / ((obs_pos + obs_neg) * n_tot::DOUBLE / n)
           ), 6) AS chi2,
           CAST(ANY_VALUE(k) - 1 AS BIGINT) AS dof,
           CAST(ANY_VALUE(n) AS BIGINT) AS n
    FROM tot
    """,
)
def events_feature_chi2(spark, sf_dir):
    """Pearson chi-squared independence test between event_type and
    the high-value label: the same one-scan conditional-count frame as
    the WOE/MI queries, expected counts from empty-key window
    marginals, one (chi2, dof, n) row.  Integer observed counts;
    expected values and the statistic are exact double arithmetic,
    rounded once at the end."""
    from pyspark.sql import Window

    base = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type").isNotNull() & F.col("value").isNotNull())
        .select(
            "event_type",
            F.when(F.col("value") > _WOE_LABEL_THRESHOLD, 1)
            .otherwise(0)
            .alias("hv"),
        )
    )
    cat = base.groupBy("event_type").agg(
        F.sum("hv").alias("obs_pos"),
        (F.count("*") - F.sum("hv")).alias("obs_neg"),
    )
    wg = Window.partitionBy()
    tot = cat.select(
        "obs_pos",
        "obs_neg",
        F.sum("obs_pos").over(wg).alias("p_tot"),
        F.sum("obs_neg").over(wg).alias("n_tot"),
        F.sum(F.col("obs_pos") + F.col("obs_neg")).over(wg).alias("n"),
        F.count("*").over(wg).alias("k"),
    )
    row_tot = (F.col("obs_pos") + F.col("obs_neg")).cast("double")
    exp_pos = row_tot * F.col("p_tot") / F.col("n")
    exp_neg = row_tot * F.col("n_tot") / F.col("n")
    cell = F.pow(F.col("obs_pos") - exp_pos, 2) / exp_pos + F.pow(
        F.col("obs_neg") - exp_neg, 2
    ) / exp_neg
    return tot.agg(
        F.round(F.sum(cell), 6).alias("chi2"),
        (F.first("k") - 1).cast("bigint").alias("dof"),
        F.first("n").cast("bigint").alias("n"),
    )


# ---------------------------------------------------------------------------
# embedding label separability
# ---------------------------------------------------------------------------
#
# Before training on labeled embeddings, the separability audit: per
# label the centroid and the mean within-label cosine to it, then the
# pairwise centroid cosines -- the Davies-Bouldin-style signal of
# whether labels are geometrically distinguishable at all.  Centroids
# round at 9 dp (sum-order re-synchronization) before any cosine.


def _separability_oracle() -> str:
    d = _JL_IN_DIM
    return f"""
    WITH base AS (
      SELECT label, embedding::DOUBLE[] AS x FROM embeddings
      WHERE len(embedding) = {d}
    ), cdim AS (
      SELECT label, r.d AS d, ROUND(AVG(x[r.d]), 9) AS m
      FROM base, range(1, {d + 1}) r(d) GROUP BY 1, 2
    ), cent AS (
      SELECT label, list(m ORDER BY d) AS c FROM cdim GROUP BY 1
    ), within AS (
      SELECT b.label,
             ROUND(AVG(list_dot_product(b.x, c.c)
                   / (sqrt(list_dot_product(b.x, b.x))
                      * sqrt(list_dot_product(c.c, c.c)))), 6) AS within_cos,
             COUNT(*) AS n_vecs
      FROM base b JOIN cent c USING (label) GROUP BY 1
    )
    SELECT a.label AS label_a, b.label AS label_b,
           ROUND(list_dot_product(a.c, b.c)
                 / (sqrt(list_dot_product(a.c, a.c))
                    * sqrt(list_dot_product(b.c, b.c))), 6) AS centroid_cos,
           wa.within_cos AS within_a, wb.within_cos AS within_b,
           wa.n_vecs AS n_a, wb.n_vecs AS n_b
    FROM cent a JOIN cent b ON a.label < b.label
    JOIN within wa ON wa.label = a.label
    JOIN within wb ON wb.label = b.label
    """


@register("embeddings_label_separability", _separability_oracle())
def embeddings_label_separability(spark, sf_dir):
    """Label separability audit over the embedding cloud: per-label
    centroids (9-dp rounded per dimension -- the sum-order
    re-synchronization discipline), mean within-label cosine to the
    own centroid, and pairwise centroid cosines.  The within-cosine
    uses the mean-unit-vector identity
    avg_r cos(x, c) = dot(avg_r x/|x|, c) / |c| (c constant over the
    label's rows, so the average pushes inside the dot product):
    centroid AND mean-unit accumulate in the SAME per-dimension
    aggregate, so rows never join back to centroids (that formulation
    scanned the table 6x; this one is plan-locked at 2 -- one per side
    of the label-sized broadcast self-join).  The oracle deliberately
    keeps the per-row-average formulation -- two formulations, one
    semantics."""
    from .operators.similarity import as_double, cosine, dot, l2_norm

    base = (
        load_table(spark, sf_dir, "embeddings")
        .where(F.size("embedding") == _JL_IN_DIM)
        .select("label", as_double("embedding").alias("x"))
    )
    staged = base.select("label", "x", l2_norm(F.col("x")).alias("nrm"))
    cdim = (
        staged.select("label", "nrm", F.posexplode("x").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg("val"), 9).alias("m"),
            F.round(F.avg(F.col("val") / F.col("nrm")), 9).alias("u"),
            F.count("*").alias("n_vecs"),
        )
    )
    stats = cdim.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda t: t["m"],
        ).alias("c"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", F.col("u").alias("m")))),
            lambda t: t["m"],
        ).alias("u"),
        F.max("n_vecs").alias("n_vecs"),
    )
    stats = stats.select(
        "label",
        "c",
        "n_vecs",
        F.round(
            dot(F.col("u"), F.col("c")) / l2_norm(F.col("c")), 6
        ).alias("within_cos"),
    )
    a = stats.alias("a")
    b = stats.alias("b")
    return a.join(
        F.broadcast(b), F.col("a.label") < F.col("b.label")
    ).select(
        F.col("a.label").alias("label_a"),
        F.col("b.label").alias("label_b"),
        F.round(cosine(F.col("a.c"), F.col("b.c")), 6).alias("centroid_cos"),
        F.col("a.within_cos").alias("within_a"),
        F.col("b.within_cos").alias("within_b"),
        F.col("a.n_vecs").alias("n_a"),
        F.col("b.n_vecs").alias("n_b"),
    )


# ---------------------------------------------------------------------------
# time-to-convert latency distribution
# ---------------------------------------------------------------------------
#
# The funnel-latency summary growth teams track: among users who ever
# viewed, how many purchased AFTER their first view, and how long the
# first such conversion took (p50/p90).  ONE events scan: the first
# view rides a user-partitioned window, the per-user conditional
# aggregate reuses that partitioning, and the final frame is one row.
# Deltas are integer epoch-microseconds (the RANGE-frame discipline);
# only the hour conversions round.


@register(
    "events_time_to_convert",
    """
    WITH fv AS (
      SELECT user_id, event_type, epoch_us(ts) AS ts_us,
             MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id) AS fv_us
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS viewed,
             MIN(fv_us) AS fv_us,
             MIN(CASE WHEN event_type = 'purchase' AND ts_us > fv_us
                      THEN ts_us END) AS conv_us
      FROM fv GROUP BY 1
    )
    SELECT CAST(SUM(viewed) AS BIGINT) AS n_viewed_users,
           CAST(SUM(CAST(viewed = 1 AND conv_us IS NOT NULL AS BIGINT))
                AS BIGINT) AS n_converted_users,
           ROUND(SUM(CAST(viewed = 1 AND conv_us IS NOT NULL AS BIGINT))::DOUBLE
                 / SUM(viewed), 6) AS conversion_rate,
           ROUND(quantile_cont((conv_us - fv_us)::DOUBLE, 0.5)
                 / 3600000000.0, 6) AS p50_hours,
           ROUND(quantile_cont((conv_us - fv_us)::DOUBLE, 0.9)
                 / 3600000000.0, 6) AS p90_hours
    FROM per_user
    """,
)
def events_time_to_convert(spark, sf_dir):
    """Time-to-convert distribution: among users who ever viewed, the
    fraction whose first purchase follows their first view, and the
    p50/p90 latency of that first conversion.  ONE events scan -- the
    first-view timestamp is a user-partitioned window, the per-user
    conditional aggregate reuses that exact partitioning (no second
    exchange for the groupBy), and the output is one row.  Integer
    microsecond deltas feed the exact percentile (NULLs -- never-
    converted users -- drop out in both engines identically)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = Window.partitionBy("user_id")
    fv = e.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.min(
            F.when(F.col("event_type") == "view", F.unix_micros(F.col("ts").cast("timestamp")))
        )
        .over(w)
        .alias("fv_us"),
    )
    per_user = fv.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).alias("viewed"),
        F.min("fv_us").alias("fv_us"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts_us") > F.col("fv_us")),
                F.col("ts_us"),
            )
        ).alias("conv_us"),
    )
    converted = (
        (F.col("viewed") == 1) & F.col("conv_us").isNotNull()
    ).cast("bigint")
    delta = (F.col("conv_us") - F.col("fv_us")).cast("double")
    return per_user.agg(
        F.sum("viewed").alias("n_viewed_users"),
        F.sum(converted).alias("n_converted_users"),
        F.round(F.sum(converted) / F.sum("viewed"), 6).alias(
            "conversion_rate"
        ),
        F.round(
            F.expr(
                "percentile(CAST(conv_us - fv_us AS DOUBLE), 0.5)"
            )
            / 3.6e9,
            6,
        ).alias("p50_hours"),
        F.round(
            F.expr(
                "percentile(CAST(conv_us - fv_us AS DOUBLE), 0.9)"
            )
            / 3.6e9,
            6,
        ).alias("p90_hours"),
    )
