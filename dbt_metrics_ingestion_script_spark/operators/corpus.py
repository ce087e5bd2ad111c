"""Training-corpus preparation operators (SURVEY.md §2.11 EXT).

The operations an LLM data pipeline runs between "deduped corpus" and
"training shards", each expressed as declarative DataFrame plans so
Catalyst keeps them in whole-stage codegen.  Beyond the four core
stages below: Bloom decontamination, per-stratum percentile bars,
temperature rebalancing, length profiling (exact + approx), CCNet
line-level dedup (batch + incremental-vs-index), per-source caps,
token-budget selection, and the deterministic training-order shuffle.
The founding four:

- decontaminate_ngram_overlap: flag training documents sharing word
  n-grams with an evaluation/benchmark set (the GPT-3-style 13-gram
  decontamination check).  The eval side of a decontamination run is
  tiny relative to the corpus (benchmarks, not corpora), so its distinct
  n-gram set is BROADCAST: the 100 TB scan stays map-side -- shuffle
  only the surviving (doc_id, hit) pairs for the final count.
- stratified_sample: deterministic per-stratum Bernoulli sampling via
  the portable 31-bit hash -- pure map-side filter, zero shuffle,
  reproducible across engines and retries (sampling decisions are a
  function of (id, stratum), never of partitioning or RNG state).
- chunk_fixed: overlapping fixed-width character chunks (the
  context-window splitter).  Map-side explode only -- chunk identity is
  (doc_id, chunk_offset), so no ordinality shuffle is needed.
- pack_next_fit: next-fit sequence packing -- concatenate documents in
  deterministic order and cut at capacity boundaries (how GPT-style
  training streams are packed).  Packing is windowed PER SHARD
  (partitionBy a shard key): a global packing order would serialize the
  corpus through one partition at 100 TB; per-shard next-fit keeps the
  window parallel and is how multi-file training shards are actually
  written.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import MERSENNE31, family_hash, hash31, hash64
from .dedup import normalize_text, word_shingles


def decontaminate_ngram_overlap(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    min_overlap: int = 1,
) -> DataFrame:
    """Training docs whose normalized text shares >= min_overlap distinct
    word n-grams with ANY eval document.

    Output: (doc_id, n_overlap) for flagged docs.  n=13 is the published
    decontamination standard; tests use smaller n to suit tiny fixtures.

    Gram IDENTITY is the 64-bit portable hash: a web-scale corpus holds
    ~1e11 distinct n-grams, far past the ~46k-gram birthday bound of a
    2^31 space, where 31-bit identity would over-flag (collisions read
    as contamination).  60 bits pushes the birthday bound to ~1e9 grams
    with negligible collision mass at 1e11 (see SCALE.md "Hash widths").
    """
    def grams(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(
                F.transform(word_shingles(text_col, n), hash64)
            ).alias("gram"),
        )

    eval_grams = grams(eval_set).select("gram").distinct()
    # word_shingles is array_distinct and eval_grams is distinct, so the
    # inner join yields one row per (doc, gram): a plain count IS the
    # distinct-overlap count, and it partial-aggregates map-side (one
    # exchange; count_distinct would need two)
    return (
        grams(train)
        .join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_overlap"))
        .where(F.col("n_overlap") >= min_overlap)
    )


def decontaminate_bloom(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    m_bits: int = 1 << 20,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter decontamination -- the documented scale path for
    eval sets whose exact n-gram set outgrows a broadcast
    (`decontaminate_ngram_overlap` holds the exact set; a web-scale
    held-out corpus doesn't fit).  A Bloom filter of m_bits bits and k
    hash functions stores only SET BIT POSITIONS; a training n-gram
    "hits" when all k of its positions are set.  One-sided error by
    construction: every truly-overlapping gram hits (no false
    negatives -- safe for decontamination, which must never MISS
    contamination), while hash collisions can add false positives
    (over-flagging, the conservative direction).  The pytest locks the
    superset property against the exact operator.

    Determinism across engines: positions come from the portable
    md5-based 31-bit hash fed through the arithmetic universal-hash
    family (`family_hash`), all mod m_bits -- so even the false
    positives replay bit-identically in the DuckDB oracle.

    Scale shape: the filter travels as a DISTINCT-position frame
    (at most m_bits rows of one int, typically far fewer) through a
    broadcast hash join keyed on position -- O(1) probe per position,
    never a per-gram linear array scan.  The train side explodes to
    (doc, gram, hash-index, position) rows, joins map-side, and two
    partial-aggregated shuffles reduce to grams with all k positions
    set, then to flagged docs.  Output: (doc_id, n_bloom_hits) for
    flagged docs, like the exact operator's (doc_id, n_overlap).

    At the extreme, materialize the position frame once and reuse it
    across runs; a bitmap-packed UDF variant saves broadcast bytes but
    gives up the pure-SQL portability this formulation keeps.
    """
    if k < 1 or m_bits < 2:
        raise ValueError(f"need k >= 1 and m_bits >= 2, got k={k}, m_bits={m_bits}")

    def gram_positions(df: DataFrame) -> DataFrame:
        # gram IDENTITY is 64-bit (collision-safe grouping key at corpus
        # scale); the universal-hash family needs a <2^31 operand so its
        # int64 products can't overflow, so POSITIONS derive from the
        # masked low 31 bits -- Bloom positions are lossy by design
        grams = df.select(
            F.col(id_col),
            F.explode(word_shingles(text_col, n)).alias("gram"),
        ).select(F.col(id_col), hash64("gram").alias("__g"))
        g31 = F.col("__g").bitwiseAND(F.lit(MERSENNE31))
        pos = F.array(
            *[(family_hash(g31, j) % m_bits).alias(str(j)) for j in range(k)]
        )
        return grams.select(
            F.col(id_col), F.col("__g"), F.posexplode(pos).alias("__j", "__pos")
        )

    bloom = gram_positions(eval_set).select("__pos").distinct()
    hits = (
        gram_positions(train)
        .join(F.broadcast(bloom), "__pos")
        # count DISTINCT hash indices: == k means every position of
        # this gram is set.  Distinct (not count(*)) so two same-doc
        # grams colliding to one 64-bit value -- whose position rows
        # are exact duplicates -- can't double-count an index
        .groupBy(id_col, "__g")
        .agg(F.count_distinct("__j").alias("__set"))
        .where(F.col("__set") == k)
        .groupBy(id_col)
        .agg(F.count("*").alias("n_bloom_hits"))
    )
    return hits


def cross_doc_dup_fraction(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Per-document CROSS-document duplicated n-gram fraction: for each
    doc, the share of its distinct word n-grams that also occur in at
    least one OTHER document.  This is the sub-document duplication
    signal behind suffix-array dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better") and the Gopher
    duplicated-n-gram quality filters -- whole-doc digests miss boiler-
    plate (headers, licenses, templates) shared ACROSS distinct pages,
    which is most of what a web corpus over-trains on.

    Output: (doc_id, n_grams, n_dup_grams, dup_fraction).

    Scale shape: documents scan ONCE.  The gram document-frequency is a
    count window partitioned by the 64-bit gram hash over the exploded
    (doc, gram) frame -- word_shingles is array_distinct per doc, so
    the per-gram row count IS its document frequency, and the window
    reuses the same gram-keyed exchange a groupBy-then-self-join
    formulation would need TWICE (df aggregate + join back, re-reading
    the corpus).  Two keyed shuffles total (gram window + doc_id
    rollup), both over slim (id, gram-hash) rows, never the text
    payload.  At 100 TB, stride or Bloom-prefilter the gram stream if
    the exploded frame dominates; the window shape is unchanged.

    Gram identity is 64-bit deliberately: document frequency counts
    COLLIDING hashes as the same gram, so in a 2^31 space any corpus
    past the ~46k-gram birthday bound inflates dup_fraction toward 1
    (two distinct grams colliding -- even within one document -- read
    as cross-document duplicates).  The 60-bit md5 prefix keeps the
    expected collision mass negligible at the ~1e11 distinct grams of
    a web corpus (SCALE.md "Hash widths")."""
    grams = df.select(
        F.col(id_col),
        F.explode(
            F.transform(word_shingles(text_col, n), hash64)
        ).alias("gram"),
    )
    w = Window.partitionBy("gram")
    with_df = grams.withColumn("__df", F.count("*").over(w))
    return (
        with_df.groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("__df") > 1, 1).otherwise(0)).alias(
                "n_dup_grams"
            ),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_grams") / F.col("n_grams"), 6),
        )
    )


def sample_keep(id_col: Column | str, stratum: Column | str, rate: Column) -> Column:
    """Deterministic Bernoulli keep-decision: hash31(id ':' stratum)
    uniform on [0, 2^31-1) compared against rate * (2^31-1).

    A NULL stratum hashes as the empty string (explicit coalesce so the
    engine-specific NULL-concat semantics can't diverge: Spark's
    concat_ws skips NULLs while ANSI || propagates them)."""
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    st = F.col(stratum) if isinstance(stratum, str) else stratum
    h = hash31(F.concat_ws(":", idc.cast("string"), F.coalesce(st, F.lit(""))))
    return h < rate * F.lit(MERSENNE31)


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-stratum deterministic sample: keep each row with its stratum's
    rate.  Rebalances skewed corpora (e.g. downsample dominant languages)
    with zero shuffle and retry-stable output."""
    rate = F.lit(float(default_rate))
    for value, r in sorted(rates.items()):
        rate = F.when(F.col(stratum_col) == value, F.lit(float(r))).otherwise(rate)
    return df.where(sample_keep(id_col, stratum_col, rate))


def curriculum_phases(
    scores: DataFrame,
    n_phases: int = 10,
    score_col: str = "avg_logprob",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum ordering: assign every document an easiest-first
    training PHASE (1 = most typical under the quality score, n_phases
    = hardest) plus a deterministic within-phase shuffle key -- the
    stage that turns a scored corpus into a curriculum-learning
    schedule (typical data first, tail data later).

    Phase boundaries are EXACT score percentiles computed once into a
    1-row broadcast threshold frame; each row's phase is
    1 + (number of thresholds strictly above its score) -- a map-side
    comparison, monotone nonincreasing in score by construction.  A
    global ntile() would sort the corpus through one reducer; the
    threshold frame keeps the corpus scan shuffle-free (the
    corpus_length_histogram bounds-frame discipline).  Thresholds
    round to 6dp so both engines compare identical doubles.

    Output: (id, score_col, phase, order_key); (phase, order_key) is
    the training SORT KEY -- like the global shuffle and mixing
    schedule, global order is a sort key, never a row_number."""
    if n_phases < 2:
        raise ValueError("n_phases must be >= 2")
    qs = [i / n_phases for i in range(1, n_phases)]
    thr = scores.agg(
        *[
            F.round(
                F.expr(f"percentile({score_col}, {q})"), 6
            ).alias(f"__t{i}")
            for i, q in enumerate(qs)
        ]
    )
    joined = scores.crossJoin(F.broadcast(thr))
    above = [
        F.when(F.col(f"__t{i}") > F.col(score_col), 1).otherwise(0)
        for i in range(len(qs))
    ]
    phase = F.lit(1)
    for a in above:
        phase = phase + a
    return joined.select(
        F.col(id_col),
        F.col(score_col),
        phase.alias("phase"),
        hash64(F.col(id_col).cast("string")).alias("order_key"),
    )


CDC_WINDOW = 8  # rolling-hash window (chars)
CDC_BASE = 31
CDC_DIVISOR = 64  # boundary when h % divisor == 0 -> ~64-char chunks


def cdc_chunks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    window: int = CDC_WINDOW,
    divisor: int = CDC_DIVISOR,
) -> DataFrame:
    """Content-defined chunking (Rabin-style CDC, the boundary rule
    behind LBFS/restic/borg storage dedup): cut the normalized text
    wherever the rolling hash of the trailing `window` chars satisfies
    h % divisor == 0.  Boundaries are a function of LOCAL CONTENT, not
    position -- so inserting or deleting a prefix shifts fixed-width
    chunk hashes wholesale but leaves CDC chunk hashes downstream of
    the edit intact (the shift-resilience test pins this against
    `chunk_fixed`).  This is the sub-document dedup primitive for
    templated/boilerplate corpora where edits move content around.

    Output: (doc_id, chunk_idx, chunk_start, chunk_len, chunk_hash) --
    chunk_hash is the portable 64-bit content hash, the key cross-doc
    chunk dedup (count window / groupBy) runs on.

    Scale shape: everything is MAP-SIDE JVM expression work -- the
    per-position rolling hash is an O(window) fold over an array
    slice inside one projection (no UDF, no shuffle), boundary
    positions collapse to an array per doc, and chunks posexplode.
    The rolling hash folds (acc*B + code) mod 2^31-1 per char, which
    equals the closed-form polynomial sum mod M -- the DuckDB oracle
    replays it in closed form, pinning the fold algebra.  Classic CDC
    adds min/max chunk-size clamps for pathological content; omitted
    here (the divisor bounds the EXPECTED size; a clamp is a filter on
    the same boundary array)."""
    if window < 2:
        raise ValueError("window must be >= 2")
    from .similarity import ensure_scan_parallelism

    M = MERSENNE31
    norm = normalize_text(text_col)
    # fan out an under-split scan first (r15): the O(len) rolling-hash
    # fold below is an interpreted per-element expression and ran on
    # ONE core for a single-row-group corpus; no-op for split inputs
    base = ensure_scan_parallelism(df, id_col).select(
        F.col(id_col), norm.alias("__norm")
    ).where(
        F.col("__norm").isNotNull() & (F.length("__norm") > 0)
    )
    # STAGE the char-code array and its size in their own projection
    # (SCALE.md lambda trap: an expression inlined into a higher-order
    # lambda re-evaluates PER ELEMENT -- an inlined split here would
    # re-split the document at every position, O(n^2) per doc;
    # measured 90s -> sub-second at sf0.1)
    staged = base.select(
        F.col(id_col),
        "__norm",
        F.transform(
            F.split(F.col("__norm"), "(?!^)(?=.)"), F.ascii
        ).alias("__codes"),
    ).withColumn("__n", F.size("__codes"))
    codes, n = F.col("__codes"), F.col("__n")

    # ONE O(n) fold per document: the accumulator carries the rolling
    # hash (evicting c[pos-w]*B^w as the window slides -- the Rabin
    # update, not an O(w) re-hash per position), the position, and the
    # boundary list.  pmod guards the subtraction's sign.  Equality
    # with the closed-form window polynomial (which the DuckDB oracle
    # computes) holds because both reduce the same sum mod M.
    bw = pow(CDC_BASE, window, M)
    init = F.struct(
        F.lit(0).cast("long").alias("h"),
        F.lit(0).alias("pos"),
        F.array().cast("array<int>").alias("cuts"),
    )

    def step(acc, x):
        evict = F.when(
            acc.pos >= window,
            F.element_at(codes, acc.pos - window + 1).cast("long") * bw,
        ).otherwise(F.lit(0).cast("long"))
        h2 = F.pmod(acc.h * CDC_BASE + x - evict, F.lit(M))
        is_cut = (
            (acc.pos >= window - 1)
            & (acc.pos <= n - 2)
            & (h2 % divisor == 0)
        )
        return F.struct(
            h2.alias("h"),
            (acc.pos + 1).alias("pos"),
            F.when(
                is_cut, F.concat(acc.cuts, F.array(acc.pos))
            ).otherwise(acc.cuts).alias("cuts"),
        )

    with_cuts = staged.withColumn(
        "__cuts", F.aggregate(codes, init, step, lambda acc: acc.cuts)
    )
    cuts = F.col("__cuts")
    starts = F.concat(
        F.array(F.lit(0)), F.transform(cuts, lambda p: p + 1)
    )
    ends = F.concat(cuts, F.array(n - 1))
    spans = F.zip_with(
        starts, ends, lambda s, e: F.struct(s.alias("s"), e.alias("e"))
    )
    exploded = with_cuts.select(
        F.col(id_col), F.col("__norm"), F.posexplode(spans).alias("chunk_idx", "__sp")
    )
    chunk = F.col("__norm").substr(
        F.col("__sp.s") + 1, F.col("__sp.e") - F.col("__sp.s") + 1
    )
    return exploded.select(
        F.col(id_col),
        "chunk_idx",
        F.col("__sp.s").alias("chunk_start"),
        (F.col("__sp.e") - F.col("__sp.s") + 1).alias("chunk_len"),
        hash64(chunk).alias("chunk_hash"),
    )


def weighted_priority_sample(
    df: DataFrame,
    weight: Column,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via priority sampling
    (Duffield, Lund & Thorup, JACM 2007 -- a public algorithm): each
    row gets priority w / u with u uniform in (0, 1]; the k highest
    priorities are the sample.  Inclusion probability approaches
    min(1, w/tau) for the (k+1)-st priority tau, so heavy documents
    (by tokens, quality, boost) are kept preferentially while light
    ones still get a proportional chance -- the weighted counterpart
    of the Bernoulli/temperature samplers.

    Determinism and cross-engine exactness: u = (hash31(id) + 1) /
    2^31 is an EXACT dyadic rational, and w / u is one correctly
    rounded IEEE division -- no pow/ln whose last-ulp behavior could
    differ between engines (this is why priority sampling is chosen
    over the exponential-keys A-ES formulation: same without-
    replacement semantics, transcendental-free keys).  The top-k is a
    TakeOrdered (per-partition heaps + k-row merge), never a global
    sort, and the weight column stays a plan expression so the scan
    computes everything map-side."""
    if k < 1:
        raise ValueError("k must be >= 1")
    u = (hash31(F.col(id_col).cast("string")) + 1) / F.lit(2147483648.0)
    scored = df.select(
        F.col(id_col),
        weight.cast("double").alias("weight"),
        (weight.cast("double") / u).alias("priority"),
    ).where(F.col("weight") > 0)
    return (
        scored.orderBy(F.desc("priority"), F.asc(id_col))
        .limit(k)
        .select(
            id_col,
            "weight",
            F.round("priority", 4).alias("priority"),
        )
    )


def chunk_fixed(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_chars: int = 200,
    overlap: int = 50,
) -> DataFrame:
    """Overlapping fixed-width chunks of the normalized text.

    Output: (doc_id, chunk_offset, chunk_len, chunk_hash) -- one row per
    chunk, identified by its character offset (no ordinality needed, so
    the plan is a pure map-side explode).  Empty documents produce one
    empty chunk, so every input doc is represented downstream.
    """
    if overlap >= chunk_chars:
        raise ValueError("overlap must be < chunk_chars")
    stride = chunk_chars - overlap
    norm = normalize_text(text_col)
    base = df.select(F.col(id_col), norm.alias("__norm"))
    offsets = F.sequence(
        F.lit(0), F.greatest(F.length("__norm") - 1, F.lit(0)), F.lit(stride)
    )
    chunk = F.substring(F.col("__norm"), F.col("chunk_offset") + 1, chunk_chars)
    return (
        base.select(F.col(id_col), F.col("__norm"), F.explode(offsets).alias("chunk_offset"))
        .select(
            F.col(id_col),
            "chunk_offset",
            F.length(chunk).alias("chunk_len"),
            F.conv(F.substring(F.md5(chunk), 1, 15), 16, 10)
            .cast("bigint")
            .alias("chunk_hash"),
        )
    )


def pack_next_fit(
    df: DataFrame,
    shard_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    capacity: int = 512,
) -> DataFrame:
    """Next-fit sequence packing per shard: documents are laid out in
    deterministic (id) order inside each shard, the token stream is cut
    every `capacity` tokens, and a document belongs to the bin its first
    token lands in.

    Output: (shard, bin_id, n_docs, n_tokens) -- the shard manifest a
    training-data writer would materialize.
    """
    toks = F.size(F.split(normalize_text(text_col), " "))
    return (
        df.select(F.col(shard_col).alias("shard"), F.col(id_col), toks.alias("n_toks"))
        .withColumn(
            "bin_id",
            F.floor(F.coalesce(F.sum("n_toks").over(
                Window.partitionBy("shard")
                .orderBy(id_col)
                .rowsBetween(Window.unboundedPreceding, -1)
            ), F.lit(0)) / capacity),
        )
        .groupBy("shard", "bin_id")
        .agg(F.count("*").alias("n_docs"), F.sum("n_toks").alias("n_tokens"))
    )


def percentile_filter(
    df: DataFrame,
    score_col: str,
    stratum_col: str,
    q: float = 0.5,
) -> DataFrame:
    """Keep the top `q` fraction of rows PER STRATUM by `score_col`:
    the corpus-curation stage that applies a quality bar relative to
    each source/language instead of one global threshold (a global bar
    would empty low-resource strata whose score distribution sits
    lower).

    Mechanics: `percent_rank()` over (stratum, score) and keep rows
    with pct_rank >= 1 - q.  percent_rank is (rank-1)/(n-1) in every
    ANSI engine and depends only on the ordering and tie structure, so
    ordering by an already-ROUNDED score makes the filter bit-portable
    (the registered oracle replays it verbatim).  Ties share a rank, so
    the kept fraction can exceed q by the boundary tie group --
    deterministic, never random tie-breaking.

    NULL scores are dropped BEFORE ranking: an unscorable row cannot
    pass a quality bar, and the engines disagree on NULL placement
    (Spark sorts NULLS FIRST ascending, DuckDB NULLS LAST -- the
    latter would crown every NULL-score row top-quality).  The
    explicit filter pins the semantics and keeps the (n-1) rank
    denominator identical on both sides.

    Output: the input rows + pct_rank (rounded 6), filtered.

    Scale shape: ONE shuffle, hash-partitioned on the stratum; reducer
    state is the sort run of one stratum.  For strata too large to sort
    in one task, switch to a two-pass threshold plan: per-stratum
    `percentile_approx(score, 1-q)` (t-digest, mergeable, map-side
    partials) broadcast back as a threshold join -- same contract,
    tolerance-checked instead of exact.
    """
    if not 0.0 < q <= 1.0:
        raise ValueError(f"q must be in (0, 1], got {q}")
    w = Window.partitionBy(stratum_col).orderBy(F.col(score_col).asc())
    return (
        df.where(F.col(score_col).isNotNull())
        .withColumn("pct_rank", F.round(F.percent_rank().over(w), 6))
        .where(F.col("pct_rank") >= F.lit(1.0) - F.lit(float(q)))
    )


def temperature_sample(
    df: DataFrame,
    stratum_col: str,
    alpha: float = 0.5,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based corpus rebalancing (the multilingual-LM data
    mixing rule): sample each stratum so kept counts are proportional
    to c_s^alpha instead of c_s, flattening dominant strata while
    keeping every rare stratum intact.  alpha=1 keeps the natural
    distribution; alpha->0 approaches uniform.

    Per-stratum keep rate: r_s = (c_min / c_s)^(1-alpha), so the
    rarest stratum keeps rate 1.0 (never downsample the low-resource
    tail) and a stratum k times larger keeps k^(alpha-1) of its rows.
    The keep decision reuses `sample_keep`'s deterministic
    hash(id:stratum) threshold -- map-side, retry-stable, engine-
    portable.  Rates are rounded to 6 decimals BEFORE the threshold
    compare, and alpha=0.5 computes via sqrt (IEEE correctly-rounded
    in every engine) rather than pow (libm-dependent at the ulp), so
    the oracle replays decisions bit-identically.

    NULL strata count and hash as the empty string (one group), the
    same conflation `sample_keep` already applies.

    Scale shape: one partial-aggregated count shuffle over strata, a
    1-row min broadcast, a broadcast rate join (|strata| rows), then a
    map-side filter -- the corpus itself never shuffles.

    Output: kept rows + their stratum's keep_rate.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    key = F.coalesce(F.col(stratum_col), F.lit("")).alias("__strat")
    counts = df.select(key).groupBy("__strat").agg(F.count("*").alias("__c"))
    # cmin via a single-partition window over the |strata|-row counts
    # frame -- a separate min() aggregate would re-derive the counts
    # subtree from a second corpus scan (Spark recomputes
    # twice-referenced subtrees)
    w_all = Window.partitionBy()
    ratio = F.min("__c").over(w_all) / F.col("__c")
    e = 1.0 - alpha
    powed = F.sqrt(ratio) if e == 0.5 else F.pow(ratio, F.lit(e))
    rates = counts.select("__strat", F.round(powed, 6).alias("keep_rate"))
    return (
        df.withColumn("__strat", key)
        .join(F.broadcast(rates), "__strat")
        .where(sample_keep(id_col, stratum_col, F.col("keep_rate")))
        .drop("__strat")
    )


def line_dedup(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_words: int = 5,
    dup_threshold: int = 2,
) -> DataFrame:
    """CCNet-style duplicated-segment removal: drop every segment whose
    normalized content occurs >= `dup_threshold` times corpus-wide
    (boilerplate headers, navigation chrome, license blocks), then
    reassemble each document from its surviving segments in order.

    Corpora with explicit line structure would segment on newlines; the
    token-stream form here segments the normalized text into fixed
    `segment_words`-word spans (the same fixed-width segmentation a
    tokenized corpus gets), which keeps segmentation a pure map-side
    explode -- segment identity is (doc_id, seg_idx), no ordinality
    shuffle.  Removal counts total occurrences (a segment repeated
    inside ONE doc still counts), matching CCNet's drop-all semantics:
    no copy of a duplicated segment survives, unlike keep-first
    document dedup.

    Output: (doc_id, n_segments, n_removed, text_kept).  Documents
    whose every segment was removed stay in the output with
    text_kept = ''.

    Scale: exactly two shuffles -- a window count partitioned by the
    64-bit segment digest (the segment frame moves ONCE; a groupBy +
    rejoin formulation would shuffle it twice since the distinct-
    segment count frame is corpus-sized, never broadcastable), then
    the per-doc reassembly aggregation.  All arithmetic is integer /
    string, so the DuckDB oracle replays every decision bit-identically
    (shared md5-derived digest on both sides, hash collisions
    included).
    """
    from ..functions.hashing import hash64

    segs = _segments(documents, text_col, id_col, segment_words)
    flagged = segs.select(
        F.col(id_col),
        "__seg_idx",
        "__seg",
        (
            F.count("*").over(
                Window.partitionBy(hash64(F.col("__seg")))
            )
            >= dup_threshold
        ).alias("__dup"),
    )
    return _reassemble(flagged, id_col)


def _segments(
    documents: DataFrame, text_col: str, id_col: str, segment_words: int
) -> DataFrame:
    """(id, __seg_idx, __seg): fixed-word segmentation of the
    normalized text, a pure map-side explode (shared by line_dedup and
    its incremental-index variant)."""
    if segment_words < 1:
        raise ValueError("segment_words must be >= 1")
    w = segment_words
    base = documents.select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("__toks")
    )
    n_seg = F.ceil(F.size("__toks") / F.lit(w))
    seg_text = F.concat_ws(
        " ", F.slice("__toks", F.col("__seg_idx") * w + 1, w)
    )
    return base.select(
        F.col(id_col),
        F.explode(F.sequence(F.lit(0).cast("long"), n_seg - 1)).alias(
            "__seg_idx"
        ),
        "__toks",
    ).select(F.col(id_col), "__seg_idx", seg_text.alias("__seg"))


def _reassemble(flagged: DataFrame, id_col: str) -> DataFrame:
    """Per-doc ordered reassembly of non-dup segments: one aggregation
    shuffle; output (id, n_segments, n_removed, text_kept)."""
    parts = F.sort_array(
        F.collect_list(
            F.struct(
                F.col("__seg_idx").alias("i"),
                F.col("__dup").alias("d"),
                F.col("__seg").alias("s"),
            )
        )
    )
    kept = F.transform(
        F.filter(parts, lambda x: ~x["d"]), lambda x: x["s"]
    )
    return flagged.groupBy(id_col).agg(
        F.count("*").alias("n_segments"),
        F.sum(F.col("__dup").cast("long")).alias("n_removed"),
        F.concat_ws(" ", kept).alias("text_kept"),
    )


def segment_count_index(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_words: int = 5,
) -> DataFrame:
    """(seg_h, c): corpus-wide segment-occurrence counts keyed by the
    64-bit segment digest -- the boilerplate-frequency index
    `line_dedup_against_index` consumes.  Materialize once over the
    reference corpus (CCNet computes its line frequencies over a
    reference shard, then strips matching lines from everything);
    counts are content-pure, so batches append by re-aggregating."""
    from ..functions.hashing import hash64

    return (
        _segments(documents, text_col, id_col, segment_words)
        .groupBy(hash64(F.col("__seg")).alias("seg_h"))
        .agg(F.count("*").alias("c"))
    )


def line_dedup_against_index(
    batch: DataFrame,
    segment_counts: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    segment_words: int = 5,
    dup_threshold: int = 2,
) -> DataFrame:
    """Incremental line-level dedup: strip from each batch document
    every segment whose count in the HISTORICAL index
    (`segment_count_index`) reaches `dup_threshold` -- boilerplate
    known from the reference corpus is removed without rescanning it.
    Batch-INTERNAL duplication deliberately does NOT count (mirroring
    the whole incremental family: in-batch effects are handled by the
    batch operator `line_dedup`; refresh the index with the batch's
    segments out of band).

    Segment width must match the index build -- same contract as the
    signature indexes.  Output schema == line_dedup's.

    Scale: batch segmentation is map-side; ONE shuffled join against
    the index keyed on the segment digest (the index is corpus-sized,
    never broadcast) + the per-doc reassembly shuffle."""
    segs = _segments(batch, text_col, id_col, segment_words)
    from ..functions.hashing import hash64

    flagged = (
        segs.withColumn("seg_h", hash64(F.col("__seg")))
        .join(segment_counts, "seg_h", "left")
        .select(
            F.col(id_col),
            "__seg_idx",
            "__seg",
            (F.coalesce(F.col("c"), F.lit(0)) >= dup_threshold).alias("__dup"),
        )
    )
    return _reassemble(flagged, id_col)


def length_profile(
    documents: DataFrame,
    stratum_col: str = "source",
    value_col: str = "n_chars",
) -> DataFrame:
    """Per-stratum document-length profile: count, mean, and exact
    interpolated p50/p90/p99 -- the distribution snapshot curation
    pipelines use to pick chunk sizes, spot truncated scrapes, and
    set packing budgets per source.

    Spark's exact `percentile` and DuckDB's `quantile_cont` share the
    same linear-interpolation definition, so the profile is fully
    oracle-checkable.  One shuffle keyed by stratum; exact percentile
    buffers each group's values on the reducer, which is fine for
    per-source profiling (strata are few and the buffered value is one
    long per doc).  For high-cardinality strata or corpus-wide
    profiles switch to percentile_approx (t-digest, mergeable,
    bounded memory) and drop the oracle to a tolerance check.
    """
    v = F.col(value_col)
    return documents.groupBy(stratum_col).agg(
        F.count(v).alias("n_docs"),
        F.round(F.avg(v), 6).alias("mean_chars"),
        F.round(F.percentile(v, F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile(v, F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile(v, F.lit(0.99)), 6).alias("p99"),
    )


def source_cap_topk(
    df: DataFrame,
    stratum_col: str = "source",
    score_col: str = "n_chars",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Per-source document cap: keep the top `k` documents of each
    stratum by score -- the domain-cap rule crawl curation applies so
    no single site dominates the corpus (the complement of
    temperature_sample: a hard per-stratum ceiling instead of a
    proportional rate).

    Ranking is row_number over (score DESC, id ASC): the id tiebreak
    makes the cut deterministic under score ties, so results are
    stable across engines, retries, and partitionings.

    Output: (id, stratum, score, rank), rank in [1, k].  One shuffle
    (the per-stratum window); at 100 TB this is the canonical top-k
    pattern -- the window state per reducer is one stratum's rows, and
    a heavily skewed stratum can be pre-thinned with a per-partition
    partial top-k before the window if needed.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    w = Window.partitionBy(stratum_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return (
        df.select(id_col, stratum_col, score_col)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def global_shuffle(
    df: DataFrame,
    id_col: str = "doc_id",
    seed: int = 0,
    n_buckets: int = 64,
) -> DataFrame:
    """Deterministic training-order shuffle: a reproducible
    pseudorandom permutation of the corpus, materialized the way
    training-data writers actually lay it out -- `n_buckets` shard
    files, each internally ordered.  shuffle_key = hash(id : seed)
    gives a content-independent pseudorandom order; bucket = key mod
    n_buckets is the shard a document lands in; pos is its offset
    within the shard (ordered by key, id-tiebroken).  Changing the
    seed reshuffles everything; replaying the same seed reproduces the
    exact epoch order on any engine and any partitioning.

    Output: (id, bucket, pos).  One shuffle (the per-bucket window) --
    a single GLOBAL row_number would serialize 100 TB through one
    reducer; per-bucket positions keep all reducers busy and the
    consumer reads shards in bucket order for the full epoch order.
    """
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    from ..functions.hashing import hash64

    key = hash64(F.concat_ws(":", F.col(id_col).cast("string"), F.lit(str(seed))))
    w = Window.partitionBy("bucket").orderBy(
        F.col("__key").asc(), F.col(id_col).asc()
    )
    return (
        df.select(F.col(id_col), key.alias("__key"))
        .withColumn("bucket", F.col("__key") % n_buckets)
        .withColumn("pos", F.row_number().over(w))
        .select(id_col, "bucket", "pos")
    )


def budget_select(
    documents: DataFrame,
    budget_tokens: int,
    stratum_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Token-budget-constrained corpus selection: walk each stratum's
    documents in quality order (stopword-ratio score, id-tiebroken)
    and keep rows while the stratum's RUNNING token total stays within
    `budget_tokens` -- the greedy mixing rule used to fill a training
    budget with the best available data per source ("give me the top
    N-billion tokens of each feed").

    Greedy-prefix semantics (not knapsack): the first document whose
    tokens would overflow the budget is cut even if a smaller,
    lower-scoring one would still fit -- deterministic and
    order-stable, which matters more than the last few tokens of
    packing efficiency.

    Output: (id, stratum, score, n_tokens, running_tokens),
    running_tokens <= budget_tokens.  One shuffle (the per-stratum
    window); all arithmetic integer / 4-dec-rounded, so the oracle
    replays every cut decision.
    """
    if budget_tokens < 1:
        raise ValueError("budget_tokens must be >= 1")
    from .text import QUALITY_STOPWORDS

    toks = F.split(normalize_text(text_col), " ")
    base = documents.select(
        F.col(id_col), F.col(stratum_col), toks.alias("__toks")
    )
    n_tokens = F.greatest(F.size("__toks"), F.lit(1))
    n_stop = F.size(
        F.filter(
            "__toks",
            lambda t: F.array_contains(
                F.array(*[F.lit(s) for s in QUALITY_STOPWORDS]), t
            ),
        )
    )
    scored = base.select(
        F.col(id_col),
        F.col(stratum_col),
        F.round(n_stop / n_tokens, 4).alias("score"),
        n_tokens.alias("n_tokens"),
    )
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("running_tokens", F.sum("n_tokens").over(w))
        .where(F.col("running_tokens") <= budget_tokens)
    )


def pps_systematic_sample(
    df: DataFrame,
    weight_col: str,
    stratum_col: str = "source",
    id_col: str = "doc_id",
    k: int = 50,
    n_buckets: int = 32,
) -> DataFrame:
    """Probability-proportional-to-size systematic sampling per stratum
    (classic PPS / "dollar-unit" sampling): lay every document on a
    line segment of length = its weight, walk the stratum's line with
    a fixed stride, and keep each document once per sampling point
    that lands inside its segment.  Large documents are selected with
    probability proportional to weight (and with certainty +
    multiplicity once weight >= stride); expected sample size per
    stratum is ~k.  This is the weighted counterpart of
    `stratified_sample`'s uniform Bernoulli -- the estimator a corpus
    pipeline uses when "sample 1% of the TOKENS, not 1% of the
    documents" is the requirement.

    Entirely INTEGER arithmetic (int64 cumsum, DIV stride walk), so
    every selection decision and multiplicity is bit-identical in any
    engine -- no RNG, no doubles, retry-stable.

    Scale shape -- the distributed prefix sum: a single global cumsum
    window would serialize each stratum through one reducer.  Instead
    the canonical walk order is (bucket, id) where bucket =
    hash31(id) % n_buckets: per-(stratum, bucket) partial sums
    aggregate first (one small shuffle), bucket offsets come from a
    window over that |strata| x n_buckets frame, and the corpus-side
    cumsum runs per (stratum, bucket) with the offset added back --
    n_buckets-way parallel within every stratum, one corpus shuffle
    total.  The DuckDB oracle replays the SAME walk order with a
    naive single-window formulation (different plan, identical
    integers), which is the cross-engine evidence the differential
    harness wants.

    Rows with NULL or non-positive weight have zero-length segments:
    they can never contain a sampling point and are dropped up front
    (documented, matches the oracle's WHERE).

    Output: (id, stratum, weight, w_end, n_hits) for selected rows --
    w_end is the document's segment end on the stratum line (audit
    column), n_hits >= 1 its selection multiplicity.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    strat = F.coalesce(F.col(stratum_col), F.lit("")).alias("stratum")
    base = df.select(
        F.col(id_col),
        strat,
        F.col(weight_col).cast("bigint").alias("weight"),
        (hash31(F.col(id_col).cast("string")) % n_buckets).alias("__b"),
    ).where(F.col("weight") > 0)

    bucket_tot = base.groupBy("stratum", "__b").agg(
        F.sum("weight").alias("__bw")
    )
    w_off = (
        Window.partitionBy("stratum")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_strat = Window.partitionBy("stratum")
    offsets = bucket_tot.select(
        "stratum",
        "__b",
        F.coalesce(F.sum("__bw").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__bw").over(w_strat).alias("__tot"),
    )
    stride = F.greatest(F.expr(f"__tot DIV {k}"), F.lit(1))

    w_in = (
        Window.partitionBy("stratum", "__b")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.join(F.broadcast(offsets), ["stratum", "__b"]).select(
        F.col(id_col),
        "stratum",
        "weight",
        (F.col("__off") + F.sum("weight").over(w_in)).alias("w_end"),
        stride.alias("__stride"),
    )
    n_hits = F.expr("w_end DIV __stride") - F.expr(
        "(w_end - weight) DIV __stride"
    )
    return cum.select(
        F.col(id_col),
        "stratum",
        "weight",
        "w_end",
        n_hits.alias("n_hits"),
    ).where(F.col("n_hits") >= 1)


def duplicated_substring_extents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """EXACT SUBSTRING dedup, detection half (the canonical suffix-array
    dedup mode of Lee et al., "Deduplicating Training Data Makes
    Language Models Better", re-expressed as sorted positional
    shingles): every maximal token extent of a document whose every
    token is covered by some n-token window that also occurs verbatim
    in at least one OTHER document.

    Output: (doc_id, start_tok, end_tok, n_tokens) with 1-based
    inclusive token positions over the normalized tokenization; extents
    are maximal runs of consecutive covered tokens (overlapping and
    adjacent duplicated windows coalesce), so the rows are disjoint per
    document and directly drive span removal
    (substring_dedup_clean).

    Equivalence to the suffix-array formulation: a duplicated substring
    of length >= n is exactly a run of consecutive duplicated n-gram
    start positions, so the union of their n-token covers reproduces
    the suffix-array extent up to the n-1 tokens of window slack at
    run edges -- the standard positional-shingle approximation, exact
    for the tokens it marks (every marked token IS inside a cross-doc
    duplicate of length >= n).

    Scale shape: one real documents scan (the positional gram frame is
    lazily localCheckpointed -- it feeds both the per-gram aggregate
    and the coverage join-back, and Catalyst would otherwise
    re-tokenize documents per reference); grams are slim (id, pos,
    hash64) rows, never the text payload.  That one scan is HIDDEN
    from the final plan (the checkpoint is a Scan ExistingRDD leaf);
    plan_audit's `ckpt` column counts such leaves so the scan budget
    is not understated.  Measured price of the r10 de-skew at sf0.1:
    ~1.7x wall-time canary-normalized (0.48s -> 1.14s raw, r9 -> r10
    BENCHFULL) vs the per-gram window form -- deliberate; do NOT
    "optimize" the window back in, it serializes a 1e9-occurrence
    boilerplate gram onto one partition at 100 TB.  Cross-document occurrence
    is a groupBy(gram).agg(min(doc) != max(doc)) plus a join-back --
    NOT a per-gram window: partial aggregation collapses a hot
    boilerplate gram to one row per map task BEFORE the shuffle, and
    the join-back is AQE-skew-splittable, where a window partition is
    not (a gram occurring 1e9 times at 100 TB would serialize one
    whole partition under the window form; VERDICT r9 nit 3).  The
    extent merge is one (doc, pos) window whose sort the per-doc
    groupBy reuses.  Three slim shuffles total (gram agg, coverage
    join-back, extent window).  At 100 TB, stride the gram stream
    (every s-th position, s < n keeps cover exactness) if the
    positional frame dominates, or swap the checkpoint for a second
    documents scan when local disk is tighter than tokenize CPU.

    Positions come from the same single regexp pass as word_shingles
    (match i of the lookahead pattern IS the window starting at token
    i+1) -- no array_distinct here, because positions matter."""
    if n < 2:
        raise ValueError(f"need n >= 2, got n={n}")
    norm = normalize_text(text_col)
    pat = r"(?=(" + r"\S+ " * (n - 1) + r"\S+))\S+ ?"
    grams = df.select(
        F.col(id_col),
        F.posexplode(F.regexp_extract_all(norm, F.lit(pat), 1)).alias(
            "__p0", "__gram"
        ),
    ).select(
        F.col(id_col),
        (F.col("__p0") + 1).alias("pos"),
        hash64(F.col("__gram")).alias("__g"),
    )
    # lazy checkpoint: grams feeds the aggregate AND the join-back, so
    # truncate its lineage once.  eager=False (round-10 advice):
    # building/explaining this frame must not run the scan+tokenize
    # job -- blocks materialize at the first real action and both
    # references reuse them within that job.  Blocks are executor-
    # local (not fault-tolerant): a lost executor recomputes its
    # partitions from the parquet scan, i.e. degrades to exactly the
    # cost the checkpoint saved.  No explicit unpersist handle: the
    # operator returns a derived frame and the ContextCleaner drops
    # the blocks when the RDD goes out of scope.
    grams = grams.localCheckpoint(eager=False)
    xdoc = (
        grams.groupBy("__g")
        .agg(F.min(id_col).alias("__mn"), F.max(id_col).alias("__mx"))
        .where(F.col("__mn") != F.col("__mx"))
        .select("__g")
    )
    # join-back pinned to a SHUFFLED merge join (VERDICT r12 item 4,
    # the one measured memory cliff): the checkpoint leaf inherits the
    # PRE-explode size estimate (documents scan column-pruned to three
    # slim columns), so the planner judged the full positional gram
    # frame broadcastable and built a hashed relation of EVERY gram
    # occurrence per task -- 8.6 GiB at x10 (charged once per task
    # slot), growing with the corpus: a guaranteed 100x OOM.  The
    # merge-join hint keeps memory sort-buffer-bounded (spillable) and
    # costs no extra scan or shuffle: the join's gram side reuses the
    # SAME hashpartitioning(__g) exchange the aggregate reads
    # (ReusedExchange -- measured x10 peak drops 8.6 GiB -> sub-GiB
    # with wall within noise, SCALING_r13).
    dup = grams.hint("shuffle_merge").join(xdoc, "__g").select(id_col, "pos")
    wd = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + (n - 1)).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dup.withColumn(
        "__new",
        F.when(prev_end.isNull() | (F.col("pos") > prev_end + 1), 1).otherwise(
            0
        ),
    ).withColumn(
        "__ext", F.sum("__new").over(wd.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        marked.groupBy(id_col, "__ext")
        .agg(
            F.min("pos").cast("bigint").alias("start_tok"),
            (F.max("pos") + (n - 1)).cast("bigint").alias("end_tok"),
        )
        .select(
            id_col,
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok") + 1).alias("n_tokens"),
        )
    )


def substring_dedup_clean(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """EXACT SUBSTRING dedup, removal half: re-emit every document with
    its cross-document duplicated extents (duplicated_substring_extents
    above) cut out.

    Output: (doc_id, clean_text, n_kept, n_removed) -- token counts on
    the normalized tokenization; a fully-duplicated document survives
    with clean_text = '' (dropping is the caller's policy decision,
    e.g. WHERE n_kept >= threshold).

    Scale shape: the token-position frame left-joins the exploded
    covered-position frame (extents are disjoint, so no fan-out) and
    re-assembles per doc via array_sort(collect_list(struct(pos, tok)))
    -- the deterministic ordered-aggregation idiom (collect_list alone
    has no order after a shuffle).  The extent side derives from a
    second documents scan (stats+apply: detection is the statistics
    pass, removal the apply pass); at 100 TB the extents are a
    materialized table and removal is a single corpus scan.

    Scan budget: documents 2x -- detection (stats; its scan happens at
    the eager gram-checkpoint build) + removal (apply); production
    materializes the extents and pays one scan per pass."""
    toks = df.select(
        F.col(id_col), F.split(normalize_text(text_col), " ").alias("__toks")
    )
    tok = toks.select(
        F.col(id_col), F.posexplode("__toks").alias("__p0", "tok")
    ).select(F.col(id_col), (F.col("__p0") + 1).alias("pos"), "tok")
    covered = duplicated_substring_extents(
        df, text_col=text_col, id_col=id_col, n=n
    ).select(
        F.col(id_col),
        F.explode(F.sequence("start_tok", "end_tok")).alias("pos"),
        F.lit(1).alias("__c"),
    )
    flagged = tok.join(covered, [id_col, "pos"], "left").withColumn(
        "__keep", F.col("__c").isNull()
    )
    kept_sorted = F.array_sort(
        F.collect_list(
            F.when(F.col("__keep"), F.struct(F.col("pos"), F.col("tok")))
        )
    )
    return flagged.groupBy(id_col).agg(
        F.concat_ws(
            " ", F.transform(kept_sorted, lambda s: s.tok)
        ).alias("clean_text"),
        F.sum(F.col("__keep").cast("int")).cast("bigint").alias("n_kept"),
        F.sum((~F.col("__keep")).cast("int")).cast("bigint").alias(
            "n_removed"
        ),
    )
