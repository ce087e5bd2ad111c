"""Text analysis operators over document corpora (SURVEY.md X4).

All expressions are built-in string/regexp functions shared (syntax- and
semantics-wise) with ANSI engines, so every operator here is
differentially testable.  Patterns stick to ASCII classes: Java regex
(Spark) and RE2 (DuckDB) agree on those.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import hash64
from .dedup import normalize_text

# ASCII-only BPE-ish pre-tokenizer: word pieces, number pieces, punct
# runs, each optionally space-prefixed (GPT-2-style shape, ASCII subset).
BPE_ISH_PATTERN = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+"

PUNCT_PATTERN = r"[.,;:!?'\"()\[\]-]"

# tiny per-language stopword inventories for the n-gram/stopword
# language-ID heuristic
LANG_MARKERS = {
    "en": r"\b(the|and|of|to|in|is|that|for|with|was)\b",
    "de": r"\b(der|die|das|und|ist|nicht|ein|mit|auf|für)\b",
    "fr": r"\b(le|la|les|et|est|une|pour|dans|que|pas)\b",
    "es": r"\b(el|la|los|las|es|una|para|con|que|del)\b",
}


def _count_matches(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def text_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document quality-scoring features: lengths, token counts,
    character-class ratios (SURVEY.md 'quality scoring')."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = _count_matches(t, r"\S+")
    n_digits = _count_matches(t, r"[0-9]")
    n_punct = _count_matches(t, PUNCT_PATTERN)
    n_upper = _count_matches(t, r"[A-Z]")
    n_spaces = _count_matches(t, r" ")
    return df.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars.cast("double") / F.greatest(n_tokens, F.lit(1)), 4).alias(
            "avg_token_len"
        ),
        F.round(n_digits.cast("double") / F.greatest(n_chars, F.lit(1)), 4).alias(
            "digit_ratio"
        ),
        F.round(n_punct.cast("double") / F.greatest(n_chars, F.lit(1)), 4).alias(
            "punct_ratio"
        ),
        F.round(n_upper.cast("double") / F.greatest(n_chars, F.lit(1)), 4).alias(
            "upper_ratio"
        ),
        F.round(n_spaces.cast("double") / F.greatest(n_chars, F.lit(1)), 4).alias(
            "space_ratio"
        ),
    )


def token_count_bpe(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """BPE-ish token counting via regex pre-tokenization (the standard
    cheap proxy for LLM token budgeting)."""
    return df.select(
        F.col(id_col),
        _count_matches(F.col(text_col), BPE_ISH_PATTERN).alias("n_bpe_tokens"),
    )


def language_pred(text_col: str = "text") -> Column:
    """The language-ID predictor as a reusable Column expression:
    score each language by marker-word hits, pick the argmax (ties
    broken by language order), 'und' (undetermined) when nothing
    matches."""
    lowered = F.lower(F.col(text_col))
    scores = {lang: _count_matches(lowered, pat) for lang, pat in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    for lang in reversed(list(LANG_MARKERS)):  # earlier langs win ties
        pred = F.when(scores[lang] == best, F.lit(lang)).otherwise(pred)
    return F.when(best == 0, F.lit("und")).otherwise(pred)


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Stopword-marker language ID per document (language_pred above,
    projected)."""
    return df.select(F.col(id_col), language_pred(text_col).alias("lang_pred"))


def doc_fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 8
) -> DataFrame:
    """Rolling-hash document fingerprint: minimum 64-bit hash over all
    k-char grams of the normalized text (winnowing's min-selection with
    a single global window).  Robust to whitespace/case jitter; equal
    fingerprints => near-identical prefix content."""
    # normalize in its own projection: expressions referenced inside a
    # higher-order-function lambda re-evaluate per element, so an inline
    # norm would re-run the regexp once per gram position
    normed = df.select(F.col(id_col), normalize_text(text_col).alias("__norm"))
    norm = F.col("__norm")
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(norm) - (k - 1), F.lit(1))),
        lambda i: norm.substr(i, F.lit(k)),
    )
    return normed.select(
        F.col(id_col),
        F.array_min(F.transform(grams, hash64)).alias("fingerprint"),
    )


# English stopwords for the quality heuristic: a document of natural
# English prose almost always contains some of these; boilerplate /
# code / gibberish does not (the Gopher "stop word" rule).
QUALITY_STOPWORDS = [
    "the", "and", "of", "to", "in", "is", "that", "for", "with", "was",
    "on", "as", "are", "at", "be", "this", "have", "from", "or", "by",
]


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Gopher-style quality heuristics per document, as one codegen
    projection over the normalized text (staged Project so the
    normalize subtree evaluates once; zero Python).

    Columns: stopword_ratio (fraction of tokens in a 20-word English
    stopword list), mean_word_len, symbol_ratio (non-alphanumeric,
    non-space chars over all chars), and quality_keep -- the composite
    filter a 100 TB corpus pipeline would partition on: enough tokens,
    word lengths in the natural-language band, some stopwords, few
    symbols.  Thresholds follow the published Gopher rules scaled to
    the short synthetic documents.

    `extra_cols` pass through untouched (e.g. the stratum column a
    downstream per-source percentile filter partitions on) so callers
    don't need a doc_id re-join."""
    extras = [F.col(c) for c in extra_cols]
    normed = df.select(
        F.col(id_col), *extras, normalize_text(text_col).alias("__norm")
    ).select(
        F.col(id_col),
        *extras,
        "__norm",
        F.split("__norm", " ").alias("__toks"),
        F.length("__norm").alias("__len"),
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
    # tokens are space-separated: total token chars = len - (n_tokens-1)
    mean_word_len = (F.col("__len") - (n_tokens - 1)) / n_tokens
    n_symbols = _count_matches(F.col("__norm"), r"[^A-Za-z0-9 ]")
    stopword_ratio = n_stop / n_tokens
    symbol_ratio = n_symbols / F.greatest(F.col("__len"), F.lit(1))
    keep = (
        (n_tokens >= 5)
        & (mean_word_len >= 2.0)
        & (mean_word_len <= 12.0)
        & (stopword_ratio >= 0.05)
        & (symbol_ratio <= 0.15)
    )
    return normed.select(
        F.col(id_col),
        *extras,
        F.round(stopword_ratio, 4).alias("stopword_ratio"),
        F.round(mean_word_len, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        keep.alias("quality_keep"),
    )


# ---------------------------------------------------------------------------
# PII detection / redaction (training-corpus hygiene stage)
# ---------------------------------------------------------------------------

# ASCII-only patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB):
# no backreferences, no lookaround.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
}


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document PII counts + a digest of the redacted text.

    One codegen projection: counts via regexp_extract_all on the raw
    text, then a regexp_replace chain substitutes each match class with
    a typed placeholder.  Returns (doc_id, n_email, n_phone, n_ipv4,
    redacted_hash) -- the digest (not the text) so downstream exact
    dedup can run on scrubbed content without reshuffling documents.

    Replacement order is a fixed dict order and matters: IPv4 would
    also match inside some phone formats, so each class counts on the
    ORIGINAL text, never the partially-redacted one.
    """
    counts = [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))).alias(
            f"n_{name}"
        )
        for name, pat in PII_PATTERNS.items()
    ]
    redacted = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        redacted = F.regexp_replace(redacted, pat, f"<{name.upper()}>")
    return df.select(
        F.col(id_col),
        *counts,
        hash64(redacted).alias("redacted_hash"),
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher repetition signals: the fraction of word bigrams occupied
    by the single most frequent bigram (near-1.0 = templated/looped
    text), plus distinct-bigram ratio.

    Bigrams come from the single-pass lookahead regex WITHOUT
    array_distinct (frequencies are the signal here, unlike shingling).
    Shape: explode bigrams -> count per (doc, bigram) -> per-doc
    max/sum/count -- two shuffles, both partial-aggregated, both keyed
    by doc so at 100 TB the hot key is a single pathological document,
    not a global skew point.  Docs with fewer than 2 tokens have no
    bigrams and produce no row (repetition undefined).
    """
    pat = r"(?=(\S+ \S+))\S+ ?"
    bigrams = df.select(
        F.col(id_col), normalize_text(text_col).alias("__norm")
    ).select(
        F.col(id_col),
        F.explode(F.regexp_extract_all("__norm", F.lit(pat), 1)).alias("bg"),
    )
    per_bigram = bigrams.groupBy(id_col, "bg").agg(F.count("*").alias("n"))
    return per_bigram.groupBy(id_col).agg(
        F.round(F.max("n") / F.sum("n"), 6).alias("top_bigram_frac"),
        F.round(F.count("*") / F.sum("n"), 6).alias("distinct_bigram_ratio"),
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    df_ceiling: int | None = None,
) -> DataFrame:
    """Top-k TF-IDF terms per document: the classic IR primitive behind
    keyword extraction, topic tagging, and per-source vocabulary drift
    checks in corpus curation.  Output: (doc_id, term, score), k rows
    per tokenizable document, deterministic (rounded-score desc, term
    asc tie-break) so the DuckDB oracle hash-matches.

    score = tf * (ln((N+1)/(df+1)) + 1) -- smoothed idf, N = number of
    tokenized documents, df = documents containing the term.

    Scale shape: tokens explode -> groupBy(doc, term) tf [shuffle 1,
    partial-aggregated so the wire carries (doc, term, count) not raw
    tokens] -> df via a term-partitioned WINDOW over the tf frame
    [shuffle 2 -- rows are unique per (doc, term), so the window count
    IS the document frequency; a separate df aggregate + join would
    re-derive the explode lineage from a second corpus scan] ->
    per-doc top-k window [shuffle 3].
    N rides a 1-row broadcast crossJoin (the action-free pattern the
    similarity queries use), never a driver-side count.  No shuffle
    carries raw text: after the first aggregation everything is
    (term, doc_id, numbers).  Hot terms (stopwords) concentrate on one
    reducer in shuffle 2; at corpus scale cap them with `df_ceiling`:
    terms appearing in more than df_ceiling documents are dropped from
    the tf x df join (and therefore from the rankings).  The ceiling is
    applied AFTER the df aggregate, so every surviving term keeps its
    EXACT document frequency and score -- the capped scored set is a
    pure filter of the exact scored set (capped rows are a subset of
    exact rows, same scores), mirroring the ngram `df_max` lockstep
    pattern.  df_ceiling=None (the default, and the registered driver
    query) is exact.  The hot-term shuffle-2 reducer itself is a
    single-key partial-aggregated count and survives; the ceiling's win
    is removing stopword rows from the join + window stages.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    from pyspark.sql import Window

    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # df via a term-partitioned WINDOW over the tf frame (rows are
    # unique per (doc, term), so the window count IS the document
    # frequency): same term-keyed shuffle the groupBy would take, but
    # no join and no second corpus scan -- a separate df aggregate
    # would re-derive tf's explode lineage from the raw text (Spark
    # recomputes twice-referenced subtrees)
    with_df = tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    if df_ceiling is not None:
        # AFTER the aggregate: surviving terms keep exact df/score
        with_df = with_df.filter(F.col("df") <= F.lit(df_ceiling))
    n_docs = tf.agg(F.count_distinct("doc_id").alias("__n"))
    scored = (
        with_df
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("__n") + F.lit(1.0)) / (F.col("df") + F.lit(1.0)))
                    + F.lit(1.0)
                ),
                6,
            ).alias("score"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def vocab_top_terms(
    df: DataFrame,
    k: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """Global vocabulary heavy hitters: the top-k terms by total
    occurrence count with document frequency -- the statistics a
    tokenizer-training / vocabulary-selection stage reads off the
    corpus.  Output: (term, n_occurrences, n_docs), ordered
    (n_occurrences desc, term asc) so the k-boundary tie is
    deterministic and the oracle hash-matches.

    Scale shape: tokens explode -> (doc, term) counts [shuffle 1,
    partial-aggregated, so the wire carries counts not raw tokens] ->
    (term) totals where the already-unique (doc, term) rows make a
    plain count() the document frequency [shuffle 2, partial-
    aggregated], and the global top-k runs as TakeOrderedAndProject
    (per-partition top-k heaps merged on the driver, k rows each),
    NEVER a full sort shuffle of the vocabulary.  `min_df` prunes
    hapax noise before the ordering.
    """
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    per_doc = toks.groupBy("doc_id", "term").agg(F.count("*").alias("__c"))
    vocab = per_doc.groupBy("term").agg(
        F.sum("__c").alias("n_occurrences"), F.count("*").alias("n_docs")
    )
    if min_df > 1:
        vocab = vocab.where(F.col("n_docs") >= min_df)
    return vocab.orderBy(F.desc("n_occurrences"), F.asc("term")).limit(k)


def source_term_kl(
    df: DataFrame,
    stratum_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-source vocabulary drift: KL(P_source || P_corpus) over
    unigram distributions -- the monitoring metric curation pipelines
    use to spot outlier sources (scraped boilerplate, wrong-language
    feeds, template farms) whose term distribution diverges from the
    corpus.  Output: (source, n_terms, n_tokens, kl_divergence), one
    row per stratum, kl = sum_t p_st * ln(p_st / p_t) over the
    source's observed terms (p_st > 0; p_t > 0 always, because the
    corpus distribution includes every source's counts -- no smoothing
    needed, unlike the reverse direction).

    All mass functions are ratios of exact integer counts, so both
    engines compute identical doubles; the final sum is rounded to 6
    (ulp-level ln/accumulation-order drift only).

    Scale shape: (source, term) counts [shuffle 1, partial-aggregated;
    the wire carries counts, not tokens] -> global term counts by
    re-aggregating that frame [shuffle 2] -> join back on term
    [reuses shuffle 2's partitioning] with per-source and corpus
    totals riding broadcast (|sources| rows and 1 row) -> per-source
    sum [shuffle 3, partial-aggregated].  No raw text moves after the
    first aggregate; the term-keyed stages shard the vocabulary, so a
    hot stratum never concentrates.
    """
    toks = df.select(
        F.col(stratum_col).alias("__src"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    st = toks.groupBy("__src", "term").agg(F.count("*").alias("__cst"))
    term_tot = st.groupBy("term").agg(F.sum("__cst").alias("__ct"))
    src_tot = st.groupBy("__src").agg(F.sum("__cst").alias("__cs"))
    corpus_tot = term_tot.agg(F.sum("__ct").alias("__n"))
    p_st = F.col("__cst") / F.col("__cs")
    p_t = F.col("__ct") / F.col("__n")
    return (
        st.join(term_tot, "term")
        .join(F.broadcast(src_tot), "__src")
        .crossJoin(F.broadcast(corpus_tot))
        .groupBy(F.col("__src").alias(stratum_col))
        .agg(
            F.count("*").alias("n_terms"),
            F.sum("__cst").alias("n_tokens"),
            F.round(F.sum(p_st * F.log(p_st / p_t)), 6).alias(
                "kl_divergence"
            ),
        )
    )


def unigram_logprob_score(
    df: DataFrame,
    reference: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_model: bool | str = True,
) -> DataFrame:
    """Per-document average unigram log-probability under a reference
    corpus -- the perplexity-style quality filter corpus curation runs
    to drop gibberish and boilerplate (low avg log-prob under a clean
    reference = unusual token distribution).  Output: (doc_id,
    n_tokens, avg_logprob), one row per tokenizable document.

    Add-one (Laplace) smoothed unigram model over the reference's
    vocabulary V: p(tok) = (count + 1) / (total + V + 1); a token
    unseen in the reference gets 1 / (total + V + 1).  All quantities
    are exact integers until the final ln(), so the model is
    bit-reproducible in any engine and the DuckDB oracle replays it.

    reference=None scores the corpus against itself (self-perplexity,
    the shape used to find outliers WITHIN a crawl).

    Scale shape: the reference collapses to (token, count) with
    map-side partials [shuffle 1] -- the model is a dimension table
    (one row per vocab type, not per token instance) that a broadcast
    hint keeps off the shuffle when vocab fits (typical: millions of
    types, tens of MB); the document tokens join it [shuffle 2 when
    not broadcast] and aggregate per doc [shuffle 3, partial-
    aggregated].  The totals (N, V) ride a 1-row broadcast crossJoin,
    action-free (1 row always broadcasts regardless of broadcast_model).

    `broadcast_model` guards the model join against web-scale
    vocabularies (hundreds of millions of types would blow a forced
    broadcast):
      * True (default, the registered driver query): force
        F.broadcast -- right for any vocabulary that fits an executor.
      * "auto": no hint; Catalyst + AQE pick broadcast vs shuffle from
        the model's stats against spark.sql.autoBroadcastJoinThreshold.
      * False: force the shuffled path (shuffle_hash hint -- both sides
        hash-partition on term; the model never materializes whole on
        any node), the web-scale fallback.
    Results are identical on every path; only the physical join moves.
    """
    if broadcast_model not in (True, False, "auto"):
        raise ValueError(
            f"broadcast_model must be True, False or 'auto', got "
            f"{broadcast_model!r}"
        )
    if reference is None:
        reference = df
    tok = lambda frame: frame.select(  # noqa: E731
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    ref_counts = tok(reference).groupBy("term").agg(F.count("*").alias("__c"))
    totals = ref_counts.agg(
        F.sum("__c").alias("__n"), F.count("*").alias("__v")
    )
    if broadcast_model is True:
        model = F.broadcast(ref_counts)
    elif broadcast_model is False:
        model = ref_counts.hint("shuffle_hash")
    else:  # "auto": leave the choice to Catalyst/AQE stats
        model = ref_counts
    scored = (
        tok(df)
        .join(model, "term", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("__c"), F.lit(0)) + F.lit(1.0))
                / (F.col("__n") + F.col("__v") + F.lit(1.0))
            ).alias("__lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.avg("__lp"), 6).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# feature-hashing linear classifier
# ---------------------------------------------------------------------------

HASHED_LINEAR_HALF = (1 << 30) - 1  # (MERSENNE31 - 1) / 2: weight midpoint


def hashed_linear_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
    weight_seed: int = 0,
    threshold: float = 0.0,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Feature-hashing linear text classifier (the fastText /
    hash-kernel shape: Weinberger et al., ICML'09): each token hashes
    into one of `n_buckets` feature buckets, the document's score is
    the mean bucket weight over its token stream (repeats count), and
    `keep` thresholds the score -- the model-based quality gate
    curation pipelines run after the rule-based (Gopher) filters.

    The weight vector here is the deterministic surrogate
    w(bucket) = family_hash(bucket, weight_seed) - 2^30 + 1 (zero-mean
    over the hash range): integer arithmetic end-to-end until the
    final normalization, so the score is bit-reproducible and the
    DuckDB oracle replays every decision.  A TRAINED model drops in by
    replacing that expression with a lookup against an exported
    (bucket, weight) table -- at n_buckets typical for fastText (2M),
    a broadcast join against the exploded token stream; the plan shape
    below stays otherwise identical.

    Output: (doc_id, n_tokens, score, keep); score in [-1, 1], the
    mean weight normalized by the weight half-range and rounded to 6
    decimals BEFORE thresholding so the keep decision is portable.

    Scale: ZERO shuffles -- tokenization, hashing, the weight fold
    (F.aggregate over int64, exact and order-free), and the threshold
    are one map-side projection; at 100 TB this runs at scan speed
    with full pushdown beneath it.

    `extra_cols` pass through untouched (same contract as
    quality_score) so pipeline compositions can filter on `keep`
    without a doc_id re-join -- keeping the composed plan single-scan.
    """
    from ..functions.hashing import MERSENNE31, _family_coeffs, hash31

    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    a, b = _family_coeffs(weight_seed)
    extras = [F.col(c) for c in extra_cols]
    base = df.select(
        F.col(id_col),
        *extras,
        F.split(normalize_text(text_col), " ").alias("__toks"),
    )
    weight = lambda t: (  # noqa: E731
        (F.lit(a) * (hash31(t) % n_buckets) + F.lit(b))
        % F.lit(MERSENNE31)
        - F.lit(HASHED_LINEAR_HALF)
    )
    folded = base.select(
        F.col(id_col),
        *extras,
        F.size("__toks").alias("n_tokens"),
        F.aggregate(
            F.transform("__toks", weight),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("__wsum"),
    )
    score = F.round(
        F.col("__wsum")
        / (F.col("n_tokens") * F.lit(float(HASHED_LINEAR_HALF))),
        6,
    )
    return folded.select(
        F.col(id_col),
        *extras,
        "n_tokens",
        score.alias("score"),
        (score >= threshold).alias("keep"),
    )


def vocab_coverage(
    df: DataFrame,
    vocab_k: int = 100,
    stratum_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-stratum vocabulary coverage: the fraction of token
    OCCURRENCES covered by the global top-`vocab_k` vocabulary -- the
    fit statistic a tokenizer-selection stage reads per source (a feed
    with low coverage under the corpus vocabulary will fragment into
    byte fallbacks and inflate its token counts).

    Output: (stratum, n_tokens, n_covered, coverage), coverage rounded
    to 6.  The vocabulary boundary is (count DESC, term ASC) -- the
    same deterministic tie rule as `vocab_top_terms`, so the k-th slot
    is engine-portable.

    Scale shape: (stratum, term) counts [shuffle 1, partial-aggregated
    -- the wire carries counts, not tokens] -> global term totals by
    re-aggregating that slim frame with top-k via
    TakeOrderedAndProject (never a full vocabulary sort) -> the k-row
    vocabulary BROADCAST back onto the (stratum, term) frame as a
    membership flag -> ONE per-stratum conditional aggregation
    [shuffle 2] computing totals and covered together.  Two scans of
    the corpus (the data path + the pruned vocabulary derivation --
    in production the vocabulary is a precomputed dimension, making
    this single-scan); a separate covered/total join formulation
    would cost a third scan and shuffle.
    """
    toks = df.select(
        F.col(stratum_col).alias("__strat"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    st = toks.groupBy("__strat", "term").agg(F.count("*").alias("__c"))
    vocab = (
        st.groupBy("term")
        .agg(F.sum("__c").alias("__ct"))
        .orderBy(F.desc("__ct"), F.asc("term"))
        .limit(vocab_k)
        .select("term", F.lit(True).alias("__in_vocab"))
    )
    flagged = st.join(F.broadcast(vocab), "term", "left")
    nc = F.sum(F.when(F.col("__in_vocab"), F.col("__c")).otherwise(F.lit(0)))
    return flagged.groupBy(F.col("__strat").alias(stratum_col)).agg(
        F.sum("__c").alias("n_tokens"),
        nc.cast("long").alias("n_covered"),
        F.round(nc / F.sum("__c"), 6).alias("coverage"),
    )


def token_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Shannon entropy of the token distribution -- the
    repetitiveness signal complementary to `repetition_stats`' Gopher
    top-bigram rule: templated/boilerplate text concentrates mass on
    few tokens (low entropy), natural prose spreads it (entropy near
    log of the distinct count).  Output: (doc_id, n_tokens,
    n_distinct, entropy), entropy = -sum p ln p rounded to 6, one row
    per tokenizable document (all-whitespace docs drop, matching the
    unigram-logprob contract).

    Scale shape: (doc, term) counts [shuffle 1, partial-aggregated --
    counts on the wire, not tokens] -> per-doc aggregation [shuffle 2]
    with the doc total derived by a window over the SAME doc
    partitioning (no re-scan, no join).  Probabilities are ratios of
    exact integers, so both engines compute identical doubles and only
    the final rounded sum can drift at ulp level.
    """
    from pyspark.sql import Window

    terms = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    ).filter(F.col("term") != "")
    tc = terms.groupBy("doc_id", "term").agg(F.count("*").alias("__c"))
    with_n = tc.withColumn(
        "__n", F.sum("__c").over(Window.partitionBy("doc_id"))
    )
    p = F.col("__c") / F.col("__n")
    return with_n.groupBy("doc_id").agg(
        F.sum("__c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 retrieval: top-k documents for a query-term set -- the
    lexical ranking half of a retrieval pipeline (the embedding top-k
    queries are the semantic half; production RAG serves both).

    score(d) = sum over query terms t of
      idf(t) * tf(t,d) * (k1+1) / (tf(t,d) + k1 * (1 - b + b*dl/avgdl))
    with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)) -- the Lucene
    smoothing, always positive.  Output: (doc_id, score, rank), rank in
    [1, k]; scores round to 6dp BEFORE ranking and ties break on
    doc_id, so the cut is engine-deterministic.

    Scale shape: the token explode filters to the QUERY'S terms
    immediately -- the shuffled frame is the query's posting lists,
    never the corpus vocabulary [shuffle 1: (doc, term) tf];
    per-term document frequency is a count window on that tiny frame
    (rows unique per (doc, term)).  Document length dl is a map-side
    projection (size of the token split -- no explode, no shuffle),
    joined onto the postings doc-keyed [shuffle 2, slim]; N and avgdl
    ride a 1-row broadcast crossJoin (action-free).  The final top-k
    is a TakeOrdered.  At 100 TB the postings and doc-stats frames are
    materialized dimensions of an inverted index; this operator IS the
    query-time plan over them."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    norm_terms = sorted({t.lower() for t in query_terms})
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(normalize_text(text_col), " ")).alias("term"),
    ).filter(F.col("term").isin(norm_terms))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    with_df = tf.withColumn(
        "df", F.count("*").over(Window.partitionBy("term"))
    )
    dl = df.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(normalize_text(text_col), " ")).alias("dl"),
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    scored = (
        with_df.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("doc_id")
        .agg(F.round(F.sum("term_score"), 6).alias("score"))
    )
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        scored.orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .withColumn("rank", F.row_number().over(w))
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 50,
) -> DataFrame:
    """Corpus-wide adjacent-symbol pair frequencies -- the counting
    step of one BPE-training merge iteration (Sennrich et al. 2016):
    the pair with the highest frequency is the merge a tokenizer
    trainer would apply next.  Training a tokenizer on its own corpus
    is a standard stage of a large-scale data pipeline, and the pair
    count is its distributed-shape core; the merge LOOP itself
    (`bpe_train_local`) runs on the driver over the collected
    word-frequency table.

    Output: top_k (pair, pair_count) rows, pair = two adjacent
    characters inside a word, count weighted by word frequency, total
    order (count DESC, pair ASC) so the cut is engine-deterministic.

    Scale shape: the corpus scan collapses to the WORD-FREQUENCY table
    first [shuffle 1, map-side partial], so pair explosion runs over
    the vocabulary (Heaps'-law sublinear in corpus size) instead of
    the token stream -- the reason real BPE trainers count words
    first.  Pair rollup is shuffle 2; the top-k is a TakeOrdered, not
    a global sort."""
    words = df.select(
        F.explode(F.split(normalize_text(text_col), " ")).alias("w")
    ).where(F.length("w") >= 2)
    wf = words.groupBy("w").agg(F.count("*").alias("wc"))
    pairs = wf.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "wc",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wc").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def _merge_pair(symbols: Column, left: str, right: str) -> Column:
    """Greedy left-to-right merge of adjacent (left, right) symbol
    pairs inside one symbol array -- one F.aggregate fold, JVM-side.

    Accumulator: (out, merged_last).  merged_last guards overlapping
    occurrences: in "aaa" with pair (a,a) the first two merge and the
    third must NOT merge with the freshly created "aa" slot -- exactly
    the published BPE left-to-right scan order, which the Python
    reference in tests replays independently."""
    merged = left + right
    return F.aggregate(
        symbols,
        F.struct(
            F.array().cast("array<string>").alias("out"),
            F.lit(False).alias("merged_last"),
        ),
        lambda acc, x: F.when(
            (~acc.merged_last)
            & (F.size(acc.out) > 0)
            & (F.element_at(acc.out, -1) == F.lit(left))
            & (x == F.lit(right)),
            F.struct(
                F.concat(
                    F.slice(acc.out, 1, F.size(acc.out) - 1),
                    F.array(F.lit(merged)),
                ).alias("out"),
                F.lit(True).alias("merged_last"),
            ),
        ).otherwise(
            F.struct(
                F.concat(acc.out, F.array(x)).alias("out"),
                F.lit(False).alias("merged_last"),
            )
        ),
        lambda acc: acc.out,
    )


def _bpe_word_freq(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus -> word-frequency table, the trainer's only corpus-sized
    stage (one scan, one shuffle; Heaps'-law sublinear rows)."""
    words = df.select(
        F.explode(F.split(normalize_text(text_col), " ")).alias("w")
    ).where(F.length("w") >= 2)
    return words.groupBy("w").agg(F.count("*").alias("wc"))


def _merge_word_local(sym: list[str], left: str, right: str) -> list[str]:
    """Pure-Python replica of `_merge_pair`'s greedy left-to-right scan
    (merged_last guard included), used by the driver-local trainer so
    its rules agree with what the encoders' Spark folds produce."""
    out: list[str] = []
    merged_last = False
    for x in sym:
        if not merged_last and out and out[-1] == left and x == right:
            out[-1] = left + right
            merged_last = True
        else:
            out.append(x)
            merged_last = False
    return out


def bpe_train_local(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016): learn `n_merges`
    merge rules from the corpus word-frequency table, with the merge
    loop run DRIVER-LOCALLY (VERDICT r7 item 3a).

    Output: (rank, left, right, merged, pair_count) -- the ordered
    merge list, which IS the trained tokenizer artifact.  Ties break
    (count DESC, left ASC, right ASC) so the rule list is
    deterministic across partitionings and engines; the pytest
    differential replays the identical policy in pure Python.

    Scale shape: a loop of one Spark aggregate + one 1-row action PER
    MERGE would be ~64k jobs of pure scheduling overhead at a
    production 32k-merge vocabulary, each over a frame that -- by
    Heaps' law -- fits driver memory comfortably (a 100 TB web corpus
    has on the order of 1e8 distinct words of ~10 bytes; the CORPUS is
    what doesn't fit, and it is touched exactly once here, by the
    distributed word-count).  So: Spark builds the word-frequency
    table (the only corpus-sized stage), the driver collects it and
    runs the full Sennrich loop in-process with INCREMENTAL pair-count
    maintenance (only words containing the winning pair are re-scanned
    per round -- the classic trainer optimization; a fresh recount per
    round would be O(vocab) x n_merges).  The greedy overlap policy of
    `_merge_word_local` mirrors `_merge_pair`, the fold the encoders
    apply."""
    rows = _bpe_word_freq(df, text_col).collect()
    vocab: list[tuple[list[str], int]] = [
        (list(r["w"]), r["wc"]) for r in rows
    ]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}

    def add_word(idx: int, sign: int) -> None:
        sym, wc = vocab[idx]
        for a, b in zip(sym, sym[1:]):
            p = (a, b)
            pair_counts[p] = pair_counts.get(p, 0) + sign * wc
            if pair_counts[p] == 0:
                del pair_counts[p]
            if sign > 0:
                pair_words.setdefault(p, set()).add(idx)
            # stale indices from sign<0 are tolerated: the re-scan on a
            # later win checks actual membership, and counts (the
            # selection key) are exact

    for i in range(len(vocab)):
        add_word(i, +1)

    rules = []
    for rank in range(n_merges):
        if not pair_counts:
            break
        # max count, then lexicographic min: ORDER BY pair_count DESC,
        # left ASC, right ASC LIMIT 1
        best = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (left, right), count = best
        rules.append((rank, left, right, left + right, count))
        for idx in sorted(pair_words.get((left, right), ())):
            sym, wc = vocab[idx]
            merged = _merge_word_local(sym, left, right)
            if merged == sym:
                continue  # stale index (pair no longer present)
            add_word(idx, -1)
            vocab[idx] = (merged, wc)
            add_word(idx, +1)
        pair_words.pop((left, right), None)
    return df.sparkSession.createDataFrame(
        rules,
        "rank int, left string, right string, merged string, pair_count bigint",
    )


def bpe_encode_vocab(
    vocab: DataFrame,
    rules: list[tuple[str, str]],
    word_col: str = "w",
    rules_per_stage: int = 32,
) -> DataFrame:
    """Encode a DISTINCT-WORD vocabulary under a trained rule list,
    with the merge folds applied in bounded STAGES (VERDICT r7 item
    3b): chaining one `F.aggregate` fold per rule into a single
    expression tree builds generated code proportional to the rule
    count and breaks (or falls off) Janino's method-size limits far
    below a real 32k-rule tokenizer.  Here each stage chains at most
    `rules_per_stage` folds into one projection, then materializes the
    vocabulary-sized intermediate (`localCheckpoint`) so the next
    stage compiles against a fresh, constant-depth plan -- compile
    cost is O(rules) total instead of O(rules) in ONE compilation
    unit, and the data cost is a vocabulary-frame rewrite per stage
    (tiny: the vocabulary, never the corpus).

    Output: (word_col, n_sym) -- the per-word encoded length, the
    dimension `bpe_encode_token_counts` broadcast-joins at scale."""
    if rules_per_stage < 1:
        raise ValueError("rules_per_stage must be >= 1")
    enc = vocab.select(
        F.col(word_col), F.split(word_col, "(?!^)(?=.)").alias("__sym")
    )
    for i in range(0, len(rules), rules_per_stage):
        sym: Column = F.col("__sym")
        for left, right in rules[i : i + rules_per_stage]:
            sym = _merge_pair(sym, left, right)
        enc = enc.select(F.col(word_col), sym.alias("__sym"))
        if i + rules_per_stage < len(rules):
            # cut lineage between stages: each stage compiles alone
            enc = enc.localCheckpoint(eager=True)
    return enc.select(F.col(word_col), F.size("__sym").alias("n_sym"))


def bpe_encode_token_counts(
    df: DataFrame,
    rules: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chained_rules: int = 0,
) -> DataFrame:
    """Encode the corpus with a trained BPE rule list and report
    per-document sequence lengths: (doc_id, n_words, n_bpe_tokens).
    The token count under the REAL tokenizer is what packing, budget
    selection, and context-length curricula actually consume -- the
    whitespace/char counts elsewhere in this module are its cheap
    proxies.

    `rules` is the ordered [(left, right), ...] merge list from
    `bpe_train_local` (driver-side, vocabulary-sized -- the tokenizer
    artifact, not data).

    Scale shape: one corpus scan -> per-(doc, word) counts [shuffle 1,
    map-side partial], merge-rule folds apply per DISTINCT word per
    doc (within-doc repetition pays once), then the doc rollup weights
    by word multiplicity [shuffle 2].  The folds are JVM codegen
    expressions -- no Python in the hot path.

    Encode path (r15: the VOCABULARY path is now the default,
    max_chained_rules=0): the distinct-word vocabulary is encoded once
    in bounded stages (`bpe_encode_vocab`) and joined back -- the
    vocabulary frame is Heaps-sublinear and AQE broadcasts it when
    small.  Two independent reasons, one structural and one measured:
    a single chained expression breaks Janino's method-size limits
    long before a real 32k-rule tokenizer (VERDICT r7 item 3b), and
    the merge folds are interpreted higher-order functions whose cost
    is per ROW they run over -- folding per (doc, word) re-pays every
    within-corpus repetition of a word, measured 10x at sf0.1 (8 folds
    over 116k (doc, word) rows: 6.1 s; over the 31-word vocabulary +
    broadcast join back: 0.6 s).  Setting max_chained_rules >=
    len(rules) forces the old inline chained-fold path (kept for the
    path-equality test and the empty-rules char baseline); equality of
    the two paths and a 500-rule run are pinned in tests."""
    words = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
    ).where(F.col("w") != "")
    per_doc_word = words.groupBy(id_col, "w").agg(
        F.count("*").alias("n_w")
    )
    if len(rules) > max_chained_rules:
        # stage width: the caller's chaining bound when one was given,
        # else the Janino-safe default (48 folds per compilation unit)
        enc = bpe_encode_vocab(
            per_doc_word.select("w").distinct(),
            rules,
            rules_per_stage=max_chained_rules or 48,
        )
        sized = per_doc_word.join(enc, "w").withColumn(
            "__n_sym", F.col("n_sym")
        )
    else:
        sym = F.split("w", "(?!^)(?=.)")
        for left, right in rules:
            sym = _merge_pair(sym, left, right)
        sized = per_doc_word.withColumn("__n_sym", F.size(sym))
    return (
        sized.groupBy(id_col)
        .agg(
            F.sum("n_w").alias("n_words"),
            F.sum(F.col("n_w") * F.col("__n_sym")).alias("n_bpe_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# unigram-LM tokenizer (SentencePiece-style EM), VERDICT r8 stretch
# ---------------------------------------------------------------------------

_UNI_LMAX = 6


def _unigram_word_freq(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus -> word-frequency table for the unigram trainer.  Unlike
    _bpe_word_freq this KEEPS single-char words: unigram coverage
    requires every corpus character to stay encodable."""
    words = df.select(
        F.explode(F.split(normalize_text(text_col), " ")).alias("w")
    ).where(F.col("w") != "")
    return words.groupBy("w").agg(F.count("*").alias("wc"))


def unigram_seed_candidates(
    df: DataFrame,
    text_col: str = "text",
    max_len: int = _UNI_LMAX,
    top: int | None = None,
) -> DataFrame:
    """Seed-vocabulary candidates for unigram-LM training: every
    substring of length 1..max_len of every corpus word, weighted by
    occurrence count x word frequency (the frequency-seeded candidate
    set SentencePiece's trainer starts from, minus the ESA scoring).

    Output: (piece, weight) -- with `top`, the `top` heaviest pieces
    by (weight DESC, piece ASC).

    Scale shape: the explode runs over the Heaps-sublinear DISTINCT
    word table, never the corpus (one corpus scan feeds the word
    count); a word of length n yields <= n * max_len candidate rows,
    aggregated map-side by piece.  The optional top-N is a single
    global sort of the candidate aggregate."""
    wf = _unigram_word_freq(df, text_col)
    pos = wf.select(
        "w", "wc", F.explode(F.sequence(F.lit(1), F.length("w"))).alias("i")
    )
    subs = pos.select(
        "wc",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(max_len), F.length("w") - F.col("i") + 1),
                ),
                lambda l: F.col("w").substr(F.col("i"), l),
            )
        ).alias("piece"),
    )
    cand = subs.groupBy("piece").agg(F.sum("wc").alias("weight"))
    if top is not None:
        w = Window.orderBy(F.desc("weight"), F.asc("piece"))
        cand = (
            cand.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= top)
            .drop("__rn")
        )
    return cand


def _uni_normalize(counts: dict[str, int], alpha: float) -> dict[str, float]:
    """Laplace-smoothed piece probabilities.  counts are integers, so
    the total is order-free and the floats deterministic."""
    tot = sum(counts.values())
    v = len(counts)
    return {p: (c + alpha) / (tot + alpha * v) for p, c in counts.items()}


def _uni_cost(p: float) -> float:
    import math

    return round(-math.log(p), 9)


def _uni_viterbi(
    w: str, cost: dict[str, float], max_len: int
) -> list[str]:
    """Deterministic Viterbi segmentation: best[i] minimizes
    (round-9 cumulative cost, piece count, max_len - last_piece_len)
    lexicographically -- the identical comparison the Spark encode
    fold performs with F.least over structs, so lengths agree
    bit-for-bit across the two paths.

    Rounding-mode caveat (ADVICE r9): Python round() is HALF_EVEN,
    Spark F.round is HALF_UP, so the two 9-dp cumulative costs could
    in principle diverge on an EXACT half-tie at the 10th decimal.
    Log costs are irrational in binary FP, so an exact ...5 at 1e-10
    is practically unreachable (and the full-corpus differential test
    pins equality on real data), but the cross-path guarantee is
    'identical up to that measure-zero case', not unconditional."""
    n = len(w)
    inf = float("inf")
    # (cum_cost, n_pieces, tie, backpointer_len)
    best: list[tuple[float, int, int, int]] = [(inf, 0, 0, 0)] * (n + 1)
    best[0] = (0.0, 0, 0, 0)
    for i in range(1, n + 1):
        chosen = None
        for l in range(1, min(max_len, i) + 1):
            c = cost.get(w[i - l : i])
            if c is None or best[i - l][0] == inf:
                continue
            key = (
                round(best[i - l][0] + c, 9),
                best[i - l][1] + 1,
                max_len - l,
            )
            if chosen is None or key < chosen[0]:
                chosen = (key, l)
        if chosen is None:
            continue  # unreachable prefix (never happens with full
            # single-char coverage; kept for partial-vocab callers)
        best[i] = (*chosen[0], chosen[1])
    out: list[str] = []
    i = n
    while i > 0:
        l = best[i][3]
        if l == 0:
            return []  # unencodable under a partial vocab
        out.append(w[i - l : i])
        i -= l
    return out[::-1]


def unigram_train_local(
    df: DataFrame,
    vocab_size: int = 300,
    seed_size: int = 600,
    max_len: int = _UNI_LMAX,
    em_rounds: int = 4,
    alpha: float = 0.1,
    text_col: str = "text",
) -> DataFrame:
    """Unigram-LM tokenizer training (the SentencePiece algorithm
    family: frequency-seeded candidate vocabulary, EM re-estimation of
    piece probabilities, pruning to the target size -- Kudo 2018),
    with the EM loop run DRIVER-LOCALLY over the collected
    word-frequency table, exactly the bpe_train_local scale argument:
    the corpus is touched once by the distributed word count, and the
    Heaps-sublinear word table is the only thing collected.

    Deterministic spec (replicated by the independent reference EM in
    tests/test_unigram_lm.py -- every rule below is part of the
    contract):
      seed    = all single chars + the (seed_size - n_chars) heaviest
                multi-char substrings by (weight DESC, piece ASC),
                weight = occurrences x word frequency;
      E-step  = hard-EM Viterbi (see _uni_viterbi: round-9 cumulative
                cost, then fewer pieces, then longer final piece);
      M-step  = Laplace(alpha) re-normalization of Viterbi counts over
                the CURRENT vocab (zero-count pieces keep alpha mass);
      prune   = after em_rounds, keep all single chars + the
                (vocab_size - n_chars) best multi-char pieces by
                (final count DESC, piece ASC), then one more E-step on
                the pruned vocab for the emitted counts/probs.

    Output: (rank, piece, n_chars, count, logprob), rank by
    (count DESC, piece ASC); logprob = round(ln p, 9) under the final
    smoothed distribution.  Single-char pieces always survive, so
    every corpus word stays encodable (the coverage guarantee the
    encode fold relies on)."""
    rows = _unigram_word_freq(df, text_col).collect()
    words = sorted((r["w"], int(r["wc"])) for r in rows)
    weight: dict[str, int] = {}
    chars: set[str] = set()
    for w, wc in words:
        chars.update(w)
        n = len(w)
        for i in range(n):
            for l in range(1, min(max_len, n - i) + 1):
                p = w[i : i + l]
                weight[p] = weight.get(p, 0) + wc
    singles = sorted(chars)
    multi = sorted(
        (p for p in weight if len(p) > 1),
        key=lambda p: (-weight[p], p),
    )
    vocab = singles + multi[: max(0, seed_size - len(singles))]
    probs = _uni_normalize({p: weight[p] for p in vocab}, alpha)

    def e_step(vocab_probs: dict[str, float]) -> dict[str, int]:
        cost = {p: _uni_cost(v) for p, v in vocab_probs.items()}
        counts: dict[str, int] = {}
        for w, wc in words:
            for piece in _uni_viterbi(w, cost, max_len):
                counts[piece] = counts.get(piece, 0) + wc
        return counts

    counts: dict[str, int] = {}
    for _ in range(em_rounds):
        counts = e_step(probs)
        probs = _uni_normalize(
            {p: counts.get(p, 0) for p in vocab}, alpha
        )
    kept_multi = sorted(
        (p for p in vocab if len(p) > 1),
        key=lambda p: (-counts.get(p, 0), p),
    )
    final_vocab = singles + kept_multi[: max(0, vocab_size - len(singles))]
    final_counts = e_step(
        _uni_normalize({p: counts.get(p, 0) for p in final_vocab}, alpha)
    )
    final_probs = _uni_normalize(
        {p: final_counts.get(p, 0) for p in final_vocab}, alpha
    )
    import math

    ranked = sorted(
        final_vocab, key=lambda p: (-final_counts.get(p, 0), p)
    )
    return df.sparkSession.createDataFrame(
        [
            (
                rank,
                p,
                len(p),
                final_counts.get(p, 0),
                round(math.log(final_probs[p]), 9),
            )
            for rank, p in enumerate(ranked)
        ],
        "rank int, piece string, n_chars int, count bigint, logprob double",
    )


def unigram_encode_token_counts(
    df: DataFrame,
    pieces: list[tuple[str, float]],
    text_col: str = "text",
    id_col: str = "doc_id",
    max_len: int = _UNI_LMAX,
) -> DataFrame:
    """Encode the corpus under a trained unigram vocabulary and report
    per-document sequence lengths: (doc_id, n_words, n_uni_tokens) --
    the unigram twin of bpe_encode_token_counts.

    `pieces` is the driver-side tokenizer artifact:
    [(piece, cost)] with cost = round(-ln p, 9) from
    unigram_train_local (cost = -logprob).

    The Viterbi DP runs as ONE JVM expression per distinct word: an
    F.aggregate fold over character positions whose accumulator is the
    best-(cost, piece_count) array, the per-position argmin an
    F.least over max_len candidate structs -- the identical
    (cost, n_pieces, max_len - l) comparison as _uni_viterbi, so both
    paths produce the same lengths (pinned in tests).  The piece-cost
    map is staged into its own projection BEFORE the fold (lambda
    re-evaluation discipline) and is a plan literal: the tokenizer is
    an artifact, not data.

    Scale shape: one corpus scan -> per-(doc, word) counts [shuffle
    1], the DP folds over the DISTINCT word frame only (within-doc
    repetition pays once), doc rollup weighted by multiplicity
    [shuffle 2].  Spark's literal-map element_at is a linear probe, so
    per distinct word the fold costs O(len x max_len x |vocab|)
    comparisons -- vocabulary-sized work; for a 100k-piece production
    vocab, swap the literal map for a broadcast (piece -> cost) join
    against the exploded (word, i, l) candidate frame, same DP."""
    inf = float("inf")
    cost_map = F.map_from_arrays(
        F.array(*[F.lit(p) for p, _ in pieces]),
        F.array(*[F.lit(c) for _, c in pieces]),
    )
    words = df.select(
        F.col(id_col),
        F.explode(F.split(normalize_text(text_col), " ")).alias("w"),
    ).where(F.col("w") != "")
    per_doc_word = words.groupBy(id_col, "w").agg(F.count("*").alias("n_w"))
    vocab = per_doc_word.select("w").distinct().withColumn("__m", cost_map)

    def step(acc, i):
        cands = []
        for l in range(1, max_len + 1):
            prev = F.element_at(acc, (i - F.lit(l) + 1).cast("int"))
            pc = F.element_at(
                F.col("__m"), F.col("w").substr(i - F.lit(l) + 1, F.lit(l))
            )
            cand = F.when(
                (F.lit(l) <= i) & pc.isNotNull(),
                F.struct(
                    F.round(prev["c"] + pc, 9).alias("c"),
                    (prev["np"] + 1).alias("np"),
                    F.lit(max_len - l).alias("tb"),
                ),
            ).otherwise(
                F.struct(
                    F.lit(inf).alias("c"),
                    F.lit(0).alias("np"),
                    F.lit(max_len).alias("tb"),
                )
            )
            cands.append(cand)
        best = F.least(*cands)
        return F.concat(
            acc,
            F.array(F.struct(best["c"].alias("c"), best["np"].alias("np"))),
        )

    # NULL (not 0) for a word the vocabulary cannot cover -- impossible
    # when encoding the training corpus (all single chars survive
    # pruning), but an out-of-corpus word with an unseen character must
    # surface as NULL, never silently count as zero tokens
    n_sym = F.aggregate(
        F.sequence(F.lit(1), F.length("w")),
        F.array(F.struct(F.lit(0.0).alias("c"), F.lit(0).alias("np"))),
        step,
        lambda acc: F.when(
            F.element_at(acc, -1)["c"] != F.lit(inf),
            F.element_at(acc, -1)["np"],
        ),
    )
    enc = vocab.select("w", n_sym.alias("n_sym"))
    return (
        per_doc_word.join(enc, "w")
        .groupBy(id_col)
        .agg(
            F.sum("n_w").alias("n_words"),
            F.sum(F.col("n_w") * F.col("n_sym")).alias("n_uni_tokens"),
        )
    )


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Intra-document repetition profile -- the Gopher/MassiveText
    repetition filter family (Rae et al. 2021, table A1; the
    quality-filter axis text_quality_score's length/punct/stopword
    signals do not cover): duplicate LINE fraction and duplicate-line
    CHARACTER fraction, the character fraction of the single most
    frequent word {2,3,4}-gram, and the character fraction of
    duplicated word {5..10}-grams.  (repetition_stats above is the
    COUNT-fraction bigram pair from the same paper family; this is the
    full character-fraction suite the MassiveText thresholds are
    defined over.)

    Definitions (the deterministic RedPajama-style forms; the paper's
    positional-coverage variant of the dup-n-gram signal is exactly
    the cross-document substring-dedup machinery in
    operators/corpus.py, applied intra-doc):
      dup_line_frac       = (n_lines - n_distinct_lines) / n_lines
      dup_line_char_frac  = (line_chars - distinct_line_chars)
                            / line_chars
      top_Ngram_char_frac = count(most frequent N-gram)
                            * chars(N-gram) / chars(normalized text)
                            (ties -> lexicographically smallest gram)
      dup_Ngram_char_frac = sum over N-grams occurring more than once
                            of (count - 1) * chars(gram)
                            / chars(normalized text) -- every
                            occurrence after the first; overlapping
                            grams double-count, so the signal may
                            exceed 1 on degenerate text (it is a
                            filter statistic, not a measure).
    Lines split on raw newlines of the RAW text; words on the
    normalized (lower/collapse/trim) text; zero denominators yield
    0.0 instead of an ANSI divide error.

    Scale shape: map-ONLY -- zero shuffles, zero joins; every signal
    is an array fold over per-row staged arrays (each n-gram frequency
    is a sort + single-run fold over that document's sorted gram
    array, never a groupBy).  At 100 TB this runs at scan speed next
    to the other per-document quality signals.  Arrays are staged in
    their own projections before the lambdas (the SCALE.md
    lambda-re-evaluation trap).

    r15: the input is fanned out by `ensure_scan_parallelism` first --
    the folds are interpreted (CodegenFallback) at ~1 us per element
    step, and an under-split scan (single-row-group file -> one task)
    ran the whole forest on one core (measured 7.0 s -> 1.3 s for the
    composed kill-flag chain at sf0.1).  The guard adds NO shuffle for
    well-split inputs, so the at-scale shape stays map-only."""
    from .similarity import ensure_scan_parallelism

    extras = [F.col(c) for c in extra_cols]
    df = ensure_scan_parallelism(df, id_col)
    staged = df.select(
        F.col(id_col),
        *extras,
        F.split(F.col(text_col), "\n").alias("__lines"),
        normalize_text(text_col).alias("__norm"),
    ).select(
        F.col(id_col),
        *extras,
        "__lines",
        F.array_distinct("__lines").alias("__dlines"),
        F.length("__norm").alias("__nc"),
        F.filter(F.split("__norm", " "), lambda x: x != "").alias("__ws"),
    )

    def ngrams(n: int) -> Column:
        return F.when(
            F.size("__ws") >= n,
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), F.size("__ws") - n),
                    lambda i: F.array_join(F.slice("__ws", i + 1, n), " "),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    staged = staged.select(
        F.col(id_col),
        *extras,
        "__lines",
        "__dlines",
        "__nc",
        *[ngrams(n).alias(f"__g{n}") for n in (*top_ns, *dup_ns)],
    )

    def run_len(acc: Column, x: Column) -> Column:
        return F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))

    def top_chars(g: str) -> Column:
        """chars covered by the most frequent gram: single fold over
        the sorted gram array tracking the current run and the best
        (count, gram); sorted order makes the first maximum the
        lexicographically smallest."""
        return F.aggregate(
            F.col(g),
            F.struct(
                F.lit("").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
                F.lit("").alias("gram"),
            ),
            lambda acc, x: F.struct(
                x.alias("prev"),
                run_len(acc, x).alias("run"),
                F.when(run_len(acc, x) > acc["best"], run_len(acc, x))
                .otherwise(acc["best"])
                .alias("best"),
                F.when(run_len(acc, x) > acc["best"], x)
                .otherwise(acc["gram"])
                .alias("gram"),
            ),
            lambda acc: acc["best"] * F.length(acc["gram"]),
        )

    def dup_chars(g: str) -> Column:
        """chars of every occurrence after the first: one fold, adding
        len(gram) whenever the sorted neighbor repeats."""
        return F.aggregate(
            F.col(g),
            F.struct(F.lit("").alias("prev"), F.lit(0).alias("dc")),
            lambda acc, x: F.struct(
                x.alias("prev"),
                (
                    acc["dc"]
                    + F.when(x == acc["prev"], F.length(x)).otherwise(F.lit(0))
                ).alias("dc"),
            ),
            lambda acc: acc["dc"],
        )

    def frac(num: Column, den: Column) -> Column:
        return F.when(den > 0, F.round(num / den, 6)).otherwise(F.lit(0.0))

    n_lines = F.size("__lines")
    line_chars = F.aggregate(
        "__lines", F.lit(0), lambda a, x: a + F.length(x)
    )
    dline_chars = F.aggregate(
        "__dlines", F.lit(0), lambda a, x: a + F.length(x)
    )
    return staged.select(
        F.col(id_col),
        *extras,
        n_lines.alias("n_lines"),
        frac(n_lines - F.size("__dlines"), n_lines).alias("dup_line_frac"),
        frac(line_chars - dline_chars, line_chars).alias(
            "dup_line_char_frac"
        ),
        *[
            frac(top_chars(f"__g{n}"), F.col("__nc")).alias(
                f"top_{n}gram_char_frac"
            )
            for n in top_ns
        ],
        *[
            frac(dup_chars(f"__g{n}"), F.col("__nc")).alias(
                f"dup_{n}gram_char_frac"
            )
            for n in dup_ns
        ],
    )


# MassiveText repetition-filter thresholds (Rae et al. 2021, Gopher
# appendix table A1): a document is removed when the signal EXCEEDS
# its threshold.
MASSIVETEXT_REP_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}

_REP_SIGNAL_COLS = tuple(MASSIVETEXT_REP_THRESHOLDS)


QUALITY_FILTER_RULES = (
    "kill_quality",
    "kill_dup_line",
    "kill_top_ngram",
    "kill_dup_ngram",
    "kill_pii",
    "kill_lang",
)


def quality_kill_flags(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document kill flags for the composed Gopher/MassiveText
    rule chain -- (id_col, kill_quality, kill_dup_line,
    kill_top_ngram, kill_dup_ngram, kill_pii, kill_lang), one boolean
    per rule, all computed in ONE scan by chaining the component
    signals through passthrough projections (repetition_signals keeps
    the raw text via extra_cols, quality_score chains on the same
    rows, PII/lang project beside them).  The shared core of
    quality_filter_report (the aggregate) and
    quality_filter_survivors (the cleaned-corpus filter)."""
    rep = repetition_signals(df, text_col, id_col, extra_cols=(text_col,))
    qual = quality_score(
        rep, text_col, id_col, extra_cols=(*_REP_SIGNAL_COLS, text_col)
    )
    n_pii = sum(
        (_count_matches(F.col(text_col), pat) for pat in PII_PATTERNS.values()),
        F.lit(0),
    )
    return qual.select(
        F.col(id_col),
        (~F.col("quality_keep")).alias("kill_quality"),
        (
            (F.col("dup_line_frac") > MASSIVETEXT_REP_THRESHOLDS["dup_line_frac"])
            | (
                F.col("dup_line_char_frac")
                > MASSIVETEXT_REP_THRESHOLDS["dup_line_char_frac"]
            )
        ).alias("kill_dup_line"),
        _any_over(
            [c for c in _REP_SIGNAL_COLS if c.startswith("top_")]
        ).alias("kill_top_ngram"),
        _any_over(
            [c for c in _REP_SIGNAL_COLS if c.startswith("dup_") and "gram" in c]
        ).alias("kill_dup_ngram"),
        (n_pii > 0).alias("kill_pii"),
        (language_pred(text_col) == "und").alias("kill_lang"),
    )


def quality_filter_survivors(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The OUTPUT half of the composed quality-filter pipeline: the
    ids of documents that pass EVERY rule of the chain -- the frame a
    training-data pipeline actually materializes (the report above is
    its monitoring sibling).

    The flag frame is a lazy localCheckpoint, NOT a plain projection:
    filtering directly on the projection lets PushDownPredicates
    substitute the keep-predicate through every staged Project down to
    the scan, duplicating the whole higher-order-function expression
    forest per referenced signal (measured: the plan's tokenize count
    went 3 -> 43 and sf0.1 wall-time 0.2s -> 8-13s -- HOFs are
    CodegenFallback, so the duplicated folds run interpreted).  The
    checkpoint is the optimizer fence that preserves the staged
    single-evaluation shape, and it materializes exactly the artifact
    a production pipeline keeps anyway: the per-document audit table
    of which rule killed what (slim -- id + 6 booleans)."""
    flags = quality_kill_flags(df, text_col, id_col).localCheckpoint(
        eager=False
    )
    keep = ~F.col(QUALITY_FILTER_RULES[0])
    for k in QUALITY_FILTER_RULES[1:]:
        keep = keep & ~F.col(k)
    return flags.where(keep).select(id_col)


def quality_filter_report(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The COMPOSED corpus quality-filter pipeline (VERDICT r10 item
    5): the full Gopher/MassiveText rule chain this module implements
    piecewise -- heuristic quality bars (quality_score), the
    line/n-gram repetition family at the published table-A1 thresholds
    (repetition_signals + MASSIVETEXT_REP_THRESHOLDS), PII presence
    (PII_PATTERNS), and language identification (language_pred) --
    applied in ONE documents scan, reporting per-rule kill counts and
    the survivor fraction.

    Output: 1 row --
      n_total,
      killed_quality     (quality_keep composite false),
      killed_dup_line    (dup line fraction / char fraction over bar),
      killed_top_ngram   (any top-{2,3,4}-gram char frac over bar),
      killed_dup_ngram   (any dup-{5..10}-gram char frac over bar),
      killed_pii         (any email/phone/ipv4 hit),
      killed_lang        (language undetermined),
      n_survivors        (passes EVERY rule),
      survivor_frac      (round 6).
    Kill counts are INDEPENDENT (a doc failing two rules counts in
    both) -- the per-rule accounting a pipeline report needs to show
    which rule does the work.

    Scale shape: documents x1 -- repetition_signals passes the raw
    text through (extra_cols), quality_score chains on the same rows,
    and the PII/lang expressions project beside them; everything up to
    the single 1-row aggregate is map-only (zero joins, zero
    pre-aggregate shuffles), so the report runs at scan speed on a
    100 TB corpus exactly like its component filters."""
    flagged = quality_kill_flags(df, text_col, id_col)
    kills = list(QUALITY_FILTER_RULES)
    survives = ~flagged[kills[0]]
    for k in kills[1:]:
        survives = survives & ~flagged[k]
    return flagged.agg(
        F.count(F.lit(1)).alias("n_total"),
        *[
            F.sum(F.when(F.col(k), 1).otherwise(0)).alias(
                k.replace("kill_", "killed_")
            )
            for k in kills
        ],
        F.sum(F.when(survives, 1).otherwise(0)).alias("n_survivors"),
        F.round(
            F.sum(F.when(survives, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("survivor_frac"),
    )


def _any_over(cols: list[str]) -> Column:
    """OR over signal > its MASSIVETEXT threshold."""
    out = F.lit(False)
    for c in cols:
        out = out | (F.col(c) > MASSIVETEXT_REP_THRESHOLDS[c])
    return out
