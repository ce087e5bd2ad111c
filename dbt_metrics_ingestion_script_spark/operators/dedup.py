"""Deduplication operators for LLM-scale corpora (SURVEY.md §2.11 X1/X2).

All hot paths are JVM-side and stay inside whole-stage codegen (regex
shingling, exploded-row aggregation) -- zero Python row UDFs, and no
interpreted array-lambda evaluation on the per-token path.  Scale
posture per operator:

- exact_dedup: one hash-aggregate shuffle on the dedup key.  At 100 TB,
  group on a digest of the normalized text (64-bit + length), never the
  raw text, so shuffle rows are ~30 bytes.
- minhash_lsh: the classic shingle -> k-minhash -> banded-bucket join.
  Candidate generation touches only (band, bucket) pairs, so the
  self-join is on bucket ids (balanced by construction); verification
  computes exact Jaccard only on candidates.  This is the scale path --
  cost O(n * k) + candidate joins instead of O(n^2).
- ngram_jaccard_pairs: pairwise Jaccard via an inverted shingle index
  (explode -> equi-join on shingle -> count), with a shingle
  document-frequency cap (df_max) that bounds the self-join fan-out on
  hot shingles -- capped results are a lower-bound subset of the exact
  answer; at 100 TB use minhash_lsh first and this
  as the verify stage.
- simhash64: per-doc 64-bit signature via weighted bit-vote over token
  hashes; near-dups differ in few bits (hamming <= 3).  Signature is an
  aggregate expression; banding the 64 bits into 4x16-bit keys gives an
  exact index for hamming<=3 candidates (pigeonhole).
- embedding_cosine_pairs: exact embedding near-dup pairs (cosine >=
  threshold) via a pruned self-join -- the verify baseline, O(n^2)
  comparisons.  embedding_near_dedup is the 100 TB path: random-
  hyperplane LSH buckets generate candidates, exact cosine rescoring
  verifies, keep-lowest-id survives.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import family_hash, hash31, hash64
from ..sinks import versioned

# ---------------------------------------------------------------------------
# normalization + shingling (shared by all text dedup)
# ---------------------------------------------------------------------------


def normalize_text(col: Column | str) -> Column:
    """lower + collapse whitespace + trim: the canonical form exact and
    near dedup operate on."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def tokens_of(col: Column | str) -> Column:
    """Word tokens of the normalized text.

    ALWAYS materialize this in its own projection before feeding it to
    shingling: expressions referenced inside higher-order-function
    lambdas are re-evaluated per array element (no CSE across the
    lambda boundary), so an inlined split/regexp subtree would run once
    per shingle instead of once per document.
    """
    return F.split(normalize_text(col), " ")


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles of the normalized text; texts shorter
    than n words produce one whole-text shingle.

    Implemented as ONE regexp_extract_all pass: the pattern consumes a
    token (so find() resumes at the next token start) while a lookahead
    group captures the n-token window beginning there.  The expression
    is lambda-free, so a bare shingle projection compiles into
    whole-stage codegen (asserted in tests/test_plan_shape.py); the
    equivalent transform(sequence, slice+concat_ws) lambda form is
    interpreted per element and measured ~10x slower at ~50 tokens/doc
    (the per-doc cost that dominates a 100 TB corpus scan)."""
    norm = normalize_text(col)
    pat = r"(?=(" + r"\S+ " * (n - 1) + r"\S+))\S+ ?"
    windowed = F.regexp_extract_all(norm, F.lit(pat), 1)
    return F.when(F.size(windowed) == 0, F.array(norm)).otherwise(
        F.array_distinct(windowed)
    )


def shingle_frame(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, hashed: bool = True
) -> DataFrame:
    """(id, shingles): one codegen regex pass for the shingle array,
    then (optionally) a separate Project for 31-bit shingle hashes so
    the shingle subtree doesn't re-evaluate inside the hash lambda.

    Fanned out by `ensure_scan_parallelism` (r15): the
    tokenize/shingle/hash transforms downstream are interpreted
    per-element expressions, and the whole MinHash/SimHash family was
    running them on ONE core whenever the corpus scanned as a single
    split; the guard adds no shuffle for well-split inputs."""
    from .similarity import ensure_scan_parallelism

    out = ensure_scan_parallelism(df, id_col).select(
        F.col(id_col).alias("id"), word_shingles(text_col, n).alias("shingles")
    )
    if hashed:
        out = out.select("id", F.transform("shingles", hash31).alias("shingles"))
    return out


# ---------------------------------------------------------------------------
# X1: exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep-first exact dedup on normalized text.

    Output: (content_hash, doc_id = survivor, n_dups).  Grouping key is
    a 64-bit digest (plus count verification downstream if paranoid) so
    the shuffle carries digests, not documents.
    """
    norm = normalize_text(text_col)
    return (
        df.select(hash64(norm).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_dups"))
    )


def exact_dedup_survivors(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Surviving ROWS of keep-first exact dedup (vs exact_dedup's digest
    summary): row_number over the content digest, keep rank 1.

    ONE full shuffle (hash-partition by digest) instead of the
    digest-groupBy + survivor-rejoin shape, which would shuffle the
    payload twice more (both rejoin sides) -- the right form when the
    deduped payload continues through a pipeline."""
    from pyspark.sql import Window

    w = Window.partitionBy("__content_hash").orderBy(id_col)
    return (
        df.withColumn("__content_hash", hash64(normalize_text(text_col)))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__content_hash")
    )


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_col: str = "content_hash",
) -> DataFrame:
    """Incremental exact dedup: drop new documents whose normalized
    content digest already exists in a corpus INDEX -- the continual-
    ingestion shape (every crawl batch dedups against everything
    already ingested), where re-running `exact_dedup` over the union
    would rescan the whole historical corpus per batch.

    `index` is a digest frame (hash_col) as produced by
    `exact_dedup`'s output (or any persisted digest table).  Also
    dedups WITHIN the batch (keep-first), so appending the survivors'
    digests to the index keeps it exact.

    Output: the surviving new rows.

    Scale shape: one anti-join keyed on the 64-bit digest -- the new
    batch (small) against the index (huge): Spark builds/streams the
    BATCH side against the index scan, and with the index bucketed or
    partitioned by digest the join prunes; the batch-internal
    keep-first is a row_number window on the same digest key, so AQE
    reuses the batch's digest partitioning.  Documents never shuffle
    with their text -- the digest is computed map-side first.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("__h").orderBy(id_col)
    hashed = new_docs.withColumn("__h", hash64(normalize_text(text_col)))
    return (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .join(
            index.select(F.col(hash_col).alias("__h")).distinct(),
            "__h",
            "left_anti",
        )
        .drop("__rn", "__h")
    )


# ---------------------------------------------------------------------------
# X2a: exact pairwise n-gram Jaccard via inverted index
# ---------------------------------------------------------------------------


# Document-frequency cap used by the REGISTERED ngram-Jaccard queries
# and mirrored verbatim into their DuckDB oracle SQL (queries_ext.py
# interpolates this constant), so Spark/oracle parity holds for any
# value of the cap.  ADVICE r4 c: the operator itself defaults to
# df_max=None (exact semantics) -- the lower-bound-subset cap is an
# opt-in at the scale-path call sites, never a silent default.
NGRAM_DF_MAX = 1000


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    df_max: int | None = None,
) -> DataFrame:
    """All pairs with shingle-set Jaccard >= threshold.

    Inverted index: explode shingles, self-join on shingle (hashed to
    64-bit to keep shuffle rows small), count common shingles, then
    |A∩B| / (|A| + |B| - |A∩B|).  Output: (id_a, id_b, jaccard) with
    id_a < id_b.

    `df_max` bounds the self-join fan-out (VERDICT r3 item 2): a shingle
    appearing in k documents produces k^2 join rows, and real corpora
    have power-law shingle document frequencies, so without a cap one
    stop-shingle turns the join quadratic on its hot key.  Shingles with
    DF > df_max are dropped from the INDEX only; set sizes (n_a, n_b)
    stay uncapped, so the reported jaccard is a strict LOWER BOUND of
    the true value and the emitted pairs are a SUBSET of the exact
    answer -- no false positives vs the threshold, recall lost only for
    pairs whose above-threshold overlap depends on shingles shared by
    more than df_max documents.  Threshold-dependence: at realistic
    near-dup thresholds (>= 0.2 here) a hot shingle contributes at most
    1/|union| per pair, so df_max in the hundreds-to-thousands loses
    essentially nothing while bounding worst-case fan-out at
    df_max^2 rows per shingle.  The default `df_max=None` is EXACT
    semantics (ADVICE r4 c: the cap changes results, so callers opt in
    explicitly -- the registered scale-path queries pass NGRAM_DF_MAX,
    which their oracle SQL mirrors); at 100 TB always pass a cap.
    """
    common = _ngram_common_counts(df, text_col, id_col, n, df_max)
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return common.select(
        "id_a", "id_b", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def _ngram_common_counts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    df_max: int | None,
) -> DataFrame:
    """Shared inverted-index core of the pairwise shingle-overlap
    operators: (id_a, id_b, n_a, n_b, n_common) for every pair sharing
    >= 1 indexed shingle, id_a < id_b.  See `ngram_jaccard_pairs` for
    the df_max cap semantics (index-only drop: counts are a lower
    bound, set sizes stay exact)."""
    sh = shingle_frame(df, text_col, id_col, n, hashed=False).select(
        "id", F.size("shingles").alias("n_sh"), F.explode("shingles").alias("sh")
    )
    # repartition on the join key + merge hint: both self-join sides get
    # the identical shuffle, so the exchange (and the whole shingling
    # subtree above it) is computed once and reused -- and at 100 TB an
    # exploded inverted index must never be broadcast anyway
    sh = (
        sh.select("id", "n_sh", hash64("sh").alias("sh_hash"))
        .repartition("sh_hash")
    )
    if df_max is not None:
        # shingle arrays are distinct per doc, so a plain COUNT(*) over
        # the sh_hash partition IS the document frequency; the window's
        # partitioning matches the repartition above, so the DF filter
        # costs no extra shuffle and lives inside the reused exchange
        from pyspark.sql import Window

        dfreq = F.count("*").over(Window.partitionBy("sh_hash"))
        sh = sh.withColumn("__df", dfreq).filter(
            F.col("__df") <= F.lit(df_max)
        ).drop("__df")
    sh = sh.hint("merge")
    a, b = sh.alias("a"), sh.alias("b")
    return (
        a.join(b, "sh_hash")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_common"))
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.6,
    df_max: int | None = None,
) -> DataFrame:
    """Doc-in-doc detection: pairs where the SMALLER shingle set is
    mostly contained in the other -- containment
    C = |A∩B| / min(|A|, |B|) >= threshold.  Catches quotations,
    article-plus-boilerplate wrappers, and chunk/full-document
    overlaps that Jaccard misses entirely: a 50-shingle doc embedded
    verbatim in a 5000-shingle page has C = 1.0 but Jaccard ~ 0.01,
    so no symmetric-similarity threshold finds it.

    Output: (id_a, id_b, contained_id, containment), id_a < id_b;
    contained_id is the doc with the smaller shingle set (ties -> the
    lower id), i.e. the one to drop if deduplicating containments.

    Same inverted-index core, plan, and df_max cap semantics as
    `ngram_jaccard_pairs` (capped counts make containment a lower
    bound -- emitted pairs stay a subset of the exact answer); at
    100 TB run it behind the MinHash candidate stage like the Jaccard
    verify."""
    common = _ngram_common_counts(df, text_col, id_col, n, df_max)
    cont = F.col("n_common") / F.least("n_a", "n_b")
    contained = F.when(F.col("n_a") <= F.col("n_b"), F.col("id_a")).otherwise(
        F.col("id_b")
    )
    return common.select(
        "id_a",
        "id_b",
        contained.alias("contained_id"),
        cont.alias("containment"),
    ).filter(F.col("containment") >= threshold)


# ---------------------------------------------------------------------------
# X2b: MinHash + LSH (the 100 TB path)
# ---------------------------------------------------------------------------


def minhash_signature(hashes: Column, k: int = 32) -> Column:
    """k-permutation MinHash over pre-hashed shingles:
    sig[i] = min over shingle hashes x of (a_i * x + b_i) mod (2^31-1)."""
    return F.array(
        *[
            F.array_min(F.transform(hashes, lambda x: family_hash(x, i)))
            for i in range(k)
        ]
    )


def _banded_minhash(
    df: DataFrame, text_col: str, id_col: str, n: int, k: int, bands: int
) -> DataFrame:
    """(id, band, bucket) banded MinHash frame -- the LSH index layout.

    Staged projections (shingle_frame) so shingles / hashes each
    materialize once before the signature lambdas; the k family hashes
    are cheap linear arithmetic over the already-md5'd 31-bit shingle
    hashes.  (An exploded groupBy(id) min-aggregate variant measured
    slower end to end at bench scale: the extra shuffle costs more
    than the k in-row array passes save.)"""
    if k % bands:
        raise ValueError("k must be divisible by bands")
    r = k // bands
    sig = shingle_frame(df, text_col, id_col, n).select(
        "id", minhash_signature(F.col("shingles"), k).alias("sig")
    )
    return sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    hash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice("sig", b * r + 1, r), lambda x: x.cast("string")
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
) -> DataFrame:
    """Candidate near-dup pairs: equal MinHash band in >= 1 of `bands`
    bands (rows per band r = k/bands; P[candidate] ~ 1-(1-j^r)^bands).

    Output: (id_a, id_b) distinct, id_a < id_b.  The only joins are on
    (band, bucket-hash) -- no document content moves.
    """
    banded = _banded_minhash(df, text_col, id_col, n, k, bands)
    # identical shuffle on both sides -> signature subtree computed once
    # (exchange reuse); banded signatures are never broadcast at scale
    banded = banded.repartition("band", "bucket").hint("merge")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def near_dedup_against_corpus(
    new_docs: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Incremental NEAR-dedup: drop new documents whose shingle-set
    Jaccard with ANY document of the existing corpus reaches
    `threshold` -- the fuzzy sibling of `dedup_against_index` (a crawl
    batch near-duplicating already-ingested content is the common case;
    exact digests only catch verbatim copies).

    Same LSH discipline as the self-join path, but the band join runs
    BETWEEN the batch's banded signatures and the corpus's: at scale
    the corpus side is a PRECOMPUTED banded index (materialize
    `_banded_minhash` + `shingle_frame` once, bucketed by
    (band, bucket) / id), so each incremental batch costs one
    batch-sized signature pass plus joins that only shuffle the batch
    side -- history is never re-signatured.  Candidates verify with
    exact hashed-shingle Jaccard before any drop (LSH alone
    over-flags), and only BATCH rows are ever dropped -- the corpus is
    immutable history.

    Output: surviving new rows.
    """
    return near_dedup_against_corpus_index(
        new_docs,
        _banded_minhash(corpus, text_col, id_col, n, k, bands),
        shingle_frame(corpus, text_col, id_col, n),
        text_col=text_col,
        id_col=id_col,
        n=n,
        k=k,
        bands=bands,
        threshold=threshold,
    )


def near_dedup_against_corpus_index(
    new_docs: DataFrame,
    corpus_banded: DataFrame,
    corpus_shingles: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """`near_dedup_against_corpus` against the MATERIALIZED corpus
    index -- the production incremental form: `corpus_banded` is the
    (id, band, bucket) frame and `corpus_shingles` the
    (id, shingles) frame written once by
    `sinks.signature_index.write_minhash_index` (or any prior batch's
    signature pass).  The geometry (n, k, bands) MUST match the one
    the index was built with -- the writer records it and the reader
    checks, because a mismatched batch signature silently finds no
    candidates.  History is never re-signatured: each batch costs one
    batch-sized signature pass plus joins that shuffle the batch side
    and only the matching index buckets."""
    b_banded = _banded_minhash(new_docs, text_col, id_col, n, k, bands)
    cands = (
        b_banded.join(
            corpus_banded.withColumnRenamed("id", "cid"), ["band", "bucket"]
        )
        .select(F.col("id").alias("id_new"), F.col("cid").alias("id_corpus"))
        .distinct()
    )
    sh_new = shingle_frame(new_docs, text_col, id_col, n).select(
        F.col("id").alias("id_new"), F.col("shingles").alias("sh_n")
    )
    sh_corpus = corpus_shingles.select(
        F.col("id").alias("id_corpus"), F.col("shingles").alias("sh_c")
    )
    flagged = (
        cands.join(sh_new, "id_new")
        .join(sh_corpus, "id_corpus")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_n", "sh_c"))
            / F.size(F.array_union("sh_n", "sh_c")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("id_new").alias(id_col))
        .distinct()
    )
    return new_docs.join(flagged, id_col, "left_anti")


def near_dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Full near-dedup: LSH candidates -> exact-Jaccard verify -> drop
    the higher id of each duplicate pair.  Returns surviving rows."""
    cands = minhash_lsh_candidates(df, text_col, id_col, n, k, bands)
    # verify on hashed shingle sets: set arithmetic over ints, and the
    # candidate join carries ~4-byte elements instead of raw text
    sh = shingle_frame(df, text_col, id_col, n)
    verified = (
        cands.join(sh.withColumnRenamed("id", "id_a").withColumnRenamed("shingles", "sh_a"), "id_a")
        .join(sh.withColumnRenamed("id", "id_b").withColumnRenamed("shingles", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    losers = verified.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


# ---------------------------------------------------------------------------
# X2d: embedding-cosine near-dup
# ---------------------------------------------------------------------------


def _unit_vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, unit) frame with the embedding normalized to unit length --
    norm computed once per row, so pairwise cosine is a bare dot.

    Zero-norm embeddings are dropped: their cosine is undefined, and
    under ANSI mode the division would otherwise abort the whole job on
    one degenerate row (they can't be near-duplicates of anything).

    The input is fanned out by `ensure_scan_parallelism` (r15): the
    norm/unit folds and every downstream map stage (LSH signatures,
    cell-argmin) are interpreted per-element expressions, and an
    under-split scan (one row group -> one task) ran them all on one
    core; the guard is a structural no-op for well-split inputs."""
    from .similarity import as_double, ensure_scan_parallelism, l2_norm

    return (
        ensure_scan_parallelism(
            df.select(F.col(id_col).alias("id"), as_double(vec_col).alias("v")),
            "id",
        )
        .withColumn("norm", l2_norm(F.col("v")))
        .filter(F.col("norm") > 0)
        .select(
            "id", F.transform("v", lambda x: x / F.col("norm")).alias("unit")
        )
    )


def embedding_cosine_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine similarity >= threshold --
    exact, by pairwise comparison.

    Normalizing once up front halves the arithmetic (cosine becomes a
    plain dot product) and keeps the join sides slim (id + unit vector).
    This is the correctness baseline / verify stage; at 100 TB generate
    candidates with `embedding_near_dedup`'s LSH buckets instead of
    comparing all pairs.
    """
    from .similarity import dot

    unit = _unit_vectors(df, id_col, vec_col)
    a, b = unit.alias("a"), unit.alias("b")
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            dot(F.col("a.unit"), F.col("b.unit")).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def embedding_near_pairs(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    probe_hamming: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Verified embedding near-dup PAIRS -- the LSH candidate +
    exact-cosine-verify stage shared by `embedding_near_dedup` (which
    drops the higher id of each pair) and semantic clustering (which
    feeds the pairs into connected components).  Output: (id_a, id_b),
    id_a < id_b, cosine >= threshold, candidates limited to bucket
    signatures within `probe_hamming` bits.

    The unit vectors ride the banded frame into the candidate join,
    each candidate pair is emitted ONLY in its lowest matching band
    (band-minimal emission, r15), and the cosine verify runs IN the
    join stage: the only shuffle is the banded frame itself, moved
    once by the (band, key) repartition -- zero candidate-sized
    shuffles.  Band-minimality is a per-row integer check (both
    bucket signatures are in the joined row, so "some band below this
    one also matches" is a mask test on their XOR), which makes the
    emitted pair set EXACTLY the distinct candidate set: the dot runs
    once per distinct pair and no distinct operator is needed at all.
    The previous shape deduped candidate ID pairs with a shuffle and
    re-attached vectors with two joins -- three candidate-sized
    shuffles (candidates >> n whenever buckets are loaded; 152x at
    sf0.1); measured at sf0.1 this shape is ~1.3-1.5x faster end to
    end on every consumer, with identical output (379/379 pairs,
    set-equal, and count == distinct count by construction).
    """
    from .similarity import dot, lsh_bucket

    unit = _unit_vectors(df, id_col, vec_col).withColumn(
        "bucket", lsh_bucket(F.col("unit"), n_planes, dim)
    )
    banded = _banded_buckets(unit, n_planes, probe_hamming)
    banded = banded.repartition("band", "key").hint("merge")
    a, b = banded.alias("a"), banded.alias("b")
    xor = F.col("a.bucket").bitwiseXOR(F.col("b.bucket"))
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .filter(F.bit_count(xor) <= probe_hamming)
        .filter(_band_minimal(xor, n_planes, probe_hamming))
        .filter(dot(F.col("a.unit"), F.col("b.unit")) >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def _band_minimal(xor: Column, n_planes: int, probe_hamming: int) -> Column:
    """True iff the current row's `band` is the LOWEST band on which
    the two signatures agree: every band slice below it differs, i.e.
    that slice of the signatures' XOR is non-zero.  Each candidate
    pair agrees on >= 1 band (pigeonhole), so filtering on this emits
    every candidate pair exactly once across the banded self-join --
    a per-row integer mask test that replaces a candidate-sized
    distinct shuffle.  Slicing mirrors `_banded_buckets` exactly."""
    nbands = probe_hamming + 1
    width = max(n_planes // nbands, 1)
    mask = (1 << width) - 1
    conds, below_differ = [], F.lit(True)
    for bnd in range(nbands):
        conds.append(below_differ)
        below_differ = below_differ & (
            F.shiftrightunsigned(xor, bnd * width).bitwiseAND(F.lit(mask))
            != 0
        )
    return F.element_at(F.array(*conds), F.col("band").cast("int") + 1)


def _banded_buckets(
    unit: DataFrame, n_planes: int, probe_hamming: int
) -> DataFrame:
    """Pigeonhole banding of the hyperplane signature: vectors within
    `probe_hamming` bits agree on >= 1 of probe_hamming+1 bands, so an
    equi-join on (band, key) is an exact candidate cover for the
    hamming probe.  Output: (id, unit, bucket, band, key) -- the unit
    vector rides along so the candidate join can cosine-verify
    in-stage (Catalyst prunes it where a consumer never reads it)."""
    nbands = probe_hamming + 1
    width = max(n_planes // nbands, 1)
    return unit.select(
        "id",
        "unit",
        "bucket",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bnd).alias("band"),
                        F.shiftrightunsigned("bucket", bnd * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for bnd in range(nbands)
                ]
            )
        ).alias("bb"),
    ).select("id", "unit", "bucket", "bb.band", "bb.key")


def embedding_near_dedup(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    probe_hamming: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Scale-path embedding dedup: verified LSH near-dup pairs
    (`embedding_near_pairs`), then drop the higher id of each duplicate
    pair.  Returns surviving input rows.  `dim` must equal the embedding
    length (plane vectors are plan literals of that length)."""
    pairs = embedding_near_pairs(
        df, threshold, id_col, vec_col, n_planes, probe_hamming, dim
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, id_col, "left_anti")


def embedding_near_pairs_celled(
    df: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int | None = None,
    target_cell: int = 256,
) -> DataFrame:
    """SemDeDup-style CELLED near-dup pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means cells bound candidate generation, the
    scale path past the hyperplane-banding rule above.

    Why this exists (r15 ×100 plan-audit finding): the banded LSH rule
    in `embedding_near_pairs` joins on a FIXED key space --
    n_planes=8 / 3 bands leaves 2-bit keys, 12 (band, key) buckets
    TOTAL -- so per-bucket size grows with the corpus and candidate
    volume grows QUADRATICALLY.  Fine at 1x, 118 s at ×10, and at
    ×100 (200k vectors, ~50k rows per bucket) the first
    materialization ran a ~10^10-row candidate distinct for 35+
    minutes.  Widening the signature does not rescue a 0.4-cosine
    threshold: P[bit match] ≈ 0.63 per plane, so a hamming<=2 probe
    over a wider signature collapses recall instead.  The published
    fix IS SemDeDup's: k-means cells of ~constant size.

    Candidate rule: same-cell pairs from the deterministic
    `similarity.ivf_index` build run on UNIT vectors (lowest-id
    seeds, one Lloyd round, argmin assignment tie-broken on
    centroid_id -- every stage replayable in the DuckDB oracle).
    Pairs are verified by exact cosine >= threshold, so PRECISION is
    exact; recall is the documented SemDeDup trade -- cross-cell
    pairs are unseen (the measured floor at test sf is pinned in
    tests/test_ext_operators.py).

    Scale posture: `n_cells` defaults to ceil(n / target_cell) via
    one cheap count job, so cells stay ~target_cell rows at ANY
    corpus size and total pair work is sum_c C(|c|, 2) ~
    n * target_cell / 2 -- LINEAR in n.  Centroids ride a broadcast
    (n_cells * dim doubles; cap n_cells or go hierarchical past
    ~10^5 cells).  Lloyd imbalance can fatten a cell; the join is an
    equi-join on centroid_id so AQE's skew split handles the shuffle,
    and target_cell is the knob if a cell's O(|c|^2) output ever
    dominates."""
    from .similarity import dot, ivf_index

    units = _unit_vectors(df, id_col, vec_col)
    if n_cells is None:
        n = units.count()
        n_cells = max(1, -(-n // target_cell))
    assignments, _cents = ivf_index(
        units, n_centroids=n_cells, id_col="id", vec_col="unit"
    )
    cells = assignments.select("centroid_id", "id", "vec")
    a, b = cells.alias("a"), cells.alias("b")
    return (
        a.join(b, "centroid_id")
        .filter(F.col("a.id") < F.col("b.id"))
        .filter(dot(F.col("a.vec"), F.col("b.vec")) >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def embedding_dedup_against_corpus(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    probe_hamming: int = 2,
    dim: int = 64,
) -> DataFrame:
    """Incremental SEMANTIC dedup: drop batch vectors cosine-similar
    (>= threshold) to ANY vector already in the corpus -- the
    embedding-space sibling of `near_dedup_against_corpus` (text
    MinHash) and `dedup_against_index` (exact digests), completing the
    incremental-ingestion family.

    Only batch rows drop; the corpus is never rescanned row-by-row --
    in production its (id, bucket, unit) signature index is
    materialized once (`_unit_vectors` + `lsh_bucket`, the same
    deterministic plan-literal planes, so index and query signatures
    can never drift) and the per-batch cost is
    O(batch bands x matching corpus buckets), independent of corpus
    growth beyond bucket occupancy.  Batch-INTERNAL near-dups are
    deliberately kept (resolved by `embedding_near_dedup` /
    `duplicate_clusters_star` in-batch before this check, mirroring the
    exact-dedup split).

    The candidate join is banded (band, key) equi-join + hamming
    probe -- an exact pigeonhole cover, so the DuckDB oracle replays
    every drop decision from the same plane literals.
    """
    return embedding_dedup_against_index(
        batch,
        embedding_signature_index(corpus, id_col, vec_col, n_planes, dim),
        threshold,
        id_col,
        vec_col,
        n_planes,
        probe_hamming,
        dim,
    )


def embedding_signature_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """(id, unit, bucket): the embedding LSH signature index --
    materialize once per corpus (sinks.signature_index) and every
    incremental batch joins it instead of re-signaturing history.
    Deterministic plan-literal planes, so index and query signatures
    can never drift."""
    from .similarity import lsh_bucket

    return _unit_vectors(df, id_col, vec_col).withColumn(
        "bucket", lsh_bucket(F.col("unit"), n_planes, dim)
    )


def _index_verified_hits(
    batch: DataFrame,
    corpus_index: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    n_planes: int,
    probe_hamming: int,
    dim: int,
) -> DataFrame:
    """Shared batch-vs-index stage: banded (band, key) candidate join +
    hamming probe + exact cosine verify, restructured like
    `embedding_near_pairs` (r15): the unit vectors ride the banded
    frames, each candidate pair is emitted only in its lowest matching
    band (`_band_minimal` -- a per-row mask test on the signatures'
    XOR), and the verify runs IN the join stage.  The only shuffles
    are the two banded frames; the previous shape shuffled three
    candidate-sized frames (candidate distinct + two vector re-attach
    joins) and the emitted set is distinct by construction, so no
    distinct operator remains.  Output: (id_b, id_c) verified distinct
    pairs, id_b from the batch, id_c from the index; the dedup drops
    id_b."""
    from .similarity import dot

    b_unit = embedding_signature_index(batch, id_col, vec_col, n_planes, dim)
    c_unit = corpus_index
    bb = _banded_buckets(b_unit, n_planes, probe_hamming).alias("a")
    cb = _banded_buckets(c_unit, n_planes, probe_hamming).alias("b")
    xor = F.col("a.bucket").bitwiseXOR(F.col("b.bucket"))
    return (
        bb.join(cb, ["band", "key"])
        .filter(F.bit_count(xor) <= probe_hamming)
        .filter(_band_minimal(xor, n_planes, probe_hamming))
        .filter(dot(F.col("a.unit"), F.col("b.unit")) >= threshold)
        .select(F.col("a.id").alias("id_b"), F.col("b.id").alias("id_c"))
    )


def embedding_dedup_against_index(
    batch: DataFrame,
    corpus_index: DataFrame,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    probe_hamming: int = 2,
    dim: int = 64,
) -> DataFrame:
    """`embedding_dedup_against_corpus` against the MATERIALIZED
    (id, unit, bucket) signature index; n_planes/dim must match the
    index build (writer records, reader checks)."""
    hits = (
        _index_verified_hits(
            batch, corpus_index, threshold, id_col, vec_col,
            n_planes, probe_hamming, dim,
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return batch.join(hits, id_col, "left_anti")


# ---------------------------------------------------------------------------
# X2c: SimHash
# ---------------------------------------------------------------------------


def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(id, simhash) via exploded (token, bit) rows + generic
    sum-aggregates.

    Tokens explode to rows, each hashed once (md5), then cross with the
    64 bit positions and vote with ONE narrow groupBy(id, bit) -- all
    whole-stage codegen with map-side partial aggregation, so the
    shuffle carries 64 partial counts per doc, not tokens.  Two
    alternatives measured worse at bench scale: the array-fold form
    (F.aggregate per bit over a token-hash array) is interpreted per
    element, and a 64-wide aggregate (one SUM(getbit) column per bit)
    pays ~2 s of Catalyst planning per invocation for the 65-aggregate
    plan.  The 64x row inflation stays inside one codegen stage and is
    collapsed by partial aggregation before it ever hits the wire.

    Bit 63 needs no special case: Spark's shiftleft follows Java <<
    semantics, so shiftleft(1L, 63) is already Long.MIN_VALUE, and the
    final SUM of distinct bit values (at most 2^62+...+1 then one
    negative min-long term) cannot overflow, keeping ANSI mode happy.

    Fanned out by `ensure_scan_parallelism` (r15): the tokenize +
    64x bit explode runs in the scan stage, which is ONE task for a
    single-split corpus; no shuffle added for well-split inputs.
    """
    from .similarity import ensure_scan_parallelism

    df = ensure_scan_parallelism(df, id_col)
    hashed = df.select(
        F.col(id_col), F.explode(tokens_of(text_col)).alias("__tok")
    ).select(F.col(id_col), hash64(F.col("__tok")).alias("__h"))
    bits = hashed.select(
        F.col(id_col), "__h", F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b")
    )
    votes = bits.groupBy(id_col, "b").agg(
        F.count("*").alias("__n"),
        F.sum(F.getbit("__h", F.col("b")).cast("bigint")).alias("__ones"),
    )
    term = F.when(
        F.col("__ones") * 2 > F.col("__n"), F.expr("shiftleft(1L, b)")
    ).otherwise(F.lit(0).cast("bigint"))
    return votes.groupBy(id_col).agg(F.sum(term).alias("simhash"))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, indexed by the
    pigeonhole trick: split 64 bits into max_hamming+1 bands; any pair
    within distance max_hamming agrees exactly on >= 1 band, so the
    join is band-equality, never all-pairs."""
    nbands = max_hamming + 1
    width = 64 // nbands
    sigs = simhash_signatures(df, text_col, id_col)
    banded = sigs.select(
        F.col(id_col).alias("id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("key"),
                    )
                    for b in range(nbands)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.key")
    banded = banded.repartition("band", "key").hint("merge")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# X2d: duplicate-cluster resolution (connected components over dup pairs)
# ---------------------------------------------------------------------------


# Star rounds between lineage truncations: every _STAR_CHECKPOINT_EVERY-th
# round's edge frame is localCheckpoint-ed instead of persisted.
_STAR_CHECKPOINT_EVERY = 2


def _star_round(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One large-star + small-star round over a canonical (x<y,
    distinct) edge frame.  Returns (stats, small):

    - stats: the symmetric edge view with per-node window aggregates
      serving BOTH the convergence probe and the large-star min
      computation -- per node u, its neighborhood min (__mv), degree
      (__n), and whether u ever appears as a child / y side (__ic).
    - small: the next canonical edge set after large-star (neighbors
      above u re-point at u's local min; emitted directly in the
      (child=v, parent=m) orientation small-star consumes, m < v by
      construction, |out| <= 2|edges| so its dedup is elided) followed
      by small-star (u's parents, all < u, re-point at their min; the
      round's single distinct lives here).

    BOTH star passes are WINDOW passes over their own single exchange
    (r16; large-star was a groupBy + join-back until this round): the
    per-node neighborhood min/degree/child-flag ride unbounded window
    aggregates over (partition by u), so the large-star emission
    (rows with v > u -> (v, least(__mv, u))) reads the SAME exchange
    the probe aggregates ride -- the old shape planned a separate
    groupBy exchange PLUS a SortMergeJoin back onto a second
    sym-by-u exchange (predicate pushdown rewrote the join's left
    side, so the two exchanges could never be reused).  A round is
    now 3 shuffles flat (the sym window, the small-star window, the
    canonical distinct), down from 4 + a join -- locked by
    test_plan_shape.  Equivalence: window min/count/max over
    (partition by u) compute exactly the old groupBy aggregates,
    attached to every sym row instead of one row per node; the v > u
    filter then selects the identical (v, m) pairs the join produced.
    At-scale bytes: the old partial-aggregated stats exchange barely
    reduced rows (near-dup graphs have ~2 rows per node, so partials
    ~= rows) and the join's second sym exchange is GONE -- net bytes
    flat-to-lower at every scale.

    Module-level so plan-shape tests can lock the per-round shuffle
    count without running the loop.
    """
    from pyspark.sql import Window

    sym = edges.select(
        F.col("x").alias("u"), F.col("y").alias("v"), F.lit(0).alias("ic")
    ).union(
        edges.select(
            F.col("y").alias("u"), F.col("x").alias("v"), F.lit(1).alias("ic")
        )
    )
    w = Window.partitionBy("u")
    stats = sym.select(
        "u",
        "v",
        F.min("v").over(w).alias("__mv"),
        F.count(F.lit(1)).over(w).alias("__n"),
        F.max("ic").over(w).alias("__ic"),
    )
    oriented = stats.filter(F.col("v") > F.col("u")).select(
        F.col("v").alias("u"), F.least("__mv", F.col("u")).alias("v")
    )
    pre = oriented.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    small = (
        pre.select(
            F.explode(
                F.array(
                    F.struct(F.col("v").alias("p"), F.col("m").alias("q")),
                    F.struct(F.col("u").alias("p"), F.col("m").alias("q")),
                )
            ).alias("e")
        )
        .select(F.col("e.p").alias("u"), F.col("e.q").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .select(F.least("u", "v").alias("x"), F.greatest("u", "v").alias("y"))
        .distinct()
    )
    return stats, small


def duplicate_clusters_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 15,
    materialize: str = "lineage",
) -> DataFrame:
    """Connected components over an undirected duplicate-pair graph:
    the post-pair stage every dedup pipeline runs so that A~B and B~C
    collapse to ONE survivor (pairwise keep-lowest would keep A and B).
    Output: (doc_id, cluster_id) for every node of the pair graph,
    cluster_id = min doc_id of its component -- deterministic, so the
    result is differentially checkable against a recursive-CTE oracle.

    Computed by alternating large-star / small-star (Kiveris et al.,
    'Connected Components in MapReduce and Beyond', SoCC'14 -- a public
    algorithm), which converges in O(log n) ROUNDS rather than
    graph-diameter iterations: min-label propagation moves a label one
    hop per iteration, so a path-shaped component of length d would
    cost d shuffle rounds, while the star operations rewire whole
    neighborhoods onto local minima each round, halving component
    height.  Chain-shaped graphs (transcription drift, shingled chunk
    overlaps, id-remap chains) therefore finish as quickly as shallow
    ones.  Each round is two window passes plus one distinct over the
    EDGE frame only (3 shuffles, r16 -- see `_star_round`); every
    `_STAR_CHECKPOINT_EVERY`-th round's edge frame is localCheckpoint-ed
    to truncate lineage -- without that, each round's plan nests the
    previous one and deep graphs OOM the DRIVER during planning.  (On a
    real cluster with executor loss, substitute a reliable
    `checkpoint()` against the cluster FS.)  The edge frame is 2 longs
    per edge of the PAIR graph, not the corpus.

    large-star(u): for every neighbor v > u, re-point v at
    m = min(N(u) ∪ {u}).  small-star(u): re-point the neighbors ≤ u
    (plus u itself) at their minimum.  Both preserve connectivity;
    alternating them converges to a forest of stars rooted at each
    component's minimum id.

    Convergence is detected by a DETERMINISTIC star-forest probe run
    BEFORE each round (ADVICE r4 d replaced the probabilistic
    (count, xor-fold) signature, whose collision would have silently
    returned wrong clusters; r5 replaced the edge-set equality check,
    which could only detect convergence one full -- and fully shuffled
    -- round after the forest already existed): the answer is
    extractable exactly when the edge set IS a star forest, i.e. no
    node both appears as a child (y side) and carries any second edge.
    Near-dup pair graphs are mostly disjoint pairs/stars already, so
    the common case converges after zero or one round and the probe
    (one window pass over the edge frame) is what makes that cheap.

    Within a round, the large-star stage skips its dedup: its output is
    one (child, parent) row per directed edge, so |large| <= 2|edges|
    regardless of duplicates -- no growth to bound -- and the
    small-star distinct restores the canonical set before the next
    round.  One distinct per round instead of two.

    materialize: "lineage" (default) returns a frame reading the
    persisted star-forest edges -- caches owned by the returned
    lineage, the convention every registered query uses.  "leaf"
    instead eagerly localCheckpoints the RESULT and releases the edge
    cache before returning: for consumers that EMBED the labels in a
    bigger composition (the incremental maintainer, a label store
    write) this keeps downstream plan text flat and leaks nothing when
    the composition drops the frame's lineage.
    """
    if materialize not in ("lineage", "leaf"):
        raise ValueError(f"materialize must be 'lineage' or 'leaf', got {materialize!r}")
    # canonical undirected edge set (x < y), self-loops dropped
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("x"), F.greatest("a", "b").alias("y")
        )
        .distinct()
        .persist()
    )

    converged = False
    # frames from the PREVIOUS round, released only after the current
    # round's probe has materialized the new frontier (unpersisting
    # before materialization would cascade recomputes down the chain)
    to_release: list[DataFrame] = []
    for rnd in range(max_rounds + 1):  # +1: probe after the final build
        # The canonical edge set is a star forest -- i.e. the answer is
        # extractable -- iff no child node carries a second edge (a
        # child with a second edge is either also a root, a 2-hop path,
        # or a doubly-parented node: not converged).  The probe reads
        # the same stats aggregate the round itself needs, so
        # convergence detection adds no shuffle to non-final rounds.
        stats, small = _star_round(edges)
        stats = stats.persist()
        is_forest = stats.filter(
            (F.col("__ic") == 1) & (F.col("__n") >= 2)
        ).isEmpty()
        # INVARIANT (ADVICE r15): to_release is drained ONLY here,
        # strictly after the isEmpty probe above has run a job over
        # `edges` -- which is what materializes a lazy
        # localCheckpoint(eager=False) frontier from the previous
        # round.  The probe may short-circuit (limit-1), but
        # LocalRDDCheckpointData schedules its own job over any
        # partitions the probe skipped, so the checkpoint is complete
        # before the parents below are unpersisted.  Do NOT move this
        # drain above the probe or add an early exit between
        # _star_round() and it: the truncated lineage would silently
        # recompute (or fail) once the parent caches are gone.
        for f in to_release:
            f.unpersist()
        to_release = []
        if is_forest:
            stats.unpersist()
            converged = True
            break
        if rnd == max_rounds:
            stats.unpersist()
            break
        if (rnd + 1) % _STAR_CHECKPOINT_EVERY == 0:
            # lazy (r15): the NEXT round's probe materializes the
            # checkpoint as part of its own job, truncating lineage at
            # the same point without paying a separate barrier job per
            # checkpoint round (the old frames are released only after
            # that probe runs, so nothing recomputes)
            new_edges = small.localCheckpoint(eager=False)
        else:
            new_edges = small.persist()
        to_release = [edges, stats]
        edges = new_edges
    if not converged:
        edges.unpersist()
        raise RuntimeError(
            f"duplicate_clusters_star did not converge within "
            f"max_rounds={max_rounds}; rounds needed is O(log n), so this "
            f"signals a pathological input (or raise max_rounds)"
        )
    # converged: a forest of stars, every edge = (root=x < child=y).
    # The star frame stays persisted and the result reads from it --
    # unpersisting here would force the caller's collect to recompute
    # the whole iteration chain; the frame is 2 longs per edge of the
    # PAIR graph.
    children = edges.select(
        F.col("y").alias("doc_id"), F.col("x").alias("cluster_id")
    )
    roots = edges.select(F.col("x").alias("doc_id")).distinct().withColumn(
        "cluster_id", F.col("doc_id")
    )
    result = children.union(roots)
    if materialize == "leaf":
        result = result.localCheckpoint(eager=True)
        edges.unpersist()
    return result


def duplicate_clusters_incremental(
    batch_pairs: DataFrame,
    prior_labels: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 15,
) -> DataFrame:
    """Incremental connected-component maintenance: fold a BATCH of new
    near-dup edges into an existing clustering WITHOUT re-clustering the
    corpus (VERDICT r6 next-round 4 -- the steady-state ingestion shape:
    appending a day's documents must not re-run star over the full
    historical edge set).

    Input: `batch_pairs` (new edges, batch-batch and batch-corpus) and
    `prior_labels` (doc_id, cluster_id) from a previous full clustering
    (cluster_id = component min, the `duplicate_clusters_star`
    contract).  Output: the same (doc_id, cluster_id) contract over
    prior nodes plus batch nodes, EQUAL to a full re-clustering of
    (prior edges UNION batch edges) -- prior labels preserve exactly
    the connectivity of the old edge set, so contracting each old
    component to its root loses nothing.

    Shape, and why untouched components cost nothing:

    1. touched roots: the big label frame streams past a BROADCAST of
       the batch's node set (semi-join) -- prior_labels is scanned,
       never shuffled, and only the touched rows survive.
    2. contract: each batch edge maps to (root_a, root_b); edges inside
       one existing component collapse to self-loops and drop.  The
       contracted graph is bounded by the BATCH size, independent of
       corpus size.
    3. cluster the contracted graph with the O(log n) star algorithm,
       seeded entirely by roots + fresh nodes -- because every prior
       root is its component's min id, the contracted component min IS
       the merged component's min over all member ids, so labels stay
       bit-identical to a full run.
    4. relabel: prior_labels LEFT-joins the (tiny, broadcast) root ->
       new-root map; untouched components coalesce through unchanged.
       New nodes take their label straight from the contracted result.

    The returned plan shuffles ONLY batch-derived frames (edge/node
    dedup) -- every join against prior_labels is a broadcast, locked by
    tests/test_ext_operators.py::test_incremental_clusters_plan_never_
    shuffles_prior.  Equivalence (component merge, chained merges,
    untouched components, new-node-only components) is pinned by
    test_incremental_clusters_matches_full_recluster.
    """
    # eager leaf, not persist: the canonical batch edges are referenced
    # by the node set, both contract endpoints, and the new-node branch
    # -- as a leaf, downstream plan TEXT stays flat no matter how
    # expensive the pair-generation lineage behind batch_pairs was
    # (same rationale as `touched` below), and the batch is batch-sized
    # by definition
    edges = (
        batch_pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .distinct()
    )
    # Eager localCheckpoint, not persist: `touched` is batch-sized but
    # its LINEAGE contains the whole prior-clustering plan, and it is
    # referenced on both endpoints of every contracted edge -- without
    # truncation the contracted star's plan TEXT nests the prior plan
    # 2^rounds times and the AQE explain-string build alone can OOM the
    # driver (observed in-suite).  The checkpoint leaf also means the
    # prior store is probed exactly once, at construction -- the
    # incremental operator is already actionful (the star loop probes
    # convergence eagerly), so this adds no new execution model.
    touched = (
        prior_labels.join(
            F.broadcast(nodes),
            prior_labels["doc_id"] == nodes["node"],
        )
        .select("node", F.col("cluster_id").alias("root"))
        .localCheckpoint(eager=True)
    )
    lookup = nodes.join(F.broadcast(touched), "node", "left").select(
        "node", F.coalesce("root", "node").alias("root")
    )
    contracted = (
        edges.join(
            F.broadcast(
                lookup.select(
                    F.col("node").alias("a"), F.col("root").alias("ra")
                )
            ),
            "a",
        )
        .join(
            F.broadcast(
                lookup.select(
                    F.col("node").alias("b"), F.col("root").alias("rb")
                )
            ),
            "b",
        )
        .select("ra", "rb")
        .filter(F.col("ra") != F.col("rb"))
    )
    # materialize="leaf": the contracted star's labels enter the final
    # relabel joins as a checkpointed leaf (tiny: touched roots + new
    # nodes), so the returned plan is scan(prior) + two broadcast
    # joins + the edge/node leaves -- and the star's internal edge
    # cache is released instead of riding an embedded lineage
    relabel = duplicate_clusters_star(
        contracted, id_a="ra", id_b="rb", max_rounds=max_rounds,
        materialize="leaf",
    ).select(F.col("doc_id").alias("root"), F.col("cluster_id").alias("new_root"))
    out_prior = prior_labels.join(
        F.broadcast(relabel),
        prior_labels["cluster_id"] == relabel["root"],
        "left",
    ).select(
        "doc_id",
        F.coalesce("new_root", "cluster_id").alias("cluster_id"),
    )
    new_nodes = nodes.join(F.broadcast(touched), "node", "left_anti")
    out_new = new_nodes.join(
        F.broadcast(relabel), new_nodes["node"] == relabel["root"]
    ).select(F.col("node").alias("doc_id"), F.col("new_root").alias("cluster_id"))
    return out_prior.union(out_new)


# ---------------------------------------------------------------------------
# cluster-label store: the materialized prior for incremental maintenance
# ---------------------------------------------------------------------------


def materialize_label_store(
    pairs: DataFrame,
    base_path: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> None:
    """Cluster the pair graph ONCE with `duplicate_clusters_star` and
    write the (doc_id, cluster_id) labels as a versioned parquet store
    -- the materialized prior that incremental maintenance
    (`duplicate_clusters_incremental`) reads in production, instead of
    re-running the full star loop inline per batch (VERDICT r15 item
    4: the registered incremental query recomputed the prior
    clustering inline purely so the oracle could replay it; the
    O(log n)-round star loop over the historical edge set is exactly
    the cost incremental maintenance exists to avoid paying per
    ingest).

    Idempotent: a published store is a no-op (built once per corpus,
    amortized over every batch folded into it -- the
    materialize_ivf_pq_index posture).  Atomicity: the labels are
    staged in a private dir and promoted by versioned.publish, the
    IVF-PQ store's protocol (sinks/versioned.py)."""
    import os

    if versioned.is_published(base_path):
        return
    labels = duplicate_clusters_star(
        pairs, id_a=id_a, id_b=id_b, materialize="leaf"
    )
    staged = versioned.staging_dir(base_path, "build")
    labels.write.mode("overwrite").parquet(os.path.join(staged, "labels"))
    versioned.publish(base_path, staged)


def read_label_store(spark, base_path: str) -> DataFrame:
    """(doc_id, cluster_id) labels from the current published version.
    One pointer read per query -- the same snapshot-isolation contract
    as the IVF+PQ store reader."""
    import os

    return spark.read.parquet(
        os.path.join(versioned.resolve(base_path), "labels")
    )
