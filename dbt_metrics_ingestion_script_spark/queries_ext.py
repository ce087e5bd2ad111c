"""EXT queries: LLM-data-pipeline operators over documents / embeddings /
events (SURVEY.md §2.11), each with a DuckDB oracle where the semantics
are SQL-expressible.

Cross-engine determinism comes from the portable 64-bit hash
(functions/hashing.py): MinHash signatures, LSH buckets, and
fingerprints are bit-identical in Spark and DuckDB, so even the sketch
operators get full differential coverage -- not just rows-only checks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .operators import dedup, multimodal, similarity, text
from .functions.hashing import DUCKDB_HASH31 as _H31_CK
from .registry import register, round_cols
from .sinks import versioned
from .sources.tables import load_table

_H = "('0x' || substr(md5({x}), 1, 15))::BIGINT"

# shared DuckDB CTEs reproducing normalize/tokenize/shingle (n=3)
_SHINGLE_CTE = r"""
WITH docs AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
  FROM documents
), tok AS (
  SELECT doc_id, string_split(norm, ' ') AS toks FROM docs
), sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
              ELSE list_distinct(list_transform(range(1, len(toks) - 1),
                     i -> array_to_string(toks[i:i+2], ' ')))
         END AS shingles
  FROM tok
)
"""


# ---------------------------------------------------------------------------
# X1: exact dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    _SHINGLE_CTE.replace("), tok AS (", """)
, hashed AS (
  SELECT ('0x' || substr(md5(norm), 1, 15))::BIGINT AS content_hash, doc_id
  FROM docs
), tok AS (""")
    + """
    SELECT content_hash, MIN(doc_id) AS doc_id, COUNT(*) AS n_dups
    FROM hashed GROUP BY content_hash
    """,
)
def dedup_exact(spark, sf_dir):
    return dedup.exact_dedup(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# X2: n-gram Jaccard pairs (exact) -- inverted-index self-join
# ---------------------------------------------------------------------------


# Shared inverted-index pair CTE: the DF-capped index mirrors the
# Spark call sites' df_max fan-out bound via the SAME constant
# (dedup.NGRAM_DF_MAX, ADVICE r4 c), so oracle parity holds for ANY
# cap value.  Both the Jaccard and containment oracles select from it,
# exactly as both operators share _ngram_common_counts.
_NGRAM_PAIRS_CTE = (
    _SHINGLE_CTE
    + f"""
    , idx AS (
      SELECT doc_id, n_sh, sh_hash FROM (
        SELECT doc_id, n_sh, sh_hash,
               COUNT(*) OVER (PARTITION BY sh_hash) AS df
        FROM (
          SELECT doc_id, len(shingles) AS n_sh,
                 {_H.format(x='s.sh')} AS sh_hash
          FROM sh, unnest(shingles) AS s(sh)
        )
      ) WHERE df <= {dedup.NGRAM_DF_MAX}
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
      FROM idx a JOIN idx b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )"""
)


@register(
    "dedup_ngram_jaccard_pairs",
    _NGRAM_PAIRS_CTE
    + """
    SELECT id_a, id_b,
           ROUND(n_common / (n_a + n_b - n_common), 6) AS jaccard
    FROM pairs
    WHERE n_common / (n_a + n_b - n_common) >= 0.2
    """,
)
def dedup_ngram_jaccard_pairs(spark, sf_dir):
    df = dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.2,
        df_max=dedup.NGRAM_DF_MAX,
    )
    return round_cols(df, {"jaccard": 6})


_CONTAIN_T = 0.6


@register(
    "dedup_containment_pairs",
    _NGRAM_PAIRS_CTE
    + f"""
    SELECT id_a, id_b,
           CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS contained_id,
           ROUND(n_common / LEAST(n_a, n_b), 6) AS containment
    FROM pairs
    WHERE n_common / LEAST(n_a, n_b) >= {_CONTAIN_T}
    """,
)
def dedup_containment_pairs(spark, sf_dir):
    """Doc-in-doc detection: containment |A∩B|/min(|A|,|B|) finds the
    quotation/wrapper/chunk overlaps Jaccard structurally misses (a
    small doc verbatim inside a big one has J ~ |A|/|B| but C = 1.0).
    Shares the inverted-index core and df-cap with the Jaccard pairs;
    contained_id names the smaller-set doc -- the drop candidate."""
    df = dedup.ngram_containment_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=_CONTAIN_T,
        df_max=dedup.NGRAM_DF_MAX,
    )
    return round_cols(df, {"containment": 6})


# ---------------------------------------------------------------------------
# X2d: duplicate-cluster resolution (connected components over the
# verified near-dup pair graph -- the post-pair stage that collapses
# A~B~C chains onto one survivor)
# ---------------------------------------------------------------------------


# the duplicate-cluster queries' pair graph (n-gram Jaccard >= this) and
# their simulated ingest batch (doc_id % _DUP_BATCH_MOD == 0); the
# label store's path tag reads both, so changing either builds a new
# store instead of serving stale labels
_DUP_PAIR_THRESHOLD = 0.2
_DUP_BATCH_MOD = 7


def _dup_clusters_oracle() -> str:
    """Recursive-CTE min-label propagation over the same
    Jaccard>=_DUP_PAIR_THRESHOLD edge set the pair graph emits;
    converges to cluster_id = component min, exactly what
    `duplicate_clusters_star` computes."""
    edges = (
        _SHINGLE_CTE.replace("WITH docs AS (", "WITH RECURSIVE docs AS (", 1)
        + f"""
    , idx AS (
      SELECT doc_id, n_sh, sh_hash FROM (
        SELECT doc_id, n_sh, sh_hash,
               COUNT(*) OVER (PARTITION BY sh_hash) AS df
        FROM (
          SELECT doc_id, len(shingles) AS n_sh,
                 {_H.format(x='s.sh')} AS sh_hash
          FROM sh, unnest(shingles) AS s(sh)
        )
      ) WHERE df <= {dedup.NGRAM_DF_MAX}
    ), jpairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.n_sh AS n_a, b.n_sh AS n_b, COUNT(*) AS n_common
      FROM idx a JOIN idx b ON a.sh_hash = b.sh_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    ), edges AS (
      SELECT id_a, id_b FROM jpairs
      WHERE n_common / (n_a + n_b - n_common) >= {_DUP_PAIR_THRESHOLD}
    )"""
    )
    return (
        edges
        + """
    , sym AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION SELECT id_b, id_a FROM edges
    ), walk(node, lbl) AS (
      SELECT src, LEAST(src, MIN(dst)) FROM sym GROUP BY src
      UNION
      SELECT s.src, w.lbl FROM sym s JOIN walk w ON s.dst = w.node
      WHERE w.lbl < s.src
    )
    SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node
    """
    )


def _dup_pair_graph(spark, sf_dir):
    return dedup.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=_DUP_PAIR_THRESHOLD,
        df_max=dedup.NGRAM_DF_MAX,
    )


@register("dedup_duplicate_clusters", _dup_clusters_oracle())
def dedup_duplicate_clusters(spark, sf_dir):
    """Connected components over the near-dup pair graph, computed by
    `duplicate_clusters_star`; the recursive-CTE oracle states the
    contract as min-label propagation.

    Scan budget: documents ~rounds x -- O(log n) star rounds over the
    persisted edge frame; audited references are lineage text, the
    runtime scan count is 1.
    """
    return dedup.duplicate_clusters_star(_dup_pair_graph(spark, sf_dir))


@register("dedup_clusters_incremental_vs_corpus", _dup_clusters_oracle())
def dedup_clusters_incremental_vs_corpus(spark, sf_dir):
    """Incremental component maintenance (VERDICT r6 next-round 4): the
    corpus-only pair graph (neither endpoint in the simulated ingest
    batch, doc_id % _DUP_BATCH_MOD == 0) is clustered FIRST --
    standing in for the labels a previous run materialized -- and the
    batch's incident edges are then folded in via
    `duplicate_clusters_incremental`: batch nodes broadcast-probe the
    prior labels, old components contract to their roots, only the
    batch-sized contracted graph re-clusters, and untouched components
    pass through a broadcast relabel join without being shuffled.  The
    oracle is the SAME full recursive-CTE clustering over the whole
    graph -- incremental maintenance must be indistinguishable from a
    from-scratch run."""
    pairs = _dup_pair_graph(spark, sf_dir).persist()
    in_batch_a = F.col("id_a") % _DUP_BATCH_MOD == 0
    in_batch_b = F.col("id_b") % _DUP_BATCH_MOD == 0
    # prior labels as a LEAF: in production they come from a
    # materialized store, not a live lineage -- and the leaf keeps this
    # composed plan flat (the star's own caches are released inside)
    prior = dedup.duplicate_clusters_star(
        pairs.filter(~in_batch_a & ~in_batch_b), materialize="leaf"
    )
    out = dedup.duplicate_clusters_incremental(
        pairs.filter(in_batch_a | in_batch_b), prior
    )
    pairs.unpersist()  # both consumers have materialized their leaves
    return out


def _label_store_path(sf_dir: str) -> str:
    """Deterministic per-corpus scratch location for the cluster-label
    store (the `_ivf_pq_index_path` convention: content fingerprint of
    the source table + the pair-graph parameters, so regenerated
    testdata or changed parameters yield a NEW store instead of
    serving stale labels)."""
    import hashlib
    import os
    import tempfile

    fp = _parquet_fingerprint(os.path.join(sf_dir, "documents.parquet"))
    tag = hashlib.md5(
        f"{os.path.realpath(sf_dir)}|{fp}|t{_DUP_PAIR_THRESHOLD}"
        f"|df{dedup.NGRAM_DF_MAX}|mod{_DUP_BATCH_MOD}".encode()
    ).hexdigest()[:12]
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_label_store_{tag}"
    )


@register("dedup_clusters_incremental_vs_corpus_served", _dup_clusters_oracle())
def dedup_clusters_incremental_vs_corpus_served(spark, sf_dir):
    """`dedup_clusters_incremental_vs_corpus` SERVED FROM A
    MATERIALIZED LABEL STORE (VERDICT r15 item 4): the corpus-only
    clustering -- which the inline variant re-derives with a second
    full star loop purely so the oracle can replay it -- is built once
    by `materialize_label_store` and every serve after that reads the
    published (doc_id, cluster_id) parquet, exactly the ANN-store
    lifecycle posture (`similarity_ivf_pq_batch_topk_served`).  The
    batch's incident edges are still derived inline and folded in via
    `duplicate_clusters_incremental`; output is bit-identical to the
    inline variant (the store holds the same deterministic star-loop
    labels), so the oracle is the same full recursive-CTE clustering.

    Scan budget: documents 1x on the warm-store path (batch pair
    generation only; the prior is a label-store scan, not a star
    loop); the one-time store build adds the corpus-side pair scan.
    The inline variant stays registered as the oracle twin."""
    pairs = _dup_pair_graph(spark, sf_dir)
    in_batch_a = F.col("id_a") % _DUP_BATCH_MOD == 0
    in_batch_b = F.col("id_b") % _DUP_BATCH_MOD == 0
    store = _label_store_path(sf_dir)
    dedup.materialize_label_store(
        pairs.filter(~in_batch_a & ~in_batch_b), store
    )
    prior = dedup.read_label_store(spark, store)
    return dedup.duplicate_clusters_incremental(
        pairs.filter(in_batch_a | in_batch_b), prior
    )


# ---------------------------------------------------------------------------
# X2: MinHash + LSH candidates (bit-identical sketch in both engines)
# ---------------------------------------------------------------------------

_K, _BANDS, _ROWS = 16, 4, 4


def _minhash_oracle() -> str:
    from .functions.hashing import MERSENNE31, duckdb_family_hash

    mins = ", ".join(
        f"list_min(list_transform(hashes, x -> {duckdb_family_hash('x', i)}))"
        for i in range(_K)
    )
    return (
        _SHINGLE_CTE
        + f"""
    , hs AS (
      SELECT doc_id,
             list_transform(shingles,
               s -> {_H.format(x='s')} & {MERSENNE31}) AS hashes
      FROM sh
    ), sig AS (
      SELECT doc_id, [{mins}] AS sig FROM hs
    ), banded AS (
      SELECT doc_id, b.band,
             {_H.format(x="array_to_string(list_transform(sig[b.band * " + str(_ROWS) + " + 1 : b.band * " + str(_ROWS) + " + " + str(_ROWS) + "], x -> x::VARCHAR), ',')")} AS bucket
      FROM sig, unnest(range(0, {_BANDS})) AS b(band)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """
    )


@register("dedup_minhash_lsh_candidates", _minhash_oracle())
def dedup_minhash_lsh_candidates(spark, sf_dir):
    return dedup.minhash_lsh_candidates(
        load_table(spark, sf_dir, "documents"), k=_K, bands=_BANDS
    )


_MH_EVAL_T = 0.5  # exact-Jaccard ground-truth threshold for the eval
# Pinned calibration sample (VERDICT r15 item 5): the eval runs over
# doc_id % 3 == 0 -- a deterministic 1/3 of the corpus, so the exact
# side's inverted-index self-join is ~1/9 the pair volume (124,561 of
# 1,130,536 co-occurrence pairs at sf0.1 measured in-round).  The
# calibration CONTRACT is unchanged: precision/recall of banding vs
# exact Jaccard at the design threshold, both sides over the SAME
# universe with the sample's own df cap -- exactly the "measured on a
# sample offline" posture the operator docstrings promise at 100 TB,
# where the full-corpus exact side is the thing nobody can afford.
_MH_EVAL_SAMPLE_MOD = 3


def _minhash_eval_oracle() -> str:
    cand = _minhash_oracle()
    sql = f"""
    WITH cand AS ({cand}), exact AS (
      {_NGRAM_PAIRS_CTE.lstrip()}
      SELECT id_a, id_b FROM pairs
      WHERE n_common / (n_a + n_b - n_common) >= {_MH_EVAL_T}
    ), joined AS (
      SELECT coalesce(e.id_a, c.id_a) AS id_a,
             e.id_a IS NOT NULL AS is_exact,
             c.id_a IS NOT NULL AS is_cand
      FROM exact e FULL JOIN cand c
        ON e.id_a = c.id_a AND e.id_b = c.id_b
    )
    SELECT {_MH_EVAL_T}::DOUBLE AS threshold,
           CAST(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT)
             AS n_candidates,
           CAST(SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END)
                AS BIGINT) AS n_hits,
           ROUND(SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END)::DOUBLE
                 / SUM(CASE WHEN is_cand THEN 1 ELSE 0 END), 6) AS precision,
           ROUND(SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END)::DOUBLE
                 / SUM(CASE WHEN is_exact THEN 1 ELSE 0 END), 6) AS recall
    FROM joined
    """
    # both composed CTE chains read `documents` exactly once each (the
    # docs CTE); the pinned sample filter applies to both identically
    return sql.replace(
        "FROM documents",
        f"FROM documents WHERE doc_id % {_MH_EVAL_SAMPLE_MOD} = 0",
    )


@register("dedup_minhash_eval", _minhash_eval_oracle())
def dedup_minhash_eval(spark, sf_dir):
    """Self-evaluating MinHash banding (the text-dedup sibling of
    `similarity_ann_recall`): candidate pairs from the banded LSH join
    measured against the EXACT capped-index Jaccard pairs at the
    banding's design threshold -- one row of
    (n_exact, n_candidates, n_hits, precision, recall), every number
    cross-engine-verified because BOTH sides replay bit-identically.
    This is the offline calibration that licenses running banding
    alone at 100 TB; the exact side (still inverted-index, never
    all-pairs) is the cost you pay once on a sample, not per run.

    r16 (VERDICT r15 item 5): the calibration now RUNS on that sample
    -- a pinned deterministic 1/3 of the corpus (doc_id % 3 == 0,
    `_MH_EVAL_SAMPLE_MOD`), both sides over the same universe with the
    sample's own df cap, oracle filtered identically.  The exact
    side's co-occurrence volume is quadratic in corpus size (1.13 M
    pair rows from 2,000 docs at sf0.1 -- the largest shuffle in the
    bench at 58 MB), so the sample cuts it ~9x while the measured
    quantities keep their meaning: precision/recall of banding vs
    exact Jaccard at the design threshold.

    Scan budget: documents 4x -- deliberate self-verification pair:
    the EXACT capped-index side and the banded side both derive from
    the corpus, which is the point of the calibration.
    """
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") % _MH_EVAL_SAMPLE_MOD == 0
    )
    cand = dedup.minhash_lsh_candidates(docs, k=_K, bands=_BANDS)
    exact = dedup.ngram_jaccard_pairs(
        docs, threshold=_MH_EVAL_T, df_max=dedup.NGRAM_DF_MAX
    ).select("id_a", "id_b")
    joined = exact.withColumn("__e", F.lit(1)).join(
        cand.withColumn("__c", F.lit(1)), ["id_a", "id_b"], "full"
    )
    return joined.agg(
        F.lit(_MH_EVAL_T).alias("threshold"),
        F.count("__e").alias("n_exact"),
        F.count("__c").alias("n_candidates"),
        F.count(F.when(F.col("__e").isNotNull() & F.col("__c").isNotNull(), 1)).alias("n_hits"),
    ).select(
        "threshold",
        "n_exact",
        "n_candidates",
        "n_hits",
        F.round(F.col("n_hits") / F.col("n_candidates"), 6).alias("precision"),
        F.round(F.col("n_hits") / F.col("n_exact"), 6).alias("recall"),
    )


def _simhash_oracle() -> str:
    """Brute-force SimHash oracle.  The Spark plan finds pairs via
    pigeonhole bands, but the banding is an exact cover (hamming <=
    max_hamming implies >= 1 equal band of the max_hamming+1), so the
    output equals all-pairs hamming <= 4 -- which IS SQL-expressible
    with the portable md5 token hash."""
    return (
        r"""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), tok AS (
      SELECT doc_id, unnest(string_split(norm, ' ')) AS tok FROM docs
    ), th AS (
      SELECT doc_id, """
        + _H.format(x="tok")
        + """ AS h FROM tok
    ), bits AS (
      SELECT doc_id, b.b AS b, COUNT(*) AS n, SUM((h >> b.b) & 1) AS ones
      FROM th, unnest(range(0, 64)) AS b(b)
      GROUP BY 1, 2
    ), sig AS (
      SELECT doc_id,
             SUM(CASE WHEN ones * 2 > n THEN
                   CASE WHEN b = 63 THEN -9223372036854775808
                        ELSE (1::BIGINT << b) END
                 ELSE 0 END)::BIGINT AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 4
    """
    )


@register("dedup_simhash_near_pairs", _simhash_oracle())
def dedup_simhash_near_pairs(spark, sf_dir):
    df = dedup.simhash_near_pairs(
        load_table(spark, sf_dir, "documents"), max_hamming=4
    )
    return df.withColumn("hamming", F.col("hamming").cast("int"))


def _minhash_survivors_oracle() -> str:
    """Candidates (bit-identical minhash banding) -> hashed-shingle
    Jaccard verify -> drop higher ids; survivors are the complement."""
    return (
        _minhash_oracle().replace(
            "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b",
            """, cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b""",
        )
        + """
    ), verified AS (
      SELECT c.id_a, c.id_b
      FROM cand c
      JOIN hs ha ON ha.doc_id = c.id_a
      JOIN hs hb ON hb.doc_id = c.id_b
      WHERE len(list_distinct(list_intersect(ha.hashes, hb.hashes)))::DOUBLE
            / len(list_distinct(list_cat(ha.hashes, hb.hashes))) >= 0.8
    )
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE doc_id NOT IN (SELECT DISTINCT id_b FROM verified)
    """
    )


@register("dedup_near_minhash_survivors", _minhash_survivors_oracle())
def dedup_near_minhash_survivors(spark, sf_dir):
    """Scan budget: documents 5x -- signature/banding index derived
    inline plus the survivors anti-join back to the payload;
    production LSH-joins a materialized signature index (1 payload
    scan).
    """
    out = dedup.near_dedup_minhash(
        load_table(spark, sf_dir, "documents"), k=_K, bands=_BANDS, threshold=0.8
    )
    return out.select("doc_id", "lang", "source", "n_chars")


# ---------------------------------------------------------------------------
# X2: embedding-cosine near-dup
# ---------------------------------------------------------------------------

_COS_T = 0.4


@register(
    "dedup_embedding_cosine_pairs",
    f"""
    WITH u AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))) AS unit
      FROM embeddings
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.unit, b.unit), 6) AS cosine_sim
    FROM u a JOIN u b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.unit, b.unit) >= {_COS_T}
    """,
    driver=False,  # O(n^2) verify baseline; LSH survivors is the driver-checked path
)
def dedup_embedding_cosine_pairs(spark, sf_dir):
    df = dedup.embedding_cosine_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=_COS_T
    )
    return round_cols(df, {"cosine_sim": 6})


def _embedding_bucket_cte(n_planes: int = 8, dim: int = 64) -> str:
    """Shared u/bk CTE body: unit vectors + the deterministic
    plan-literal hyperplane signature (same planes the Spark operator
    renders into its plan)."""
    from .operators.similarity import _plane_component

    planes = [
        "[" + ", ".join(repr(_plane_component(p, i)) for i in range(dim)) + "]"
        for p in range(n_planes)
    ]
    bucket = " + ".join(
        f"(CASE WHEN list_dot_product(unit, {planes[p]}) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""u AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))) AS unit
      FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ), bk AS (
      SELECT vec_id, unit, ({bucket})::BIGINT AS bucket FROM u
    )"""


def _embedding_lsh_oracle(n_planes: int = 8, dim: int = 64, probe: int = 2) -> str:
    """The hyperplane signature uses deterministic plan-literal planes,
    and the banded probe is an exact pigeonhole cover of
    hamming <= probe, so survivors are SQL-expressible: drop the higher
    id of every pair with bucket-hamming <= probe and cosine >= t."""
    return f"""
    WITH {_embedding_bucket_cte(n_planes, dim)}, losers AS (
      SELECT DISTINCT b.vec_id
      FROM bk a JOIN bk b ON a.vec_id < b.vec_id
      WHERE bit_count(xor(a.bucket, b.bucket)) <= {probe}
        AND list_dot_product(a.unit, b.unit) >= {_COS_T}
    )
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT vec_id FROM losers)
    """


@register("dedup_embedding_lsh_survivors", _embedding_lsh_oracle())
def dedup_embedding_lsh_survivors(spark, sf_dir):
    """Scan budget: embeddings 5x -- hyperplane signature index derived
    inline plus survivor anti-join; production reads a materialized
    signature index (1 payload scan).
    """
    out = dedup.embedding_near_dedup(
        load_table(spark, sf_dir, "embeddings"), threshold=_COS_T
    )
    return out.select("vec_id", "label")


def _semantic_clusters_oracle(n_planes: int = 8, dim: int = 64, probe: int = 2) -> str:
    """Recursive-CTE min-label propagation over the verified embedding
    near-dup edge set -- the same walk the text-cluster oracles use,
    on edges DuckDB re-derives from the identical plan-literal planes,
    banded probe, and cosine verify."""
    return f"""
    WITH RECURSIVE {_embedding_bucket_cte(n_planes, dim)}, edges AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bk a JOIN bk b ON a.vec_id < b.vec_id
      WHERE bit_count(xor(a.bucket, b.bucket)) <= {probe}
        AND list_dot_product(a.unit, b.unit) >= {_COS_T}
    ), sym AS (
      SELECT id_a AS src, id_b AS dst FROM edges
      UNION SELECT id_b, id_a FROM edges
    ), walk(node, lbl) AS (
      SELECT src, LEAST(src, MIN(dst)) FROM sym GROUP BY src
      UNION
      SELECT s.src, w.lbl FROM sym s JOIN walk w ON s.dst = w.node
      WHERE w.lbl < s.src
    )
    SELECT node AS vec_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node
    """


_EMB_CORPUS_MOD = 3  # vec_id % 3 == 0 plays the already-ingested corpus


def _embedding_vs_corpus_oracle(
    n_planes: int = 8, dim: int = 64, probe: int = 2
) -> str:
    m = _EMB_CORPUS_MOD
    return f"""
    WITH {_embedding_bucket_cte(n_planes, dim)}, hits AS (
      SELECT DISTINCT b.vec_id
      FROM bk b JOIN bk c
        ON b.vec_id % {m} <> 0 AND c.vec_id % {m} = 0
       AND bit_count(xor(b.bucket, c.bucket)) <= {probe}
      WHERE list_dot_product(b.unit, c.unit) >= {_COS_T}
    )
    SELECT vec_id, label FROM embeddings
    WHERE vec_id % {m} <> 0
      AND vec_id NOT IN (SELECT vec_id FROM hits)
    """


@register("dedup_embedding_incremental_vs_corpus", _embedding_vs_corpus_oracle())
def dedup_embedding_incremental_vs_corpus(spark, sf_dir):
    """Incremental SEMANTIC dedup: the new embedding batch LSH-joins
    the corpus's precomputed signature index, cosine-verifies, and
    drops only batch rows -- the embedding sibling of the exact and
    MinHash incremental checks, closing the incremental-ingestion
    family across all three dedup levels.

    Scan budget: embeddings 5x -- the corpus-side signature index is
    derived inline to keep the oracle self-contained; production
    probes the materialized index (batch-sized scans only).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    corpus_side = emb.where(F.col("vec_id") % _EMB_CORPUS_MOD == 0)
    batch = emb.where(F.col("vec_id") % _EMB_CORPUS_MOD != 0)
    return dedup.embedding_dedup_against_corpus(
        batch, corpus_side, threshold=_COS_T
    ).select("vec_id", "label")


def _semantic_survivors_oracle() -> str:
    """Survivors = everything except non-representative cluster members
    (nodes whose component min is some other node)."""
    walk = _semantic_clusters_oracle()
    return (
        walk.rsplit("SELECT node AS vec_id", 1)[0]
        + """
    , drops AS (
      SELECT node FROM walk GROUP BY node HAVING MIN(lbl) <> node
    )
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT node FROM drops)
    """
    )


@register("dedup_semantic_survivors", _semantic_survivors_oracle())
def dedup_semantic_survivors(spark, sf_dir):
    """SemDeDup's output stage: one representative per semantic
    cluster (the component-minimum id), everything unclustered kept.
    Unlike pairwise `dedup_embedding_lsh_survivors` -- which drops the
    higher id of each PAIR and can strand transitive duplicates when
    A~B and B~C but A is not C's pair -- this drops every
    non-representative member of each connected component."""
    emb = load_table(spark, sf_dir, "embeddings")
    clusters = dedup.duplicate_clusters_star(
        dedup.embedding_near_pairs(emb, threshold=_COS_T)
    )
    drops = clusters.where(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias("vec_id")
    )
    return emb.join(drops, "vec_id", "left_anti").select("vec_id", "label")


@register("dedup_semantic_clusters", _semantic_clusters_oracle())
def dedup_semantic_clusters(spark, sf_dir):
    """SemDeDup-style semantic duplicate clusters: verified embedding
    near-dup pairs (LSH candidates + exact cosine verify) resolved
    into connected components by the O(log n)-round star algorithm.
    Collapsing A~B~C cosine chains onto one representative is how
    embedding-level dedup actually ships -- pairwise drops alone leave
    transitive duplicates behind.  Every stage is the scale path:
    banded candidate join, pair-only shuffles, star rounds over the
    edge frame."""
    pairs = dedup.embedding_near_pairs(
        load_table(spark, sf_dir, "embeddings"), threshold=_COS_T
    )
    return dedup.duplicate_clusters_star(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


_CELL_TARGET = 256  # SemDeDup cell-size knob: cells ~constant rows


def _celled_pairs_cte(target_cell: int = _CELL_TARGET, dim: int = 64) -> str:
    """CTE chain replaying embedding_near_pairs_celled: unit vectors,
    the deterministic ivf_index k-means on them (lowest-id seeds with
    adaptive count ceil(n/target_cell), one Lloyd round, argmin
    assignment tie-broken on centroid_id -- the identical arithmetic
    the green similarity_ivf_* oracles replay), then same-cell pairs
    verified by exact cosine.  Yields `pr(id_a, id_b)`."""
    d2 = (
        "list_dot_product("
        "list_transform(range(1, {n} + 1), i -> {a}[i] - {b}[i]), "
        "list_transform(range(1, {n} + 1), i -> {a}[i] - {b}[i]))"
    )
    return f"""e AS (
      SELECT vec_id AS id,
             list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))) AS vec
      FROM embeddings
      WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    ), stat AS (
      SELECT CAST(CEIL(COUNT(*) / {target_cell}.0) AS BIGINT) AS k FROM e
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS centroid_id, vec AS cvec
      FROM (SELECT id, vec, ROW_NUMBER() OVER (ORDER BY id) AS rn FROM e) t,
           stat
      WHERE t.rn <= stat.k
    ), a0 AS (
      SELECT id, vec, centroid_id FROM (
        SELECT e.id, e.vec, s.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.id
                 ORDER BY {d2.format(n=dim, a='e.vec', b='s.cvec')},
                          s.centroid_id
               ) AS rn
        FROM e CROSS JOIN seeds s
      ) WHERE rn = 1
    ), cm AS (
      SELECT centroid_id, i.i AS pos, AVG(a0.vec[i.i]) AS m
      FROM a0, unnest(range(1, {dim} + 1)) AS i(i)
      GROUP BY 1, 2
    ), cent AS (
      SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM cm GROUP BY 1
    ), asg AS (
      SELECT id, vec, centroid_id FROM (
        SELECT e.id, e.vec, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.id
                 ORDER BY {d2.format(n=dim, a='e.vec', b='c.cvec')},
                          c.centroid_id
               ) AS rn
        FROM e CROSS JOIN cent c
      ) WHERE rn = 1
    ), pr AS (
      SELECT a.id AS id_a, b.id AS id_b
      FROM asg a JOIN asg b
        ON a.centroid_id = b.centroid_id AND a.id < b.id
      WHERE list_dot_product(a.vec, b.vec) >= {_COS_T}
    )"""


def _celled_clusters_oracle() -> str:
    return f"""
    WITH RECURSIVE {_celled_pairs_cte()}, sym AS (
      SELECT id_a AS src, id_b AS dst FROM pr
      UNION SELECT id_b, id_a FROM pr
    ), walk(node, lbl) AS (
      SELECT src, LEAST(src, MIN(dst)) FROM sym GROUP BY src
      UNION
      SELECT s.src, w.lbl FROM sym s JOIN walk w ON s.dst = w.node
      WHERE w.lbl < s.src
    )
    SELECT node AS vec_id, MIN(lbl) AS cluster_id FROM walk GROUP BY node
    """


def _celled_survivors_oracle() -> str:
    walk = _celled_clusters_oracle()
    return (
        walk.rsplit("SELECT node AS vec_id", 1)[0]
        + """
    , drops AS (
      SELECT node FROM walk GROUP BY node HAVING MIN(lbl) <> node
    )
    SELECT vec_id, label FROM embeddings
    WHERE vec_id NOT IN (SELECT node FROM drops)
    """
    )


@register("dedup_semantic_clusters_celled", _celled_clusters_oracle())
def dedup_semantic_clusters_celled(spark, sf_dir):
    """SemDeDup as published (Abbas et al. 2023): k-means CELLS bound
    candidate generation, same-cell pairs cosine-verified, components
    by the star algorithm.  This is the ×100-audited scale path for
    semantic dedup: the banded-LSH variant above keeps its oracle and
    its 1×/×10 audit rows, but its fixed (band, key) space makes
    candidates quadratic past ×10 (r15 audit finding -- a ~10^10-row
    candidate distinct at ×100); cells of ~constant size keep pair
    work linear in the corpus at every decade.

    Scan budget: the STATIC plan repeats the embeddings scan O(100)×
    -- the ivf_index lineage (seeds + Lloyd + assignment) is
    re-referenced by the pair self-join and by every star round's
    probe.  Physically it executes ONCE: duplicate_clusters_star
    persists the canonical edge frame before iterating, so rounds
    reuse the materialized edges (the scale audit's executed ×100
    plan shows ckpt leaves, not embeddings rescans)."""
    pairs = dedup.embedding_near_pairs_celled(
        load_table(spark, sf_dir, "embeddings"),
        threshold=_COS_T,
        target_cell=_CELL_TARGET,
    )
    return dedup.duplicate_clusters_star(pairs).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


@register("dedup_semantic_survivors_celled", _celled_survivors_oracle())
def dedup_semantic_survivors_celled(spark, sf_dir):
    """Survivors under the celled SemDeDup rule: one representative
    (component-minimum id) per semantic cluster, everything
    unclustered kept -- `dedup_semantic_survivors` with the
    linear-scale candidate generator.

    Scan budget: static-plan embeddings repetition comes from the
    ivf_index lineage re-referenced per star round (see
    dedup_semantic_clusters_celled); physical execution is one pass
    over the persisted edge frame plus the final anti-join's scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    clusters = dedup.duplicate_clusters_star(
        dedup.embedding_near_pairs_celled(
            emb, threshold=_COS_T, target_cell=_CELL_TARGET
        )
    )
    drops = clusters.where(F.col("cluster_id") != F.col("doc_id")).select(
        F.col("doc_id").alias("vec_id")
    )
    return emb.join(drops, "vec_id", "left_anti").select("vec_id", "label")


# ---------------------------------------------------------------------------
# X3: vector similarity
# ---------------------------------------------------------------------------


def _min_id_query(emb):
    """The demo query vector (lowest vec_id) derived WITHOUT a driver
    action: a broadcast 1-row min-id subquery join, so the registered
    plan is a single job -- no separate collect-scan (VERDICT r1 item 4).
    """
    return emb.join(F.broadcast(emb.agg(F.min("vec_id").alias("vec_id"))), "vec_id")


@register(
    "similarity_cosine_topk",
    """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    )
    SELECT vec_id,
           ROUND(list_dot_product(embedding::DOUBLE[], qv) /
                 (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
                  sqrt(list_dot_product(qv, qv))), 6) AS cosine_sim
    FROM embeddings, q
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
    """,
    driver=False,  # O(n) brute-force baseline; multi/LSH/IVF are the driver rows
)
def similarity_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    query = _min_id_query(emb)
    scored = emb.crossJoin(
        F.broadcast(query.select(similarity.as_double("embedding").alias("__qvec")))
    ).select(
        "vec_id",
        F.round(
            similarity.cosine(similarity.as_double("embedding"), F.col("__qvec")), 6
        ).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(10)


@register(
    "similarity_norm_stats_by_label",
    """
    SELECT label, COUNT(*) AS n,
           ROUND(AVG(norm), 6) AS avg_norm,
           ROUND(MIN(norm), 6) AS min_norm,
           ROUND(MAX(norm), 6) AS max_norm
    FROM (
      SELECT label,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
      FROM embeddings
    ) GROUP BY label
    """,
    driver=False,  # diagnostic stats; X3 driver coverage is the 4 top-k queries
)
def similarity_norm_stats_by_label(spark, sf_dir):
    df = similarity.norm_stats_by_label(load_table(spark, sf_dir, "embeddings"))
    return round_cols(df, {"avg_norm": 6, "min_norm": 6, "max_norm": 6})


def _lsh_topk_oracle(n_planes: int = 8, probe: int = 4, dim: int = 64, k: int = 10) -> str:
    """Full differential oracle for the LSH ANN path: the hyperplanes
    are deterministic plan literals (same trick as
    dedup_embedding_lsh_survivors), so DuckDB recomputes the identical
    bucket signatures, multi-probe filter, and rounded cosine scores."""
    from .operators.similarity import _plane_component

    planes = [
        "[" + ", ".join(repr(_plane_component(p, i)) for i in range(dim)) + "]"
        for p in range(n_planes)
    ]
    bucket = lambda v: " + ".join(  # noqa: E731
        f"(CASE WHEN list_dot_product({v}, {planes[p]}) > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
      SELECT v AS qv FROM e WHERE vec_id = (SELECT min(vec_id) FROM embeddings)
    ), bk AS (
      SELECT vec_id, v, ({bucket('v')})::BIGINT AS bucket FROM e
    ), qb AS (
      SELECT qv, ({bucket('qv')})::BIGINT AS qbucket FROM q
    )
    SELECT vec_id,
           ROUND(list_dot_product(v, qv) /
                 (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
                 6) AS cosine_sim
    FROM bk, qb
    WHERE bit_count(xor(bucket, qbucket)) <= {probe}
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT {k}
    """


@register("similarity_lsh_topk", _lsh_topk_oracle())
def similarity_lsh_topk(spark, sf_dir):
    """Scan budget: embeddings 3x -- signature index + probe + exact re-
    rank derived inline; production serves from a materialized
    signature index (1 scan at query time).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_cosine_topk(
        emb,
        _min_id_query(emb),
        k=10,
        n_planes=8,
        probe_hamming=4,
        round_digits=6,
    )


@register(
    "similarity_multi_query_topk",
    """
    WITH u AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
               x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                              embedding::DOUBLE[]))) AS unit
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, unit AS qunit FROM u
      WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 3)
    ), scored AS (
      SELECT q.query_id, u.vec_id,
             list_dot_product(u.unit, q.qunit) AS cosine_sim
      FROM u CROSS JOIN q
    )
    SELECT query_id, vec_id, ROUND(cosine_sim, 6) AS cosine_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
)
def similarity_multi_query_topk(spark, sf_dir):
    """Batched exact ANN: 3 query vectors ranked against the corpus in
    one scan (W-class ranking window per query key)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # pre-normalize both sides so Spark and DuckDB compute the identical
    # arithmetic (dot of unit vectors)
    unit = emb.select(
        "vec_id",
        similarity.as_double("embedding").alias("v"),
    ).withColumn("norm", similarity.l2_norm(F.col("v"))).select(
        "vec_id", F.transform("v", lambda x: x / F.col("norm")).alias("unit")
    )
    # query set = 3 lowest ids, derived in-plan (limit on a sorted frame)
    # rather than via a collect round-trip
    queries = unit.orderBy("vec_id").limit(3).select(
        F.col("vec_id").alias("query_id"), F.col("unit").alias("embedding")
    )
    corpus = unit.withColumnRenamed("unit", "embedding")
    out = similarity.cosine_topk_multi(corpus, queries, k=5, assume_normalized=True)
    return out.withColumn("cosine_sim", F.round("cosine_sim", 6))


_IVF_D2 = (
    "list_dot_product("
    "list_transform(range(1, {n} + 1), i -> {a}[i] - {b}[i]), "
    "list_transform(range(1, {n} + 1), i -> {a}[i] - {b}[i]))"
)


def _ivf_asg_cte(
    n_centroids: int = 16, dim: int = 64, train_where: str = ""
) -> str:
    """CTE chain replaying the deterministic IVF k-means build through
    the final assignment (seed centroids = lowest-id vectors, one Lloyd
    refinement, argmin tie-broken on centroid_id).  d2 uses the
    identical arithmetic shape as the Spark fold (sequential sum of
    squared per-dimension diffs) so argmin comparisons see the same
    values.  Shared by the IVF top-k oracle and the k-means assignment
    oracle.

    train_where optionally restricts the TRAINING corpus (seeds + Lloyd
    refinement) to a subset of e while the final asg stage still
    assigns every vector -- the incremental-upsert oracle trains on the
    base corpus and assigns base + batch, exactly what
    ivf_pq_index_upsert does with stored centroids."""
    d2 = _IVF_D2
    tw = f" WHERE {train_where}" if train_where else ""
    return f"""
    WITH e AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings
    ), etrain AS (
      SELECT id, vec FROM e{tw}
    ), seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS centroid_id, vec AS cvec
      FROM (SELECT id, vec FROM etrain ORDER BY id LIMIT {n_centroids})
    ), a0 AS (
      SELECT id, vec, centroid_id FROM (
        SELECT e.id, e.vec, s.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.id
                 ORDER BY {d2.format(n=dim, a='e.vec', b='s.cvec')}, s.centroid_id
               ) AS rn
        FROM etrain e CROSS JOIN seeds s
      ) WHERE rn = 1
    ), cm AS (
      SELECT centroid_id, i.i AS pos, AVG(a0.vec[i.i]) AS m
      FROM a0, unnest(range(1, {dim} + 1)) AS i(i)
      GROUP BY 1, 2
    ), cent AS (
      SELECT centroid_id, list(m ORDER BY pos) AS cvec FROM cm GROUP BY 1
    ), asg AS (
      SELECT id, vec, centroid_id FROM (
        SELECT e.id, e.vec, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY e.id
                 ORDER BY {d2.format(n=dim, a='e.vec', b='c.cvec')}, c.centroid_id
               ) AS rn
        FROM e CROSS JOIN cent c
      ) WHERE rn = 1
    )"""


def _ivf_topk_oracle(n_centroids: int = 16, n_probe: int = 4, dim: int = 64, k: int = 10) -> str:
    """Full differential oracle for the IVF ANN path: the shared
    k-means CTE plus query probing and rounded-score top-k."""
    d2 = _IVF_D2
    return (
        _ivf_asg_cte(n_centroids, dim)
        + f"""
    , q AS (
      SELECT vec AS qv FROM e WHERE id = (SELECT min(id) FROM e)
    ), probes AS (
      SELECT c.centroid_id
      FROM cent c, q
      ORDER BY {d2.format(n=dim, a='c.cvec', b='q.qv')}, c.centroid_id
      LIMIT {n_probe}
    )
    SELECT asg.id AS vec_id,
           ROUND(list_dot_product(asg.vec, q.qv) /
                 (sqrt(list_dot_product(asg.vec, asg.vec)) *
                  sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim
    FROM asg JOIN probes USING (centroid_id), q
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT {k}
    """
    )


@register(
    "embeddings_kmeans_assign",
    # the shared CTE already replays the whole deterministic k-means
    # build; the assignment table IS its asg stage
    _ivf_asg_cte()
    + """
    SELECT id AS vec_id, centroid_id FROM asg
    """,
)
def embeddings_kmeans_assign(spark, sf_dir):
    """Deterministic k-means cluster assignments over the embeddings
    table (the IVF index's partitioning function, exposed as a
    first-class clustering query: corpus bucketing by semantic
    neighborhood).

    Scan budget: embeddings 3x -- Lloyd iterations re-reference the
    corpus; at runtime the feature frame is persisted so iterations
    hit cache, and the audited references are lineage text.
    """
    assignments, _ = similarity.ivf_index(
        load_table(spark, sf_dir, "embeddings"), n_centroids=16
    )
    return assignments.select(F.col("id").alias("vec_id"), "centroid_id")


@register("similarity_ivf_topk", _ivf_topk_oracle())
def similarity_ivf_topk(spark, sf_dir):
    """Scan budget: embeddings 9x -- the IVF index (k-means build + list
    assignment) is derived inline so the oracle replays it; production
    probes a materialized index (query-time scans: probed lists only).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        emb,
        _min_id_query(emb),
        k=10,
        n_centroids=16,
        n_probe=4,
        round_digits=6,
    )


def _ann_recall_oracle(
    n_centroids: int = 16, n_probe: int = 4, dim: int = 64, k: int = 10
) -> str:
    """Recall@k oracle: the shared deterministic k-means CTE, the IVF
    probe/top-k, the exact brute-force top-k (both rounding BEFORE the
    limit, same as the Spark side), and the intersection count."""
    d2 = _IVF_D2
    cos = (
        "ROUND(list_dot_product({a}, q.qv) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product(q.qv, q.qv))), 6)"
    )
    return (
        _ivf_asg_cte(n_centroids, dim)
        + f"""
    , q AS (
      SELECT vec AS qv FROM e WHERE id = (SELECT min(id) FROM e)
    ), probes AS (
      SELECT c.centroid_id
      FROM cent c, q
      ORDER BY {d2.format(n=dim, a='c.cvec', b='q.qv')}, c.centroid_id
      LIMIT {n_probe}
    ), ivfk AS (
      SELECT asg.id FROM asg JOIN probes USING (centroid_id), q
      ORDER BY {cos.format(a='asg.vec')} DESC, asg.id ASC
      LIMIT {k}
    ), exactk AS (
      SELECT e.id FROM e, q
      ORDER BY {cos.format(a='e.vec')} DESC, e.id ASC
      LIMIT {k}
    )
    SELECT {k} AS k,
           (SELECT COUNT(*) FROM exactk) AS n_exact,
           COUNT(*) AS n_hits,
           ROUND(COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM exactk), 6)
             AS recall
    FROM exactk JOIN ivfk USING (id)
    """
    )


_CBC_K = 10


@register(
    "corpus_cluster_balanced_cap",
    _ivf_asg_cte()
    + f"""
    SELECT vec_id, centroid_id, d2, rank FROM (
      SELECT asg.id AS vec_id, asg.centroid_id,
             ROUND({_IVF_D2.format(n=64, a='asg.vec', b='c.cvec')}, 6) AS d2,
             ROW_NUMBER() OVER (
               PARTITION BY asg.centroid_id
               ORDER BY ROUND({_IVF_D2.format(n=64, a='asg.vec', b='c.cvec')}, 6)
                        DESC, asg.id ASC
             ) AS rank
      FROM asg JOIN cent c USING (centroid_id)
    ) WHERE rank <= {_CBC_K}
    """,
)
def corpus_cluster_balanced_cap(spark, sf_dir):
    """Semantic-diversity cap (SemDeDup-style keep policy): k-means
    buckets the embedding corpus, and each cluster keeps its
    {_CBC_K} members FARTHEST from the centroid -- dropping redundant
    near-center mass while preserving the diverse tails, the semantic
    twin of the per-source domain cap.  Oracle replays the full
    deterministic k-means build plus the distance-ranked window.

    Scan budget: embeddings 5x -- inline deterministic k-means build +
    distance-ranked cap; production caps against materialized cluster
    assignments (1 scan).
    """
    return similarity.cluster_balanced_cap(
        load_table(spark, sf_dir, "embeddings"),
        k_per_cluster=_CBC_K,
        n_centroids=16,
    )


_PROBE_SWEEP = [1, 2, 4, 8, 16]


def _ann_probe_sweep_oracle() -> str:
    branches = []
    for i, p in enumerate(_PROBE_SWEEP):
        inner = _ann_recall_oracle(n_probe=p)
        head = f"{p} AS n_probe" if i == 0 else str(p)
        branches.append(f"SELECT {head}, t.* FROM ({inner}) t")
    return "\nUNION ALL\n".join(branches)


@register("similarity_ann_probe_sweep", _ann_probe_sweep_oracle())
def similarity_ann_probe_sweep(spark, sf_dir):
    """The IVF TUNING CURVE: recall@10 at every probe count in
    [1, 2, 4, 8, 16] (_PROBE_SWEEP) over the same 16-list index -- the
    offline sweep that picks production n_probe (the recall/cost
    knee).  The last point probes every list, so the curve must END at
    recall 1.0: a built-in sanity the oracle re-verifies branch by
    branch (each probe level replays the full index build + both top-k
    sides in DuckDB).  Monotonicity in n_probe is pinned by pytest.
    At 100 TB this runs on a sampled query set against the
    materialized index; serving never pays the exact side.

    Scan budget: embeddings x0 in the final plan -- query,
    assignments, centroids, and the exact top-k are lazy-checkpointed
    shared frames (plan_audit's ckpt column); the index build, the
    query derivation, and the exact side each run ONCE at checkpoint
    materialization and all 5 probe levels reuse them (VERDICT r10
    item 4; the per-level form audited embeddings x60).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_probe_sweep(
        emb,
        _min_id_query(emb),
        k=10,
        n_centroids=16,
        probe_levels=tuple(_PROBE_SWEEP),
    )


@register("similarity_ann_recall", _ann_recall_oracle())
def similarity_ann_recall(spark, sf_dir):
    """Offline ANN quality evaluation: recall@10 of the IVF index vs
    the exact cosine top-10 for the demo query, computed in one plan
    (exact side scans the corpus once, IVF side probes 4/16 inverted
    lists, both top-k sets intersect via LEFT SEMI).  The oracle
    replays the ENTIRE evaluation -- index build, both top-k selections,
    and the intersection -- so the recall number itself is
    cross-engine-verified, the same self-measuring discipline as the
    HLL error-bound query.

    Scan budget: embeddings 12x -- deliberate self-verification: exact
    brute-force side plus inline IVF build; the offline evaluation you
    pay once on a sample, not per serve.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ann_recall(
        emb, _min_id_query(emb), k=10, n_centroids=16, n_probe=4
    )


# ---------------------------------------------------------------------------
# X4: text analysis
# ---------------------------------------------------------------------------


@register(
    "text_stats",
    r"""
    SELECT doc_id,
           length(text) AS n_chars,
           len(regexp_extract_all(text, '\S+')) AS n_tokens,
           ROUND(length(text) / greatest(len(regexp_extract_all(text, '\S+')), 1), 4) AS avg_token_len,
           ROUND(len(regexp_extract_all(text, '[0-9]')) / greatest(length(text), 1), 4) AS digit_ratio,
           ROUND(len(regexp_extract_all(text, '[.,;:!?''"()\[\]-]')) / greatest(length(text), 1), 4) AS punct_ratio,
           ROUND(len(regexp_extract_all(text, '[A-Z]')) / greatest(length(text), 1), 4) AS upper_ratio,
           ROUND(len(regexp_extract_all(text, ' ')) / greatest(length(text), 1), 4) AS space_ratio
    FROM documents
    """,
)
def text_stats(spark, sf_dir):
    return text.text_stats(load_table(spark, sf_dir, "documents"))


@register(
    "text_token_count_bpe",
    r"""
    SELECT doc_id,
           len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+'))
             AS n_bpe_tokens
    FROM documents
    """,
    driver=False,  # X4 keeps 4 driver slots; BPE counting pytest-differential
)
def text_token_count_bpe(spark, sf_dir):
    return text.token_count_bpe(load_table(spark, sf_dir, "documents"))


def _quality_oracle() -> str:
    stop = ", ".join(f"'{s}'" for s in text.QUALITY_STOPWORDS)
    return rf"""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), t AS (
      SELECT doc_id,
             greatest(len(string_split(norm, ' ')), 1) AS n_tokens,
             len(list_filter(string_split(norm, ' '),
                             x -> list_contains([{stop}], x))) AS n_stop,
             len(regexp_extract_all(norm, '[^A-Za-z0-9 ]')) AS n_symbols,
             length(norm) AS n_len
      FROM docs
    )
    SELECT doc_id,
           ROUND(n_stop / n_tokens, 4) AS stopword_ratio,
           ROUND((n_len - (n_tokens - 1)) / n_tokens, 4) AS mean_word_len,
           ROUND(n_symbols / greatest(n_len, 1), 4) AS symbol_ratio,
           (n_tokens >= 5
            AND (n_len - (n_tokens - 1)) / n_tokens BETWEEN 2.0 AND 12.0
            AND n_stop / n_tokens >= 0.05
            AND n_symbols / greatest(n_len, 1) <= 0.15) AS quality_keep
    FROM t
    """


@register("text_quality_score", _quality_oracle())
def text_quality_score(spark, sf_dir):
    return text.quality_score(load_table(spark, sf_dir, "documents"))


def _repetition_oracle() -> str:
    """Relational mirror of operators/text.py repetition_signals: the
    per-doc gram frequencies come from an unnest + GROUP BY (where the
    Spark side is a per-row sorted-array fold), top grams tie-break
    (count DESC, gram ASC), dup chars sum (count-1)*len over grams
    occurring more than once."""
    top_cols = ",\n           ".join(
        f"CASE WHEN w.nc > 0 THEN ROUND(COALESCE(t{n}.chars, 0)::DOUBLE / w.nc, 6) "
        f"ELSE 0.0 END AS top_{n}gram_char_frac"
        for n in (2, 3, 4)
    )
    dup_cols = ",\n           ".join(
        f"CASE WHEN w.nc > 0 THEN ROUND(COALESCE(d{n}.chars, 0)::DOUBLE / w.nc, 6) "
        f"ELSE 0.0 END AS dup_{n}gram_char_frac"
        for n in (5, 6, 7, 8, 9, 10)
    )
    top_joins = "\n    ".join(
        f"LEFT JOIN topg t{n} ON t{n}.doc_id = d.doc_id AND t{n}.n = {n}"
        for n in (2, 3, 4)
    )
    dup_joins = "\n    ".join(
        f"LEFT JOIN dupg d{n} ON d{n}.doc_id = d.doc_id AND d{n}.n = {n}"
        for n in (5, 6, 7, 8, 9, 10)
    )
    return rf"""
    WITH d AS (
      SELECT doc_id, text,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), lines AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS ln FROM d
    ), ls AS (
      SELECT doc_id, COUNT(*) AS n_lines, COUNT(DISTINCT ln) AS nd,
             SUM(len(ln)) AS tlc
      FROM lines GROUP BY doc_id
    ), dl AS (
      SELECT doc_id, SUM(len(ln)) AS dlc
      FROM (SELECT DISTINCT doc_id, ln FROM lines) GROUP BY doc_id
    ), w AS (
      SELECT doc_id, len(norm) AS nc,
             list_filter(string_split(norm, ' '), x -> x <> '') AS ws
      FROM d
    ), grams AS (
      SELECT w.doc_id, n.n AS n,
             array_to_string(ws[CAST(i.i AS INT) : CAST(i.i + n.n - 1 AS INT)], ' ') AS gram
      FROM w, unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS n(n),
           unnest(range(1, len(ws) - n.n + 2)) AS i(i)
      WHERE len(ws) >= n.n
    ), gcnt AS (
      SELECT doc_id, n, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3
    ), topg AS (
      SELECT doc_id, n, c * len(gram) AS chars FROM (
        SELECT doc_id, n, gram, c,
               ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                  ORDER BY c DESC, gram ASC) AS rn
        FROM gcnt WHERE n IN (2, 3, 4)
      ) WHERE rn = 1
    ), dupg AS (
      SELECT doc_id, n, SUM((c - 1) * len(gram)) AS chars
      FROM gcnt WHERE n IN (5, 6, 7, 8, 9, 10) AND c > 1
      GROUP BY doc_id, n
    )
    SELECT d.doc_id,
           CAST(ls.n_lines AS INT) AS n_lines,
           ROUND((ls.n_lines - ls.nd)::DOUBLE / ls.n_lines, 6)
             AS dup_line_frac,
           CASE WHEN ls.tlc > 0
                THEN ROUND((ls.tlc - dl.dlc)::DOUBLE / ls.tlc, 6)
                ELSE 0.0 END AS dup_line_char_frac,
           {top_cols},
           {dup_cols}
    FROM d
    JOIN ls ON ls.doc_id = d.doc_id
    JOIN dl ON dl.doc_id = d.doc_id
    JOIN w ON w.doc_id = d.doc_id
    {top_joins}
    {dup_joins}
    """


@register("text_repetition_signals", _repetition_oracle())
def text_repetition_signals(spark, sf_dir):
    """Gopher/MassiveText intra-document repetition filters (Rae et
    al. 2021 table A1) as one map-ONLY pass: duplicate-line fraction
    and char fraction, top-{{2,3,4}}-gram char fraction, duplicated
    {{5..10}}-gram char fraction -- the repetition axis the
    length/punct/stopword quality score does not cover.  Zero
    shuffles/joins on the Spark side (per-row sorted-array folds);
    the oracle re-derives every frequency relationally (unnest +
    GROUP BY + rank), so the fold logic is cross-engine-verified."""
    return text.repetition_signals(load_table(spark, sf_dir, "documents"))


def _lang_id_oracle() -> str:
    score = {
        lang: f"len(regexp_extract_all(lower(text), '{pat}'))"
        for lang, pat in text.LANG_MARKERS.items()
    }
    best = "greatest(" + ", ".join(score.values()) + ")"
    whens = "\n           ".join(
        f"WHEN {score[lang]} = best THEN '{lang}'" for lang in text.LANG_MARKERS
    )
    return rf"""
    SELECT doc_id,
           CASE WHEN best = 0 THEN 'und'
           {whens}
           END AS lang_pred
    FROM (SELECT doc_id, text, {best} AS best FROM documents)
    """


@register("text_language_id", _lang_id_oracle())
def text_language_id(spark, sf_dir):
    return text.language_id(load_table(spark, sf_dir, "documents"))


_QF_RULES = ("quality", "dup_line", "top_ngram", "dup_ngram", "pii", "lang")
_QF_SURVIVES = " AND ".join(f"NOT kill_{r}" for r in _QF_RULES)


def _quality_kill_ctes() -> str:
    """The per-document kill-flag CTE chain shared by the report and
    survivors oracles: composes the three component oracles (each
    nested as a derived CTE -- they are already cross-engine-locked
    individually) plus the inline PII counts, mirroring the kill rules
    at the SAME MASSIVETEXT_REP_THRESHOLDS constants."""
    t = text.MASSIVETEXT_REP_THRESHOLDS
    top_kill = " OR ".join(
        f"r.{c} > {t[c]}" for c in t if c.startswith("top_")
    )
    dup_kill = " OR ".join(
        f"r.{c} > {t[c]}" for c in t if c.startswith("dup_") and "gram" in c
    )
    n_pii = " + ".join(
        f"len(regexp_extract_all(text, '{pat}'))"
        for pat in text.PII_PATTERNS.values()
    )
    return f"""
    WITH rep AS ({_repetition_oracle()}),
    qual AS ({_quality_oracle()}),
    lng AS ({_lang_id_oracle()}),
    pii AS (SELECT doc_id, {n_pii} AS n_pii FROM documents),
    kills AS (
      SELECT q.doc_id,
             NOT q.quality_keep AS kill_quality,
             (r.dup_line_frac > {t['dup_line_frac']}
              OR r.dup_line_char_frac > {t['dup_line_char_frac']})
               AS kill_dup_line,
             ({top_kill}) AS kill_top_ngram,
             ({dup_kill}) AS kill_dup_ngram,
             (p.n_pii > 0) AS kill_pii,
             (l.lang_pred = 'und') AS kill_lang
      FROM qual q
      JOIN rep r ON r.doc_id = q.doc_id
      JOIN lng l ON l.doc_id = q.doc_id
      JOIN pii p ON p.doc_id = q.doc_id
    )"""


def _quality_filter_report_oracle() -> str:
    kill_sums = ",\n           ".join(
        f"CAST(SUM(CASE WHEN kill_{r} THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS killed_{r}"
        for r in _QF_RULES
    )
    return (
        _quality_kill_ctes()
        + f"""
    SELECT COUNT(*) AS n_total,
           {kill_sums},
           CAST(SUM(CASE WHEN {_QF_SURVIVES} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_survivors,
           ROUND(SUM(CASE WHEN {_QF_SURVIVES} THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS survivor_frac
    FROM kills
    """
    )


@register("corpus_quality_filter_report", _quality_filter_report_oracle())
def corpus_quality_filter_report(spark, sf_dir):
    """The SHIPPED-pipeline headline: the full Gopher/MassiveText
    quality-filter rule chain the repo implements piecewise (heuristic
    quality bars + line/n-gram repetition family at published table-A1
    thresholds + PII presence + language-ID), applied in ONE documents
    scan, reporting per-rule kill counts (independent -- shows which
    rule does the work) and the survivor fraction (VERDICT r10 item
    5).

    Scan budget: documents x1 -- the component signals chain through
    passthrough projections on the same rows (map-only until the
    single 1-row aggregate; zero joins, zero pre-aggregate shuffles),
    where the naive composition would join 4 separately-scanned signal
    frames.  Plan lock: tests/test_plan_shape.py::
    test_quality_filter_report_single_scan_map_only."""
    return text.quality_filter_report(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "corpus_quality_filter_survivors",
    _quality_kill_ctes()
    + f"""
    SELECT doc_id FROM kills WHERE {_QF_SURVIVES}
    """,
)
def corpus_quality_filter_survivors(spark, sf_dir):
    """The OUTPUT half of the composed quality-filter pipeline: the
    document ids passing EVERY Gopher/MassiveText rule -- the cleaned
    corpus a training pipeline actually materializes, where
    corpus_quality_filter_report is its monitoring sibling.  Zero
    joins, zero shuffles -- not even an aggregate.

    Scan budget: documents x0 in the final plan + 1 lazy-checkpointed
    flag frame (plan_audit's ckpt column; ONE scan at
    materialization).  The checkpoint is an optimizer fence, not a
    luxury: filtering the bare projection lets predicate pushdown
    duplicate the per-rule HOF expression forest into the scan filter
    (tokenize x43 in the plan, ~40x wall-time -- see
    operators/text.py quality_filter_survivors)."""
    return text.quality_filter_survivors(
        load_table(spark, sf_dir, "documents")
    )


@register(
    "text_doc_fingerprint",
    _SHINGLE_CTE.split(", tok AS (")[0]
    + f"""
    SELECT doc_id,
           list_min(list_transform(range(1, greatest(length(norm) - 7, 1) + 1),
             i -> {_H.format(x='substr(norm, i, 8)')})) AS fingerprint
    FROM docs
    """,
)
def text_doc_fingerprint(spark, sf_dir):
    return text.doc_fingerprint(load_table(spark, sf_dir, "documents"))


@register(
    "text_tfidf_top_terms",
    # same normalize/tokenize CTE as the shingle queries; smoothed idf
    # ln((N+1)/(df+1)) + 1, rounded-score ranking with term tie-break so
    # both engines select identical rows
    _SHINGLE_CTE.split(", sh AS (")[0]
    + """
    , terms AS (
      SELECT doc_id, t.term
      FROM tok, unnest(toks) AS t(term)
      WHERE t.term <> ''
    ), tf AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
    ), n AS (
      SELECT COUNT(DISTINCT doc_id) AS n FROM tf
    ), scored AS (
      SELECT doc_id, tf.term,
             ROUND(tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS score
      FROM tf JOIN dfreq USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, score FROM (
      SELECT doc_id, term, score,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term
             ) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def text_tfidf_top_terms(spark, sf_dir):
    return text.tfidf_top_terms(load_table(spark, sf_dir, "documents"), k=5)


@register(
    "text_unigram_logprob",
    # add-one smoothed self-perplexity: integer counts until the final
    # ln(), so the model replays bit-identically
    _SHINGLE_CTE.split(", sh AS (")[0]
    + """
    , terms AS (
      SELECT doc_id, t.term FROM tok, unnest(toks) AS t(term)
      WHERE t.term <> ''
    ), rc AS (
      SELECT term, COUNT(*) AS c FROM terms GROUP BY 1
    ), tot AS (
      SELECT SUM(c) AS n, COUNT(*) AS v FROM rc
    )
    SELECT terms.doc_id, COUNT(*) AS n_tokens,
           ROUND(AVG(ln((rc.c + 1.0) / (tot.n + tot.v + 1.0))), 6)
             AS avg_logprob
    FROM terms JOIN rc USING (term) CROSS JOIN tot
    GROUP BY 1
    """,
)
def text_unigram_logprob(spark, sf_dir):
    """Self-perplexity unigram quality score over the documents corpus
    (reference = the corpus itself; every token is then seen, so the
    left-join unseen branch is exercised by the unit fixture instead).

    Scan budget: documents 3x -- the unigram reference model is the
    corpus itself, derived inline (model + totals + scoring);
    production scores against a materialized model (1 scan).
    """
    return text.unigram_logprob_score(load_table(spark, sf_dir, "documents"))


def _hashed_linear_oracle() -> str:
    from .functions.hashing import MERSENNE31, _family_coeffs
    from .operators.text import HASHED_LINEAR_HALF

    d, seed, thr = _CLS_BUCKETS, _CLS_SEED, _CLS_THRESHOLD
    a, b = _family_coeffs(seed)
    h31 = f"({_H.format(x='x')} & {MERSENNE31})"
    w = f"(({a} * ({h31} % {d}) + {b}) % {MERSENNE31} - {HASHED_LINEAR_HALF})"
    return rf"""
    WITH docs AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')
               AS toks
      FROM documents
    ), folded AS (
      SELECT doc_id, len(toks) AS n_tokens,
             CAST(list_sum(list_transform(toks, x -> {w})) AS BIGINT) AS wsum
      FROM docs
    )
    SELECT doc_id, n_tokens,
           ROUND(wsum::DOUBLE / (n_tokens * {float(HASHED_LINEAR_HALF)}), 6)
             AS score,
           (ROUND(wsum::DOUBLE / (n_tokens * {float(HASHED_LINEAR_HALF)}), 6)
              >= {thr}) AS keep
    FROM folded
    """


_CLS_BUCKETS, _CLS_SEED, _CLS_THRESHOLD = 1024, 0, 0.0


@register("text_quality_classifier", _hashed_linear_oracle())
def text_quality_classifier(spark, sf_dir):
    """Feature-hashing linear classifier score (fastText shape) over
    the documents corpus: token -> bucket -> deterministic zero-mean
    integer weight, folded per doc with an exact int64 F.aggregate --
    ZERO shuffles, runs at scan speed.  The oracle replays bucket ids,
    weights, and the rounded-before-threshold keep decision
    bit-identically."""
    return text.hashed_linear_score(
        load_table(spark, sf_dir, "documents"),
        n_buckets=_CLS_BUCKETS,
        weight_seed=_CLS_SEED,
        threshold=_CLS_THRESHOLD,
    )


# ---------------------------------------------------------------------------
# X5: multimodal + JSON props + events
# ---------------------------------------------------------------------------


# Hopping-window geometry shared by the Spark queries and their DuckDB
# oracles (single source of truth: a drift in either side is impossible
# because both are generated from these pairs).  window must be an
# integer multiple of hop; each non-NULL event then lands in exactly
# window/hop windows whose starts are the hop-aligned trunc of ts minus
# {0, hop, 2*hop, ...} seconds.  Both engines hop from the 1970-01-01
# UTC epoch (Spark TimeWindow operates on raw UTC micros; the session
# timezone is pinned UTC in session.py), so the oracle replays the
# assignment with epoch arithmetic + an offset unnest.
HOPPING_WINDOW_SPECS: dict[str, tuple[int, int]] = {
    "events_hopping_window_agg": (3, 1),  # 3 h window advancing hourly
    "events_hopping_window_agg_daily6h": (24, 6),  # 24 h window, 6 h hop
}


def _hopping_oracle_sql(window_hours: int, hop_hours: int) -> str:
    """Offset-unnest oracle for a hopping-window aggregate.

    `ts IS NOT NULL` mirrors Spark's F.window semantics exactly: Spark
    drops NULL-timestamp rows from windowed aggregation, while DuckDB
    would otherwise emit a NULL-window group counting each NULL-ts
    event window/hop times.
    """
    assert window_hours % hop_hours == 0, "window must be a multiple of hop"
    hop_s = hop_hours * 3600
    offsets = ", ".join(
        str(i * hop_s) for i in range(window_hours // hop_hours)
    )
    return f"""
    SELECT TIMESTAMP '1970-01-01' + INTERVAL (
             (floor(epoch(ts) / {hop_s}) * {hop_s})::BIGINT - i.i
           ) SECOND AS ts,
           event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events, unnest([{offsets}]) AS i(i)
    WHERE ts IS NOT NULL
    GROUP BY 1, 2
    """


def _hopping_window_agg(spark, sf_dir, name: str):
    """Sliding-window (hopping) aggregation -- the batch shape of a
    trailing-window metric.  F.window with a slide < duration emits one
    row per covering window; Catalyst expands it to a projection +
    explode, so the only shuffle is the final aggregation,
    map-side-partial over (window, type)."""
    window_hours, hop_hours = HOPPING_WINDOW_SPECS[name]
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", f"{window_hours} hours", f"{hop_hours} hours").alias(
                "w"
            ),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("ts"), "event_type", "n_events", "total_value"
        )
    )


@register(
    "events_hopping_window_agg",
    _hopping_oracle_sql(*HOPPING_WINDOW_SPECS["events_hopping_window_agg"]),
)
def events_hopping_window_agg(spark, sf_dir):
    return _hopping_window_agg(spark, sf_dir, "events_hopping_window_agg")


@register(
    "events_hopping_window_agg_daily6h",
    _hopping_oracle_sql(
        *HOPPING_WINDOW_SPECS["events_hopping_window_agg_daily6h"]
    ),
)
def events_hopping_window_agg_daily6h(spark, sf_dir):
    """Second slide ratio (24 h window / 6 h hop) over the SAME shared
    geometry table, so the offset unnest and the F.window spec cannot
    drift independently."""
    return _hopping_window_agg(
        spark, sf_dir, "events_hopping_window_agg_daily6h"
    )


@register(
    "events_cohort_retention",
    # relational form: first-event subquery joined to the distinct
    # activity frame (two scans, three shuffles); the Spark side runs
    # the one-scan collect_set formulation
    """
    WITH fw AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cw
      FROM events WHERE ts IS NOT NULL GROUP BY 1
    ), act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w
      FROM events WHERE ts IS NOT NULL
    )
    SELECT CAST(fw.cw AS DATE) AS cohort_week,
           CAST(datediff('day', fw.cw, act.w) / 7 AS INT) AS week_offset,
           COUNT(*) AS n_users
    FROM fw JOIN act USING (user_id)
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark, sf_dir):
    from .operators.sessions import cohort_retention

    return cohort_retention(load_table(spark, sf_dir, "events"))


@register(
    "events_asof_last_order",
    # DuckDB's NATIVE ASOF JOIN is the oracle for the Spark
    # union+window formulation -- two entirely different algorithms,
    # one contract.  The right side is pre-aggregated per
    # (customer, day) so 'the latest row' is unique and deterministic.
    """
    WITH daily AS (
      -- NULL-dated orders can never satisfy ts >= order_ts and are
      -- filtered exactly as the Spark operator filters NULL right_ts
      -- (DuckDB's ASOF would otherwise pair a NULL-ts event with a
      -- NULL-dated order -- an engine quirk, not ASOF semantics)
      SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS last_order_ts,
             COUNT(*) AS last_day_orders,
             ROUND(SUM(o_totalprice), 4) AS last_day_total
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.ts,
           d.last_order_ts, d.last_day_orders, d.last_day_total
    FROM (SELECT * FROM events WHERE ts IS NOT NULL) e
    ASOF LEFT JOIN daily d
      ON e.user_id = d.user_id AND e.ts >= d.last_order_ts
    UNION ALL
    -- a NULL left timestamp satisfies no inequality: NULL fill, the
    -- pandas merge_asof / kdb aj convention the operator implements
    -- (DuckDB's sort-based ASOF would instead pair it with the key's
    -- LATEST row -- an implementation artifact, so it is bypassed)
    SELECT event_id, user_id, ts, NULL, NULL, NULL
    FROM events WHERE ts IS NULL
    """,
)
def events_asof_last_order(spark, sf_dir):
    """Each event joined as-of to the customer's latest prior order-day
    summary (most recent o_orderdate <= event ts)."""
    from .operators.asof import asof_join_backward

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("last_order_ts"),
        )
        .agg(
            F.count("*").alias("last_day_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("last_day_total"),
        )
    )
    return asof_join_backward(
        ev,
        daily,
        on="user_id",
        left_ts="ts",
        right_ts="last_order_ts",
        value_cols=["last_day_orders", "last_day_total"],
    )


@register(
    "events_asof_last_order_bucketed",
    # SAME contract and oracle as events_asof_last_order (DuckDB's
    # native ASOF JOIN), different physical shape: the data window
    # partitions by (key, 90-day bucket) with a per-bucket carry-in, so
    # a hot key's history never lands in one reducer run
    """
    WITH daily AS (
      SELECT o_custkey AS user_id, CAST(o_orderdate AS TIMESTAMP) AS last_order_ts,
             COUNT(*) AS last_day_orders,
             ROUND(SUM(o_totalprice), 4) AS last_day_total
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id, e.ts,
           d.last_order_ts, d.last_day_orders, d.last_day_total
    FROM (SELECT * FROM events WHERE ts IS NOT NULL) e
    ASOF LEFT JOIN daily d
      ON e.user_id = d.user_id AND e.ts >= d.last_order_ts
    UNION ALL
    SELECT event_id, user_id, ts, NULL, NULL, NULL
    FROM events WHERE ts IS NULL
    """,
)
def events_asof_last_order_bucketed(spark, sf_dir):
    """The unbounded-right-history as-of variant (VERDICT r5 item 6):
    per-bucket latest-row summaries carry the cross-bucket dependency
    while the data-sized window partitions by (user, bucket).

    Scan budget: orders 3x -- the per-bucket latest-row summary frame
    (the cross-bucket carrier) is an aggregate of the same scan; the
    stats+apply minimum for the bucketed as-of, plus the summary's own
    1-row derivation.
    """
    from .operators.asof import asof_join_backward_bucketed

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    daily = (
        load_table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").cast("timestamp").alias("last_order_ts"),
        )
        .agg(
            F.count("*").alias("last_day_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("last_day_total"),
        )
    )
    return asof_join_backward_bucketed(
        ev,
        daily,
        on="user_id",
        left_ts="ts",
        right_ts="last_order_ts",
        value_cols=["last_day_orders", "last_day_total"],
        bucket="90 days",
    )


@register(
    "events_funnel_stages",
    # staged min-joins: the relational form of first-touch funnel
    # matching (step i = earliest qualifying event at-or-after step
    # i-1's match); the Spark side computes the same thing in ONE
    # shuffle via a sorted-array state machine
    """
    WITH s0 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY 1
    ), s1 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s0 ON e.user_id = s0.user_id
      WHERE e.event_type = 'click' AND e.ts >= s0.t GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s1.t GROUP BY 1
    )
    SELECT 0 AS stage_idx, 'view' AS stage,
           (SELECT count(*) FROM s0) AS n_users
    UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
    UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)
    """,
)
def events_funnel_stages(spark, sf_dir):
    from .operators.sessions import funnel_stages

    return funnel_stages(load_table(spark, sf_dir, "events"))


@register(
    "embeddings_quantize_int8",
    # the digest column makes the full int8 vector hash-comparable
    # through the scalar-only driver compare; floor(x+0.5) instead of
    # round() because ANSI engines disagree on round-half behavior
    f"""
    WITH q AS (
      SELECT vec_id,
             greatest(CAST(list_max(list_transform(embedding, x -> abs(x)))
                           AS DOUBLE), 1e-12) AS s,
             embedding
      FROM embeddings
    ), qq AS (
      SELECT vec_id, s,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) / s * 127 + 0.5) AS INT)) AS qv
      FROM q
    )
    SELECT vec_id, ROUND(s, 9) AS scale, len(qv) AS n_dims,
           {_H.format(x="array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',')")} AS q_digest
    FROM qq
    """,
)
def embeddings_quantize_int8(spark, sf_dir):
    """Int8 symmetric quantization of the embeddings table, emitted as
    (vec_id, scale, n_dims, q_digest): the digest collapses the
    quantized vector into one portable 64-bit value so the driver's
    scalar hash compare covers every element of every vector."""
    from .functions.hashing import hash64

    q = similarity.quantize_embeddings(load_table(spark, sf_dir, "embeddings"))
    return q.select(
        "vec_id",
        "scale",
        F.size("qvec").alias("n_dims"),
        hash64(
            F.concat_ws(",", F.transform("qvec", lambda x: x.cast("string")))
        ).alias("q_digest"),
    )


@register(
    "multimodal_binary_stats",
    """
    SELECT doc_id AS asset_id,
           CASE WHEN doc_id % 2 = 0 THEN 'image/fake' ELSE 'audio/fake' END
             AS media_type,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_binary_stats(spark, sf_dir):
    assets = multimodal.synth_assets(load_table(spark, sf_dir, "documents"))
    return multimodal.binary_stats(assets)


# The decode step is a deterministic md5-based fake (real codecs are
# stubbed), which makes even the Arrow mapInPandas stages fully
# oracle-checkable: DuckDB recomputes the same digests in SQL, so the
# value hash verifies the Python batch plumbing end to end.
_MEDIA_TYPE_SQL = (
    "CASE WHEN doc_id % 2 = 0 THEN 'image/fake' ELSE 'audio/fake' END"
)


@register(
    "multimodal_feature_extract",
    f"""
    SELECT doc_id AS asset_id,
           {_MEDIA_TYPE_SQL} AS media_type,
           octet_length(encode(text)) AS n_bytes,
           ('0x' || substr(md5(text), 1, 2))::INT AS feat_0,
           ('0x' || substr(md5(text), 3, 2))::INT AS feat_1,
           ('0x' || substr(md5(text), 5, 2))::INT AS feat_2,
           ('0x' || substr(md5(text), 7, 2))::INT AS feat_3
    FROM documents
    """,
)
def multimodal_feature_extract(spark, sf_dir):
    assets = multimodal.synth_assets(load_table(spark, sf_dir, "documents"))
    return multimodal.extract_features(assets)


@register(
    "multimodal_resize",
    f"""
    SELECT doc_id AS asset_id,
           {_MEDIA_TYPE_SQL} AS media_type,
           16 AS width, 16 AS height
    FROM documents
    """,
    driver=False,  # same mapInPandas plumbing as frame_sample, pytest-differential
)
def multimodal_resize(spark, sf_dir):
    assets = multimodal.synth_assets(load_table(spark, sf_dir, "documents"))
    return multimodal.resize_images(assets, width=16, height=16).drop("content")


@register(
    "multimodal_frame_sample",
    """
    SELECT doc_id AS asset_id, CAST(f.f AS INT) AS frame_idx
    FROM documents,
         unnest(range(0, 1 + octet_length(encode(text)) % 5)) AS f(f)
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    assets = multimodal.synth_assets(load_table(spark, sf_dir, "documents"))
    return multimodal.sample_frames(assets, max_frames=5).drop("content")


# the decode-stats oracle replays the deterministic media geometry
# (pixel i = (seed+i) mod 256, sample i = (seed*31+i*7) mod 65536 -
# 32768, seed = id mod 256; JPEG slot 10: two constant gray blocks
# (seed+17b) mod 256, exactly decodable -- see _media_geometry)
# ANALYTICALLY, while the Spark side round-trips genuine
# BMP/PNG/palette-PNG/PPM/GIF/JPEG/WAV bytes through the stdlib codecs
# -- a decode bug (row unflip lost, BGR order wrong header field,
# padding kept, LZW width desync, PLTE misindex, Huffman desync, IDCT
# off-by-one, sample width misread) changes
# width/height/sample_rate/val_sum and breaks the hash.
_MM_DECODE_ORACLE = """
    WITH geo AS (
      SELECT doc_id, doc_id % 256 AS seed, doc_id % 12 AS slot,
             CASE WHEN doc_id % 12 = 10 THEN 9 + (doc_id // 12) % 4
                  ELSE 1 + doc_id % 8 END AS w,
             1 + doc_id % 5 AS h
      FROM documents
    )
    SELECT doc_id AS asset_id,
           CASE WHEN slot = 0 THEN 'image/bmp'
                WHEN slot IN (2, 6) THEN 'image/png'
                WHEN slot = 4 THEN 'image/x-portable-pixmap'
                WHEN slot = 8 THEN 'image/gif'
                WHEN slot = 10 THEN 'image/jpeg'
                ELSE 'audio/wav' END AS media_type,
           CASE WHEN doc_id % 2 = 0 THEN w::INT END AS width,
           CASE WHEN doc_id % 2 = 0 THEN h::INT END AS height,
           CASE WHEN doc_id % 2 = 1 THEN 8000::INT END AS sample_rate,
           CASE WHEN doc_id % 2 = 0 THEN (w * h * 3)::INT
                ELSE (8 + doc_id % 32)::INT END AS n_samples,
           (CASE WHEN slot = 10
                THEN 3 * list_sum(list_transform(range(w * h),
                       i -> (seed + 17 * ((i % w) // 8)) % 256))
                WHEN doc_id % 2 = 0
                THEN list_sum(list_transform(range(w * h * 3),
                       i -> (seed + i) % 256))
                ELSE list_sum(list_transform(range(8 + doc_id % 32),
                       i -> (seed * 31 + i * 7) % 65536 - 32768))
           END)::BIGINT AS val_sum
    FROM geo
    """


@register("multimodal_decode_stats", _MM_DECODE_ORACLE)
def multimodal_decode_stats(spark, sf_dir):
    """REAL media decode end to end: synthesize genuine BMP / truecolor
    PNG / PPM / palette PNG / GIF / baseline JPEG / PCM WAV payloads
    (Arrow mapInPandas), then parse them back with the stdlib codecs
    and aggregate decoded header + payload statistics.  Unlike the
    digest-based fakes, every output value passes through an actual
    binary decode -- the JPEG rows through Huffman + dequant + IDCT
    with DRI restarts cycling through the corpus."""
    assets = multimodal.synth_media_assets(
        load_table(spark, sf_dir, "documents")
    )
    return multimodal.decode_stats(assets)


@register(
    "multimodal_decode_coverage",
    # the coverage oracle replays the fault-injection arithmetic:
    # asset_id % 3 == 2 decodes (checksum = the analytic pixel/sample
    # sums, proving the decode ran), anything else rejects (magic
    # clobber / 60% truncation -- verified to reject for EVERY fixture
    # format).  At crawl scale this is the decoded-vs-rejected
    # fraction per format, measured rather than assumed (VERDICT r14
    # item 7).
    """
    WITH geo AS (
      SELECT doc_id, doc_id % 256 AS seed, doc_id % 12 AS slot,
             CASE WHEN doc_id % 12 = 10 THEN 9 + (doc_id // 12) % 4
                  ELSE 1 + doc_id % 8 END AS w,
             1 + doc_id % 5 AS h
      FROM documents
    ), labeled AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 1 THEN 'audio/wav'
                  WHEN slot = 0 THEN 'image/bmp'
                  WHEN slot IN (2, 6) THEN 'image/png'
                  WHEN slot = 4 THEN 'image/x-portable-pixmap'
                  WHEN slot = 8 THEN 'image/gif'
                  ELSE 'image/jpeg' END AS media_type,
             CASE WHEN doc_id % 3 = 2 THEN 'decoded'
                  ELSE 'rejected' END AS outcome,
             CASE WHEN doc_id % 3 <> 2 THEN NULL
                  WHEN doc_id % 2 = 1
                  THEN list_sum(list_transform(range(8 + doc_id % 32),
                         i -> (seed * 31 + i * 7) % 65536 - 32768))
                  WHEN slot = 10
                  THEN 3 * list_sum(list_transform(range(w * h),
                         i -> (seed + 17 * ((i % w) // 8)) % 256))
                  ELSE list_sum(list_transform(range(w * h * 3),
                         i -> (seed + i) % 256))
             END AS vs
      FROM geo
    )
    SELECT media_type, outcome, COUNT(*) AS n_assets,
           COALESCE(SUM(vs), 0)::BIGINT AS total_val_sum
    FROM labeled GROUP BY media_type, outcome
    """,
)
def multimodal_decode_coverage(spark, sf_dir):
    """Per-format decode/reject telemetry over the real codecs with
    deterministic fault injection (asset_id mod 3: magic clobber /
    60% truncation / intact): emits (media_type, outcome, n_assets,
    total_val_sum) where the checksum over decoded assets proves the
    decodes genuinely ran.  The lane a 100 TB crawl uses to MEASURE
    per-format codec coverage -- progressive-JPEG rejects, truncated
    downloads, mislabeled magic -- instead of assuming it."""
    assets = multimodal.synth_media_assets(
        load_table(spark, sf_dir, "documents")
    )
    cov = multimodal.decode_coverage(
        multimodal.corrupt_media_subset(assets)
    )
    return cov.groupBy("media_type", "outcome").agg(
        F.count("*").alias("n_assets"),
        F.coalesce(F.sum("val_sum"), F.lit(0))
        .cast("bigint")
        .alias("total_val_sum"),
    )


@register(
    "multimodal_phash",
    # the aHash is exact integer arithmetic over the decoded pixels
    # (bit i = gray_i * n > total, no float division), and the fixture
    # pixels are an analytic function of the id -- so DuckDB replays
    # the full fingerprint while Spark computes it from genuinely
    # decoded BMP/PPM bytes; one flipped row or BGR mixup changes bits
    """
    WITH geo AS (
      SELECT doc_id AS asset_id, doc_id % 12 AS slot,
             CASE WHEN doc_id % 12 = 10 THEN 9 + (doc_id // 12) % 4
                  ELSE 1 + doc_id % 8 END AS w,
             (1 + doc_id % 5) AS h,
             doc_id % 256 AS seed
      FROM documents WHERE doc_id % 2 = 0
    ), px AS (
      SELECT asset_id, w, h,
             CASE WHEN slot = 10
                  THEN list_transform(range(w * h),
                         i -> 3 * ((seed + 17 * ((i % w) // 8)) % 256))
                  ELSE list_transform(range(w * h),
                         i -> (seed + 3*i) % 256 + (seed + 3*i + 1) % 256
                              + (seed + 3*i + 2) % 256)
             END AS g
      FROM geo
    ), agg AS (
      SELECT asset_id, w, h, g, list_sum(g) AS total FROM px
    )
    SELECT asset_id, w::INT AS width, h::INT AS height,
           CAST(list_sum(list_transform(range(len(g)),
                  i -> CASE WHEN g[i+1] * (w*h) > total
                            THEN (1::BIGINT << i) ELSE 0 END))
                AS BIGINT) AS phash
    FROM agg
    """,
)
def multimodal_phash(spark, sf_dir):
    """Perceptual image fingerprints (aHash) from REAL decoded pixels:
    the content-defined, format-independent identity image dedup runs
    on (BMP and PPM carrying the same pixels hash identically --
    pytest-locked), computed through the stdlib codecs inside an Arrow
    mapInPandas kernel; audio assets are pruned before the Python
    stage.  Near-dup pairing runs over these hashes with pigeonhole
    banding (`phash_near_pairs`), never all-pairs."""
    assets = multimodal.synth_media_assets(
        load_table(spark, sf_dir, "documents")
    )
    return multimodal.perceptual_hash(assets)


@register(
    "events_json_props_extract",
    """
    SELECT event_id, event_type,
           json_extract_string(props, '$.k')::BIGINT AS prop_k
    FROM events
    """,
)
def events_json_props_extract(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "event_type",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


@register(
    "events_salted_daily_agg",
    # same answer as the plain aggregation -- salting is pure execution
    # strategy, so the oracle is the unsalted SQL
    """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS ts, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def events_salted_daily_agg(spark, sf_dir):
    """Skew-path variant of events_daily_agg: two-phase salted
    aggregation (operators/skew.py) for power-law keys; must produce
    byte-identical results to the direct groupBy."""
    from .operators.skew import salted_agg

    ev = load_table(spark, sf_dir, "events")
    out = salted_agg(
        ev,
        [F.date_trunc("day", "ts").cast("date").alias("ts"), F.col("event_type")],
        {"n_events": ("count", "1"), "total_value": ("sum", "value")},
        salt=16,
    )
    return out.withColumn("total_value", F.round("total_value", 4))


# --- skew demo (bench-only, not driver-registered) -----------------------
#
# A deliberately skewed synthetic: half of all rows share one hot key,
# and the measured aggregate is EXACT count_distinct over a unique value
# column.  bench.py times both paths on the same input; results must be
# identical (asserted in tests/test_skew.py).
#
# Measured finding (kept honest): at local scale the two are at parity,
# BECAUSE Spark's own two-phase distinct rewrite (groupBy(k,v) ->
# groupBy(k) with partial counts) already spreads the hot key's distinct
# set across all partitions -- no single reducer ever sees the raw hot
# rows.  What the bench pair therefore pins is (a) answer equality and
# (b) that the salted plan adds no measurable overhead even at 50% skew,
# i.e. it is safe to apply defensively.  Salting's actual win condition
# -- a hot shuffle partition exceeding one reducer's memory/disk at
# TB-scale, or heavyweight per-group partial state -- cannot manifest in
# a sub-second local run, and a benchmark rigged to pretend otherwise
# would measure the rigging.

_SKEW_REP = 60  # replicate events 60x -> ~6M rows at sf0.1, 50% one key


def _skewed_events(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type")
    rep = spark.range(_SKEW_REP).select(F.col("id").alias("rep"))
    return ev.crossJoin(rep).select(
        F.when(F.col("event_id") % 2 == 0, F.lit("hot"))
        .otherwise(F.col("event_type"))
        .alias("k"),
        (F.col("event_id") * _SKEW_REP + F.col("rep")).alias("v"),
    )


def skew_demo_unsalted(spark, sf_dir):
    return _skewed_events(spark, sf_dir).groupBy("k").agg(
        F.count_distinct("v").alias("n_distinct")
    )


def skew_demo_salted(spark, sf_dir):
    from .operators.skew import salted_agg

    return salted_agg(
        _skewed_events(spark, sf_dir),
        ["k"],
        {"n_distinct": ("count_distinct", "v")},
        salt=32,
        salt_on="v",
    )


# Not driver-registered: its oracle is byte-identical to
# events_salted_daily_agg's (salting is pure execution strategy), so the
# driver row would be redundant; the plain path stays differential-tested
# in tests/test_ext_operators.py and benchmarked as the skew baseline.
EVENTS_DAILY_ORACLE = """
    SELECT CAST(date_trunc('day', ts) AS DATE) AS ts, event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM events GROUP BY 1, 2
    """


def events_daily_agg(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("day", "ts").cast("date").alias("ts"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# W3: gap-based sessionization over events
# ---------------------------------------------------------------------------

_SESSION_GAP_MIN = 30

_SESSION_CTE = f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts, us,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > {_SESSION_GAP_MIN * 60 * 1_000_000}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), idx AS (
      SELECT user_id, ts, us,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM flagged
    )"""


@register(
    "events_range_join_sessions",
    # point-in-interval membership recomputed relationally (BETWEEN
    # join against the session bounds); the Spark side runs the
    # bucketized range join, so the bucketization is verified against
    # the direct interval predicate
    _SESSION_CTE
    + """
    , sess AS (
      SELECT user_id, session_idx,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM idx GROUP BY 1, 2
    )
    SELECT ev.event_id, ev.user_id, ev.ts, s.session_idx
    FROM events ev JOIN sess s
      ON ev.user_id = s.user_id
     AND ev.ts BETWEEN s.session_start AND s.session_end
    """,
)
def events_range_join_sessions(spark, sf_dir):
    """Every event matched to its enclosing session interval via the
    bucketized range join; gap-based sessions are disjoint per user, so
    each event lands in exactly one interval (row count == event
    count, which the oracle comparison enforces)."""
    from .operators.ranges import range_join_points
    from .operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, gap_minutes=_SESSION_GAP_MIN).select(
        "user_id", "session_idx", "session_start", "session_end"
    )
    return range_join_points(
        ev.select("event_id", "user_id", "ts"),
        sess,
        on="user_id",
        point_ts="ts",
        start_col="session_start",
        end_col="session_end",
        bucket_minutes=60,
    ).select("event_id", "user_id", "ts", "session_idx")


_INCIDENT_HALF_MIN = 5


@register(
    "events_incident_overlap_sessions",
    # the textbook interval-interval theta join; the Spark side runs
    # the bucketized canonical-bucket form, so bucketization AND the
    # one-replica-per-pair dedup guarantee are verified against the
    # direct overlap predicate
    _SESSION_CTE
    + f"""
    , sess AS (
      SELECT user_id, session_idx,
             MIN(ts) AS session_start, MAX(ts) AS session_end
      FROM idx GROUP BY 1, 2
    ), incidents AS (
      SELECT event_id AS incident_id,
             ts - INTERVAL {_INCIDENT_HALF_MIN} MINUTE AS incident_start,
             ts + INTERVAL {_INCIDENT_HALF_MIN} MINUTE AS incident_end
      FROM events WHERE event_type = 'error'
    )
    SELECT s.user_id, s.session_idx, s.session_start, i.incident_id,
           LEAST(epoch_us(s.session_end), epoch_us(i.incident_end))
             - GREATEST(epoch_us(s.session_start), epoch_us(i.incident_start))
             AS overlap_us
    FROM sess s JOIN incidents i
      ON s.session_start <= i.incident_end
     AND i.incident_start <= s.session_end
    """,
)
def events_incident_overlap_sessions(spark, sf_dir):
    """UNKEYED interval-interval overlap join: every user session
    paired with every platform incident window (error events +/-
    {_INCIDENT_HALF_MIN} min) whose time ranges intersect -- "which
    sessions ran during an incident", the blameless-postmortem query.
    No key relates a session to an incident, so the equi-join
    machinery has nothing to hash on and the naive plan is a
    CartesianProduct over sessions x incidents.

    The Spark plan is `interval_overlap_join` (operators/ranges.py):
    both interval sets replicate per spanned hour bucket, ONE hash
    join on the bucket id, and each overlapping pair survives only in
    its canonical bucket (the bucket of the later start) -- exactly
    one output row per pair with NO post-join distinct, verified
    against the oracle's direct theta join.  overlap_us is integer-
    microsecond arithmetic on both engines.  Scale note: pair density
    here grows ~quadratically across SFs because the synthetic
    timeline is fixed while both interval sets densify; on a real
    cluster the timeline grows with the data and the bucket join stays
    linear in overlapping pairs.  Ref behavior spec: pure EXT anchor
    (no counterpart in /root/reference)."""
    from .operators.ranges import interval_overlap_join
    from .operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    sess = sessionize(ev, gap_minutes=_SESSION_GAP_MIN).select(
        "user_id", "session_idx", "session_start", "session_end"
    )
    half = f"INTERVAL {_INCIDENT_HALF_MIN} MINUTES"
    incidents = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        (F.col("ts") - F.expr(half)).alias("incident_start"),
        (F.col("ts") + F.expr(half)).alias("incident_end"),
    )
    pairs = interval_overlap_join(
        sess,
        incidents,
        left_start="session_start",
        left_end="session_end",
        right_start="incident_start",
        right_end="incident_end",
        on=None,
        bucket_minutes=60,
    )
    return pairs.select(
        "user_id",
        "session_idx",
        "session_start",
        "incident_id",
        (
            F.least(
                F.unix_micros(F.col("session_end").cast("timestamp")),
                F.unix_micros(F.col("incident_end").cast("timestamp")),
            )
            - F.greatest(
                F.unix_micros(F.col("session_start").cast("timestamp")),
                F.unix_micros(F.col("incident_start").cast("timestamp")),
            )
        ).alias("overlap_us"),
    )


@register(
    "events_sessionization",
    f"""
    WITH e AS (
      SELECT user_id, event_id, ts, epoch_us(ts) AS us FROM events
    ), flagged AS (
      SELECT user_id, event_id, ts, us,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > {_SESSION_GAP_MIN * 60 * 1_000_000}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), idx AS (
      SELECT user_id, ts, us,
             CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM flagged
    )
    SELECT user_id, session_idx, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           MAX(us) - MIN(us) AS duration_us
    FROM idx GROUP BY user_id, session_idx
    """,
)
def events_sessionization(spark, sf_dir):
    """W3: 30-minute-gap sessionization; micro-second integer time
    arithmetic keeps both engines bit-identical at the gap boundary."""
    from .operators.sessions import sessionize

    return sessionize(load_table(spark, sf_dir, "events"), gap_minutes=_SESSION_GAP_MIN)


# ---------------------------------------------------------------------------
# A-class extension: exact percentile metrics (driver=False: the 50
# driver slots carry the reference's calculation methods; percentiles
# are an EXT method, differential-tested in pytest)
# ---------------------------------------------------------------------------


@register(
    "metric_percentile_order_value_month",
    """
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS ts,
           ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50_order_value,
           ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95_order_value
    FROM orders GROUP BY 1
    """,
    driver=False,
)
def metric_percentile_order_value_month(spark, sf_dir):
    """p50/p95 order value per month: Spark's exact `percentile`
    (linear interpolation) matches DuckDB quantile_cont bit-for-bit
    after 4dp rounding.  The 100 TB variant swaps in approx_percentile
    (t-digest, mergeable sketch) exactly like A2's HLL swap."""
    orders = load_table(spark, sf_dir, "orders")
    df = (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("ts")
        )
        .agg(
            F.percentile("o_totalprice", 0.5).alias("p50_order_value"),
            F.percentile("o_totalprice", 0.95).alias("p95_order_value"),
        )
    )
    return round_cols(df, {"p50_order_value": 4, "p95_order_value": 4})


def _pii_oracle() -> str:
    counts = ", ".join(
        f"len(regexp_extract_all(text, '{pat}')) AS n_{name}"
        for name, pat in text.PII_PATTERNS.items()
    )
    red = "text"
    for name, pat in text.PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{name.upper()}>', 'g')"
    return f"""
    SELECT doc_id, {counts},
           {_H.format(x=red)} AS redacted_hash
    FROM documents
    """


@register("text_pii_scrub", _pii_oracle(), driver=False)
def text_pii_scrub(spark, sf_dir):
    """PII hygiene stage: per-doc email/phone/IPv4 counts + digest of
    the redacted text (one codegen projection; pytest-differential)."""
    return text.pii_scrub(load_table(spark, sf_dir, "documents"))


@register(
    "text_repetition_stats",
    r"""
    WITH docs AS (
      SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), tok AS (
      SELECT doc_id, string_split(norm, ' ') AS toks FROM docs
    ), bg AS (
      SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS bg
      FROM tok, unnest(range(1, len(toks))) AS r(i)
      WHERE len(toks) >= 2
    ), per AS (
      SELECT doc_id, bg, COUNT(*) AS n FROM bg GROUP BY 1, 2
    )
    SELECT doc_id,
           ROUND(MAX(n) / SUM(n), 6) AS top_bigram_frac,
           ROUND(COUNT(*) / SUM(n), 6) AS distinct_bigram_ratio
    FROM per GROUP BY doc_id
    """,
    driver=False,  # X4 quality family; pytest-differential
)
def text_repetition_stats(spark, sf_dir):
    """Gopher repetition rules: top-bigram fraction + distinct-bigram
    ratio per document (frequencies, so bigrams are NOT deduplicated)."""
    return text.repetition_stats(load_table(spark, sf_dir, "documents"))


_BM25_TERMS = ["hash", "join", "spark"]
_BM25_K, _BM25_K1, _BM25_B = 10, 1.2, 0.75


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in sorted(_BM25_TERMS))
    k1, b = _BM25_K1, _BM25_B
    return rf"""
    WITH docs AS (
      SELECT doc_id, {{norm}} AS norm FROM documents
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
    ), scored AS (
      SELECT w.doc_id,
             ROUND(SUM(
               ln(1 + (s.n_docs - w.df + 0.5) / (w.df + 0.5))
               * (w.tf * ({k1} + 1))
               / (w.tf + {k1} * (1 - {b} + {b} * d.dl / s.avgdl))
             ), 6) AS score
      FROM wdf w JOIN dl d USING (doc_id), stats s
      GROUP BY 1
    )
    SELECT doc_id, score,
           (ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC))::INT AS rank
    FROM scored ORDER BY score DESC, doc_id ASC LIMIT {_BM25_K}
    """.replace("{norm}", "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")


@register("text_bm25_topk", _bm25_oracle())
def text_bm25_topk(spark, sf_dir):
    """BM25 lexical retrieval: top-10 documents for a fixed query-term
    set (the lexical half of a RAG retrieval pipeline; the embedding
    top-k queries are the semantic half).  The explode filters to the
    query's posting lists immediately -- the shuffled frame is
    query-sized, never vocabulary-sized; doc length is a map-side
    projection; N/avgdl ride a 1-row broadcast.

    Scan budget: documents 3x -- posting lists, per-doc length
    projection, and the 1-row N/avgdl totals each reference the
    corpus; stats+apply plus action-free totals (SCALE.md scan-audit
    bucket 4).
    """
    return text.bm25_topk(
        load_table(spark, sf_dir, "documents"),
        _BM25_TERMS,
        k=_BM25_K,
        k1=_BM25_K1,
        b=_BM25_B,
    )


_BPE_K = 50


@register(
    "text_bpe_pair_counts",
    rf"""
    WITH docs AS (
      SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), words AS (
      SELECT w.w AS w FROM docs, unnest(string_split(norm, ' ')) AS w(w)
      WHERE len(w.w) >= 2
    ), wf AS (
      SELECT w, COUNT(*) AS wc FROM words GROUP BY 1
    ), pairs AS (
      SELECT p.pair AS pair, wc
      FROM wf, unnest(list_transform(range(1, len(w)), i -> w[i:i+1])) AS p(pair)
    )
    SELECT pair, CAST(SUM(wc) AS BIGINT) AS pair_count
    FROM pairs GROUP BY 1
    ORDER BY pair_count DESC, pair ASC
    LIMIT {_BPE_K}
    """,
)
def text_bpe_pair_counts(spark, sf_dir):
    """BPE-training pair-count step: top adjacent-character pair
    frequencies weighted by word frequency.  The corpus collapses to
    the word-frequency table BEFORE pair explosion (vocabulary-sized,
    Heaps-sublinear), then one pair rollup + TakeOrdered."""
    return text.bpe_pair_counts(
        load_table(spark, sf_dir, "documents"), top_k=_BPE_K
    )


def _rolling_features_oracle() -> str:
    from .operators.features import DEFAULT_HORIZONS

    # window specs generated from the SAME horizon table the Spark
    # operator uses (the hopping-window shared-geometry discipline:
    # query and oracle cannot drift)
    sels, wins = [], []
    for suffix, span in DEFAULT_HORIZONS:
        wname = f"w_{suffix}"
        sels.append(f"COUNT(*) OVER {wname} AS n_{suffix}")
        sels.append(
            f"ROUND(COALESCE(SUM(value) OVER {wname}, 0.0), 6)"
            f" AS value_{suffix}"
        )
        wins.append(
            f"{wname} AS (PARTITION BY user_id ORDER BY epoch_us(ts)"
            f" RANGE BETWEEN {span} PRECEDING AND 1 PRECEDING)"
        )
    return (
        "SELECT event_id, user_id, ts, "
        + ", ".join(sels)
        + " FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL"
        + " WINDOW "
        + ", ".join(wins)
    )


@register("events_user_rolling_features", _rolling_features_oracle())
def events_user_rolling_features(spark, sf_dir):
    """Feature-store shape: per-event trailing count/value-sum features
    over 1h/24h/7d horizons, point-in-time correct (frames end 1 µs
    before the event, so co-timestamped peers never leak).  All
    horizons share ONE (user, ts-µs) exchange+sort."""
    from .operators.features import rolling_user_features

    return rolling_user_features(load_table(spark, sf_dir, "events"))


def _training_set_oracle() -> str:
    from .operators.features import DEFAULT_HORIZONS

    sels, wins, fcols = [], [], []
    for suffix, span in DEFAULT_HORIZONS:
        wname = f"w_{suffix}"
        sels.append(f"COUNT(*) OVER {wname} AS n_{suffix}")
        sels.append(
            f"ROUND(COALESCE(SUM(value) OVER {wname}, 0.0), 6)"
            f" AS value_{suffix}"
        )
        wins.append(
            f"{wname} AS (PARTITION BY user_id ORDER BY epoch_us(ts)"
            f" RANGE BETWEEN {span} PRECEDING AND 1 PRECEDING)"
        )
        fcols += [f"n_{suffix}", f"value_{suffix}"]
    fmax = ", ".join(f"MAX({c}) AS {c}" for c in fcols)
    fsel = ", ".join(f"f.{c}" for c in fcols)
    # native ASOF JOIN as the oracle for the Spark union+window
    # composition -- same cross-algorithm discipline as the other three
    # as-of strategies.  Labels are purchases, so a co-timestamped
    # feature row ALWAYS exists; its frame ends 1 us before label_ts,
    # which is exactly the no-leakage contract under test.
    return f"""
    WITH feats AS (
      SELECT event_id, user_id, ts, {", ".join(sels)}
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      WINDOW {", ".join(wins)}
    ), per_ts AS (
      SELECT user_id, ts AS feature_ts,
             MAX(event_id) AS feature_event_id, {fmax}
      FROM feats GROUP BY 1, 2
    ), labels AS (
      SELECT event_id AS label_id, user_id, ts AS label_ts,
             value AS label_value
      FROM events
      WHERE event_type = 'purchase'
        AND ts IS NOT NULL AND user_id IS NOT NULL
    )
    SELECT l.user_id, l.label_ts, l.label_id, l.label_value,
           f.feature_ts, f.feature_event_id, {fsel}
    FROM labels l
    ASOF LEFT JOIN per_ts f
      ON l.user_id = f.user_id AND f.feature_ts <= l.label_ts
    """


@register("events_training_set_pit", _training_set_oracle())
def events_training_set_pit(spark, sf_dir):
    """Point-in-time training-set assembly (the feature-store read
    path): purchase events play the labels, each joined as-of backward
    to the user's rolling-feature vector -- features materialized at
    event times, the co-timestamped feature row ending 1 µs before the
    label so the label event never informs its own features."""
    from .operators.features import training_set_point_in_time

    events = load_table(spark, sf_dir, "events")
    labels = events.where(
        (F.col("event_type") == "purchase")
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    ).select(
        F.col("event_id").alias("label_id"),
        "user_id",
        F.col("ts").alias("label_ts"),
        F.col("value").alias("label_value"),
    )
    return training_set_point_in_time(events, labels)


_BPE_MERGES = 8


@register("text_bpe_merges", None, driver=False)
def text_bpe_merges(spark, sf_dir):
    """BPE tokenizer training: the ordered merge-rule list learned by
    `_BPE_MERGES` merge rounds over the word-frequency table
    (iterative, non-SQL-expressible; pytest-differentialed against an
    independent pure-Python BPE reference on the same corpus).

    Trainer: `bpe_train_local` (VERDICT r7 item 3a) -- Spark builds
    the word-frequency table (the only corpus-sized stage, Heaps'-law
    sublinear output), the driver runs the Sennrich merge loop with
    incremental pair-count maintenance, so the job count does not grow
    with the number of merges."""
    return text.bpe_train_local(
        load_table(spark, sf_dir, "documents"), n_merges=_BPE_MERGES
    )


@register("text_bpe_encoded_lengths", None, driver=False)
def text_bpe_encoded_lengths(spark, sf_dir):
    """Train-then-encode: learn `_BPE_MERGES` merges, then report each
    document's sequence length under the trained tokenizer -- the
    number packing/budget/curriculum stages actually consume.
    (Depends on the iterative training output, so non-SQL-expressible;
    pytest-differentialed end to end against the Python trainer +
    encoder.)  r15: trains via the production `bpe_train_local` (see
    text_bpe_merges) -- identical rule list, one corpus-sized job
    instead of ~17."""
    docs = load_table(spark, sf_dir, "documents")
    rules = [
        (r["left"], r["right"])
        for r in text.bpe_train_local(docs, n_merges=_BPE_MERGES)
        .orderBy("rank")
        .collect()
    ]
    return text.bpe_encode_token_counts(docs, rules)


# ---------------------------------------------------------------------------
# unigram-LM tokenizer (SentencePiece-style), VERDICT r8 stretch
# ---------------------------------------------------------------------------

_UNI_VOCAB, _UNI_SEED, _UNI_ROUNDS = 200, 400, 3
_UNI_SEED_TOP = 300

from .operators.text import _UNI_LMAX

_UNI_ALPHA = 0.1  # the trainer's Laplace smoothing (operators/text.py)


def _uni_words_cte() -> str:
    """The trainer's word-frequency table (mirrors _unigram_word_freq:
    keeps single-char words for coverage)."""
    return r"""
    docs AS (
      SELECT trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents
    ), words AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS wc FROM (
        SELECT unnest(string_split(norm, ' ')) AS w FROM docs
      ) t WHERE w <> '' GROUP BY w
    )"""


def _uni_estep_ctes(tag: str, cost_cte: str) -> str:
    """One hard-EM E-step as chained CTEs: {tag}wcand staples each
    (word, end-position) to its max_len candidate-piece costs under
    cost_cte; {tag}vit is the Viterbi DP as a RECURSIVE sliding-window
    CTE (the PageRank/PCA replay discipline applied to a per-row
    recurrence: each iteration advances every word one character,
    carrying the last max_len best states -- (round-9 cumulative cost,
    piece count, max_len - piece_len) minimized lexicographically,
    exactly _uni_viterbi's comparison); {tag}cnt re-aggregates the
    winning segmentations to piece counts."""
    lmax = _UNI_LMAX
    return f"""
    , {tag}wcand AS MATERIALIZED (
      SELECT wp.w, wp.end_i,
             list(c.cost ORDER BY wp.l) AS lcosts,
             list(wp.piece ORDER BY wp.l) AS lpieces
      FROM wp LEFT JOIN {cost_cte} c ON c.piece = wp.piece
      GROUP BY wp.w, wp.end_i
    ), {tag}vit AS (
      SELECT w, wc, 0 AS i,
             [{{'cost': 0.0::DOUBLE, 'np': 0, 'tie': 0,
                'pieces': CAST([] AS VARCHAR[])}}] AS win
      FROM words
      UNION ALL
      SELECT v.w, v.wc, v.i + 1,
             (v.win || [(
               SELECT s FROM (
                 SELECT {{'cost': round(v.win[len(v.win) - CAST(t.l AS INT) + 1].cost
                                        + wc2.lcosts[CAST(t.l AS INT)], 9),
                          'np': v.win[len(v.win) - CAST(t.l AS INT) + 1].np + 1,
                          'tie': {lmax} - CAST(t.l AS INT),
                          'pieces': v.win[len(v.win) - CAST(t.l AS INT) + 1].pieces
                                    || [wc2.lpieces[CAST(t.l AS INT)]]}} AS s
                 FROM unnest(range(1, {lmax} + 1)) AS t(l)
                 WHERE CAST(t.l AS INT) <= len(v.win)
                   AND wc2.lcosts[CAST(t.l AS INT)] IS NOT NULL
               ) tt ORDER BY s.cost, s.np, s.tie LIMIT 1
             )])[greatest(1, len(v.win) + 2 - {lmax}):] AS win
      FROM {tag}vit v JOIN {tag}wcand wc2 ON wc2.w = v.w AND wc2.end_i = v.i + 1
      WHERE v.i < len(v.w)
    ), {tag}cnt AS MATERIALIZED (
      SELECT piece, CAST(SUM(wc) AS BIGINT) AS cnt FROM (
        SELECT wc, unnest(win[len(win)].pieces) AS piece
        FROM {tag}vit WHERE i = len(w)
      ) GROUP BY piece
    )"""


def _uni_norm_ctes(tag: str, vocab_cte: str, cnt_cte: str) -> str:
    """Laplace(alpha) re-normalization of cnt_cte over vocab_cte
    (zero-count pieces keep alpha mass, _uni_normalize's contract) and
    the round-9 negative-log cost table (_uni_cost)."""
    a = _UNI_ALPHA
    return f"""
    , {tag}tot AS (
      SELECT SUM(COALESCE(c.cnt, 0)) AS tot, COUNT(*) AS v
      FROM {vocab_cte} vv LEFT JOIN {cnt_cte} c ON c.piece = vv.piece
    ), {tag}p AS MATERIALIZED (
      SELECT vv.piece,
             (COALESCE(c.cnt, 0) + {a}::DOUBLE) / (t.tot + {a}::DOUBLE * t.v) AS prob
      FROM {vocab_cte} vv
      LEFT JOIN {cnt_cte} c ON c.piece = vv.piece, {tag}tot t
    ), {tag}cost AS MATERIALIZED (
      SELECT piece, round(-ln(prob), 9) AS cost FROM {tag}p
    )"""


def _uni_train_ctes() -> str:
    """The full trainer replay as a reusable CTE chain: substring
    seeding, {_UNI_ROUNDS} hard-EM rounds (each a recursive-CTE
    Viterbi E-step + Laplace M-step), pruning to {_UNI_VOCAB} pieces,
    the final E-step (rfcnt) and final normalization (nfp probs +
    nfcost costs).  Shared by the trainer oracle and the
    encoded-lengths oracle (which appends one more E-step under
    nfcost)."""
    lmax = _UNI_LMAX
    sql = f"""
    WITH RECURSIVE {_uni_words_cte()}
    , wp AS MATERIALIZED (
      SELECT w.w, w.wc, e.e AS end_i, l.l AS l,
             CASE WHEN l.l <= e.e
                  THEN substr(w.w, CAST(e.e - l.l + 1 AS INT), CAST(l.l AS INT))
             END AS piece
      FROM words w,
           unnest(range(1, len(w.w) + 1)) AS e(e),
           unnest(range(1, {lmax} + 1)) AS l(l)
    ), weightt AS MATERIALIZED (
      SELECT piece, CAST(SUM(wc) AS BIGINT) AS cnt
      FROM wp WHERE piece IS NOT NULL GROUP BY piece
    ), vocab0 AS MATERIALIZED (
      SELECT piece FROM weightt WHERE len(piece) = 1
      UNION ALL
      SELECT piece FROM (
        SELECT piece, ROW_NUMBER() OVER (ORDER BY cnt DESC, piece ASC) AS rn
        FROM weightt WHERE len(piece) > 1
      ) WHERE rn <= greatest(0, {_UNI_SEED} - (SELECT COUNT(*) FROM weightt WHERE len(piece) = 1))
    )"""
    sql += _uni_norm_ctes("n0", "vocab0", "weightt")
    prev_cost = "n0cost"
    for r in range(1, _UNI_ROUNDS + 1):
        sql += _uni_estep_ctes(f"r{r}", prev_cost)
        sql += _uni_norm_ctes(f"n{r}", "vocab0", f"r{r}cnt")
        prev_cost = f"n{r}cost"
    last_cnt = f"r{_UNI_ROUNDS}cnt"
    sql += f"""
    , kept AS MATERIALIZED (
      SELECT piece FROM vocab0 WHERE len(piece) = 1
      UNION ALL
      SELECT piece FROM (
        SELECT vv.piece,
               ROW_NUMBER() OVER (ORDER BY COALESCE(c.cnt, 0) DESC, vv.piece ASC) AS rn
        FROM vocab0 vv LEFT JOIN {last_cnt} c ON c.piece = vv.piece
        WHERE len(vv.piece) > 1
      ) WHERE rn <= greatest(0, {_UNI_VOCAB} - (SELECT COUNT(*) FROM vocab0 WHERE len(piece) = 1))
    )"""
    sql += _uni_norm_ctes("nk", "kept", last_cnt)
    sql += _uni_estep_ctes("rf", "nkcost")
    sql += _uni_norm_ctes("nf", "kept", "rfcnt")
    return sql


def _uni_train_oracle() -> str:
    """Full cross-engine replay of unigram_train_local (VERDICT r9
    item 4, the last differential-only family converted to driver
    evidence): the trainer CTE chain plus the emitted
    (rank, piece, n_chars, count, logprob).  Verified equal to the
    Python trainer's exact output -- including the 9-dp logprobs -- at
    development time; the driver re-checks it every round."""
    return _uni_train_ctes() + """
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY COALESCE(fc.cnt, 0) DESC, k.piece ASC) - 1 AS INT) AS rank,
           k.piece,
           CAST(len(k.piece) AS INT) AS n_chars,
           CAST(COALESCE(fc.cnt, 0) AS BIGINT) AS count,
           round(ln(fp.prob), 9) AS logprob
    FROM kept k
    LEFT JOIN rfcnt fc ON fc.piece = k.piece
    JOIN nfp fp ON fp.piece = k.piece
    """


def _uni_encode_oracle() -> str:
    r"""Train-then-ENCODE replay: the trainer chain, one more
    recursive-CTE Viterbi pass under the FINAL cost table (nfcost --
    the encode cost round(-logprob, 9) equals round(-ln p, 9) because
    rounding commutes with negation in both engines), then the
    per-document rollup: every corpus word joins its Viterbi piece
    count and docs aggregate (n_words, n_uni_tokens)."""
    return (
        _uni_train_ctes()
        + _uni_estep_ctes("enc", "nfcost")
        + r"""
    , wtok AS (
      SELECT w, win[len(win)].np AS np FROM encvit WHERE i = len(w)
    ), docw AS (
      SELECT doc_id,
             unnest(list_filter(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
               x -> x <> '')) AS w
      FROM documents
    )
    SELECT dw.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(t.np) AS BIGINT) AS n_uni_tokens
    FROM docw dw JOIN wtok t ON t.w = dw.w
    GROUP BY dw.doc_id
    """
    )


@register(
    "text_unigram_seed_candidates",
    f"""
    WITH docs AS (
      SELECT trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents
    ), words AS (
      SELECT w, COUNT(*) AS wc FROM (
        SELECT unnest(string_split(norm, ' ')) AS w FROM docs
      ) t WHERE w <> '' GROUP BY w
    ), pos AS (
      SELECT w, wc, i.i AS i
      FROM words, unnest(range(1, len(w) + 1)) AS i(i)
    ), subs AS (
      SELECT wc, substr(w, CAST(i AS INT), CAST(l.l AS INT)) AS piece
      FROM pos, unnest(range(1, least(6, len(w) - i + 1) + 1)) AS l(l)
    ), cand AS (
      SELECT piece, CAST(SUM(wc) AS BIGINT) AS weight
      FROM subs GROUP BY piece
    )
    SELECT piece, weight FROM cand
    QUALIFY ROW_NUMBER() OVER (ORDER BY weight DESC, piece ASC)
            <= {_UNI_SEED_TOP}
    """,
)
def text_unigram_seed_candidates(spark, sf_dir):
    """The unigram trainer's seed stage as a first-class query: the
    {_UNI_SEED_TOP} heaviest substring candidates (length 1..6, every
    occurrence weighted by word frequency) -- the frequency-seeded
    vocabulary SentencePiece's trainer starts from.  Fully
    SQL-expressible, so the seed of the (iterative, driver=False)
    EM trainer below is cross-engine-verified."""
    from .operators.text import unigram_seed_candidates

    return unigram_seed_candidates(
        load_table(spark, sf_dir, "documents"), top=_UNI_SEED_TOP
    )


@register("text_unigram_lm_pieces", _uni_train_oracle())
def text_unigram_lm_pieces(spark, sf_dir):
    """Unigram-LM tokenizer training (SentencePiece EM, Kudo 2018):
    the final (rank, piece, count, logprob) vocabulary after
    frequency seeding, {_UNI_ROUNDS} hard-EM rounds, and pruning to
    {_UNI_VOCAB} pieces -- driver-local over the collected
    Heaps-sublinear word-frequency table, the bpe_train_local scale
    path.  Promoted to a FULL cross-engine oracle in round 10 (VERDICT
    r9 item 4): the DuckDB side replays the whole trainer, with each
    Viterbi E-step a RECURSIVE sliding-window CTE (the PageRank/PCA
    iterative-replay discipline) -- so the EM itself, not just the
    seed stage, is driver-verified every round.  The independent
    Python-EM pytest differential (tests/test_unigram_lm.py) stays as
    the third implementation.  (Rounding caveat as documented on
    _uni_viterbi: Python HALF_EVEN vs engine HALF_UP at an exact 1e-10
    half-tie -- measure-zero for log costs, pinned equal here.)"""
    from .operators.text import unigram_train_local

    return unigram_train_local(
        load_table(spark, sf_dir, "documents"),
        vocab_size=_UNI_VOCAB,
        seed_size=_UNI_SEED,
        em_rounds=_UNI_ROUNDS,
    )


@register("text_unigram_lm_encoded_lengths", _uni_encode_oracle())
def text_unigram_lm_encoded_lengths(spark, sf_dir):
    """Train-then-encode under the unigram-LM tokenizer: per-document
    (n_words, n_uni_tokens) with the Viterbi DP as one JVM fold per
    DISTINCT word (the bpe_encode_token_counts shape; no Python in
    the encode path).  Promoted to a FULL oracle in round 10 together
    with the trainer: the DuckDB side replays training AND re-encodes
    every corpus word with one more recursive-CTE Viterbi pass under
    the final cost table, so the per-document lengths -- the number a
    data-mixing budget actually consumes -- are cross-engine-verified
    end to end.  The fold's lengths stay pytest-pinned equal to the
    Python Viterbi on every corpus word as the third implementation."""
    from .operators.text import (
        unigram_encode_token_counts,
        unigram_train_local,
    )

    docs = load_table(spark, sf_dir, "documents")
    arts = [
        (r["piece"], round(-r["logprob"], 9))
        for r in unigram_train_local(
            docs,
            vocab_size=_UNI_VOCAB,
            seed_size=_UNI_SEED,
            em_rounds=_UNI_ROUNDS,
        ).collect()
    ]
    return unigram_encode_token_counts(docs, arts)


def _uni_fertility_oracle() -> str:
    r"""The encode chain rolled up per SOURCE: per-doc
    (n_words, n_uni_tokens) joined back to the documents frame for
    source and normalized char counts, then the mixing-budget
    statistics per source."""
    return (
        _uni_train_ctes()
        + _uni_estep_ctes("enc", "nfcost")
        + r"""
    , wtok AS (
      SELECT w, win[len(win)].np AS np FROM encvit WHERE i = len(w)
    ), dnorm AS (
      SELECT doc_id, source,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), docw AS (
      SELECT doc_id,
             unnest(list_filter(string_split(norm, ' '), x -> x <> '')) AS w
      FROM dnorm
    ), perdoc AS (
      SELECT dw.doc_id, COUNT(*) AS n_words, SUM(t.np) AS n_tok
      FROM docw dw JOIN wtok t ON t.w = dw.w
      GROUP BY dw.doc_id
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(COALESCE(pd.n_words, 0)) AS BIGINT) AS n_words,
           CAST(SUM(COALESCE(pd.n_tok, 0)) AS BIGINT) AS n_uni_tokens,
           CASE WHEN SUM(COALESCE(pd.n_words, 0)) > 0
                THEN ROUND(SUM(COALESCE(pd.n_tok, 0))::DOUBLE
                           / SUM(COALESCE(pd.n_words, 0)), 6)
                ELSE 0.0 END AS fertility,
           CASE WHEN SUM(COALESCE(pd.n_tok, 0)) > 0
                THEN ROUND(SUM(len(d.norm))::DOUBLE
                           / SUM(COALESCE(pd.n_tok, 0)), 6)
                ELSE 0.0 END AS chars_per_token
    FROM dnorm d LEFT JOIN perdoc pd ON pd.doc_id = d.doc_id
    GROUP BY d.source
    """
    )


@register("text_unigram_fertility_by_source", _uni_fertility_oracle())
def text_unigram_fertility_by_source(spark, sf_dir):
    """Tokenizer FERTILITY per source under the trained unigram-LM
    vocabulary: (source, n_docs, n_words, n_uni_tokens, fertility =
    tokens/word, chars_per_token) -- the statistic a data-mixing
    budget is actually denominated in (a source whose text tokenizes
    at 1.8 tokens/word consumes 1.8x the context budget of one at
    1.0), and the standard tokenizer-quality probe across domains.
    Composes the trained tokenizer, the JVM Viterbi encode, and a
    per-source rollup in one plan; the oracle replays training,
    re-encoding, AND the rollup, so the budget numbers are
    cross-engine-verified end to end.

    Documents with zero encodable words still count in n_docs (left
    join; zero token mass).  Denominator guards return 0.0 instead of
    an ANSI divide error.

    Scan budget: documents 3x -- the trainer's word-frequency collect
    (stats), the encode pass, and the source/char-count frame the
    rollup joins; production trains once, stores the tokenizer
    artifact, and pays the encode+rollup scans only."""
    from .operators.text import (
        unigram_encode_token_counts,
        unigram_train_local,
    )
    from .operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    arts = [
        (r["piece"], round(-r["logprob"], 9))
        for r in unigram_train_local(
            docs,
            vocab_size=_UNI_VOCAB,
            seed_size=_UNI_SEED,
            em_rounds=_UNI_ROUNDS,
        ).collect()
    ]
    per_doc = unigram_encode_token_counts(docs, arts)
    base = docs.select(
        "doc_id", "source", F.length(normalize_text("text")).alias("__nc")
    )
    joined = base.join(per_doc, "doc_id", "left")
    words = F.sum(F.coalesce(F.col("n_words"), F.lit(0)))
    toks = F.sum(F.coalesce(F.col("n_uni_tokens"), F.lit(0)))
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        words.alias("n_words"),
        toks.alias("n_uni_tokens"),
        F.when(words > 0, F.round(toks / words, 6))
        .otherwise(F.lit(0.0))
        .alias("fertility"),
        F.when(toks > 0, F.round(F.sum("__nc") / toks, 6))
        .otherwise(F.lit(0.0))
        .alias("chars_per_token"),
    )


_VOCAB_K, _VOCAB_MIN_DF = 100, 2


@register(
    "text_vocab_top_terms",
    # order-insensitive driver compare, but the k-boundary is still
    # deterministic: both engines cut at (n_occurrences desc, term asc)
    _SHINGLE_CTE.split(", sh AS (")[0]
    + f"""
    , terms AS (
      SELECT doc_id, t.term FROM tok, unnest(toks) AS t(term)
      WHERE t.term <> ''
    ), pd AS (
      SELECT doc_id, term, COUNT(*) AS c FROM terms GROUP BY 1, 2
    )
    SELECT term, CAST(SUM(c) AS BIGINT) AS n_occurrences,
           COUNT(*) AS n_docs
    FROM pd GROUP BY term
    HAVING COUNT(*) >= {_VOCAB_MIN_DF}
    ORDER BY n_occurrences DESC, term ASC
    LIMIT {_VOCAB_K}
    """,
)
def text_vocab_top_terms(spark, sf_dir):
    """Global vocabulary heavy hitters (tokenizer-training statistics):
    top-{_VOCAB_K} terms by occurrence count with document frequency;
    distributed top-k via TakeOrderedAndProject, never a full vocabulary
    sort."""
    return text.vocab_top_terms(
        load_table(spark, sf_dir, "documents"), k=_VOCAB_K, min_df=_VOCAB_MIN_DF
    )


_COVERAGE_K = 50


@register(
    "text_vocab_coverage",
    rf"""
    WITH docs AS (
      SELECT source,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), terms AS (
      SELECT source, t.term
      FROM (SELECT source, string_split(norm, ' ') AS toks FROM docs),
           unnest(toks) AS t(term)
      WHERE t.term <> ''
    ), st AS (
      SELECT source, term, COUNT(*) AS c FROM terms GROUP BY 1, 2
    ), tt AS (
      SELECT term, SUM(c) AS ct FROM st GROUP BY 1
    ), vocab AS (
      SELECT term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY ct DESC, term ASC) AS rn
        FROM tt
      ) WHERE rn <= {_COVERAGE_K}
    ), cov AS (
      SELECT s.source, SUM(s.c) AS nc
      FROM st s JOIN vocab USING (term) GROUP BY 1
    ), tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens FROM st GROUP BY 1
    )
    SELECT t.source, t.n_tokens,
           CAST(COALESCE(cov.nc, 0) AS BIGINT) AS n_covered,
           ROUND(COALESCE(cov.nc, 0)::DOUBLE / t.n_tokens, 6) AS coverage
    FROM tot t LEFT JOIN cov ON t.source = cov.source
    """,
)
def text_vocab_coverage(spark, sf_dir):
    """Per-source vocabulary coverage under the global top-{k}
    vocabulary -- the tokenizer-fit statistic (a low-coverage feed
    fragments into byte fallbacks).  Deterministic (count desc, term)
    vocabulary boundary; top-k rides TakeOrderedAndProject + a
    broadcast join, never a full vocabulary sort."""
    return text.vocab_coverage(
        load_table(spark, sf_dir, "documents"), vocab_k=_COVERAGE_K
    )


@register(
    "text_source_term_kl",
    # exact-integer mass functions; only the final sum is rounded, so
    # the oracle replays the divergence to 6 decimals
    r"""
    WITH docs AS (
      SELECT doc_id, source,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), tok AS (
      SELECT doc_id, source, string_split(norm, ' ') AS toks FROM docs
    )
    , terms AS (
      SELECT source, t.term FROM tok, unnest(toks) AS t(term)
      WHERE t.term <> ''
    ), st AS (
      SELECT source, term, COUNT(*) AS cst FROM terms GROUP BY 1, 2
    ), tt AS (
      SELECT term, SUM(cst) AS ct FROM st GROUP BY 1
    ), srct AS (
      SELECT source, SUM(cst) AS cs FROM st GROUP BY 1
    ), tot AS (
      SELECT SUM(ct) AS n FROM tt
    )
    SELECT st.source,
           COUNT(*) AS n_terms,
           CAST(SUM(st.cst) AS BIGINT) AS n_tokens,
           ROUND(SUM((st.cst / srct.cs) *
                     ln((st.cst / srct.cs) / (tt.ct / tot.n))), 6)
             AS kl_divergence
    FROM st
    JOIN tt USING (term)
    JOIN srct USING (source)
    CROSS JOIN tot
    GROUP BY st.source
    """,
)
def text_source_term_kl(spark, sf_dir):
    """Per-source vocabulary-drift monitor: KL(P_source || P_corpus)
    over unigram distributions; flags sources whose term distribution
    diverges (boilerplate farms, wrong-language feeds).

    Scan budget: documents 4x -- per-source and corpus-wide unigram
    distributions plus their totals; both distributions are aggregates
    of one logical scan (stats+apply x2).
    """
    return text.source_term_kl(load_table(spark, sf_dir, "documents"))


_PQ_M, _PQ_CODES, _PQ_DIM = 8, 16, 64


def _pq_cte(
    m: int = _PQ_M,
    n_codes: int = _PQ_CODES,
    dim: int = _PQ_DIM,
    standalone: bool = True,
    prefix: str = "",
    train_where: str = "",
) -> str:
    """CTE chain replaying the deterministic per-subspace PQ codebook
    build (same seed/Lloyd/tie rules as the IVF oracle, applied to
    subvector slices) through the final code assignment.

    train_where restricts codebook TRAINING to a subset of e while the
    final asg stage still encodes every vector (the incremental-upsert
    oracle's contract, see _ivf_asg_cte)."""
    d_sub = dim // m
    d2 = _IVF_D2
    x = prefix
    tw = f" WHERE {train_where}" if train_where else ""
    head = (
        """
    WITH e AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings
    ), """
        if standalone
        else """
    , """
    )
    return head + f"""{x}subs AS (
      SELECT id, j.j AS subspace,
             vec[j.j * {d_sub} + 1 : j.j * {d_sub} + {d_sub}] AS svec
      FROM e, unnest(range({m})) AS j(j)
    ), {x}tsubs AS (
      SELECT * FROM {x}subs{tw}
    ), {x}seeds AS (
      SELECT subspace,
             ROW_NUMBER() OVER (PARTITION BY subspace ORDER BY id) - 1 AS code,
             svec AS cvec
      FROM {x}tsubs
      QUALIFY ROW_NUMBER() OVER (PARTITION BY subspace ORDER BY id) <= {n_codes}
    ), {x}a0 AS (
      SELECT id, subspace, svec, code FROM (
        SELECT s.id, s.subspace, s.svec, c.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.id, s.subspace
                 ORDER BY {d2.format(n=d_sub, a='s.svec', b='c.cvec')}, c.code
               ) AS rn
        FROM {x}tsubs s JOIN {x}seeds c USING (subspace)
      ) WHERE rn = 1
    ), {x}cm AS (
      SELECT subspace, code, i.i AS pos, AVG(svec[i.i]) AS mmean
      FROM {x}a0, unnest(range(1, {d_sub} + 1)) AS i(i)
      GROUP BY 1, 2, 3
    ), {x}books AS (
      SELECT subspace, code, list(mmean ORDER BY pos) AS cvec
      FROM {x}cm GROUP BY 1, 2
    ), {x}asg AS (
      SELECT id, subspace, code FROM (
        SELECT s.id, s.subspace, c.code,
               ROW_NUMBER() OVER (
                 PARTITION BY s.id, s.subspace
                 ORDER BY {d2.format(n=d_sub, a='s.svec', b='c.cvec')}, c.code
               ) AS rn
        FROM {x}subs s JOIN {x}books c USING (subspace)
      ) WHERE rn = 1
    )"""


@register(
    "embeddings_pq_codes",
    _pq_cte()
    + """
    SELECT id AS vec_id, subspace, code FROM asg
    """,
)
def embeddings_pq_codes(spark, sf_dir):
    """Product-quantization encoding: every embedding compressed to
    m=8 codebook ids (one per 8-dim subspace), codebooks learned
    deterministically per subspace in ONE plan (no per-subspace
    driver loop); the oracle replays seeds, Lloyd means, and argmin
    tie-breaks exactly.

    Scan budget: embeddings 3x -- codebook learning (stats) + encoding
    (apply) + seed frame; the stats+apply minimum for a learned
    encoder, production encodes against stored codebooks (1 scan).
    """
    codes, _ = similarity.pq_encode(
        load_table(spark, sf_dir, "embeddings"),
        m=_PQ_M, n_codes=_PQ_CODES, dim=_PQ_DIM,
    )
    return codes.select(F.col("id").alias("vec_id"), "subspace", "code")


def _pq_adc_oracle(k: int = 10) -> str:
    d_sub = _PQ_DIM // _PQ_M
    d2 = _IVF_D2
    return (
        _pq_cte()
        + f"""
    , q AS (
      SELECT vec FROM e WHERE id = (SELECT min(id) FROM e)
    ), qsubs AS (
      SELECT j.j AS subspace,
             vec[j.j * {d_sub} + 1 : j.j * {d_sub} + {d_sub}] AS qsub
      FROM q, unnest(range({_PQ_M})) AS j(j)
    ), dists AS (
      SELECT b.subspace, b.code,
             {d2.format(n=d_sub, a='qs.qsub', b='b.cvec')} AS dd
      FROM books b JOIN qsubs qs USING (subspace)
    )
    SELECT asg.id AS vec_id, ROUND(SUM(dists.dd), 6) AS adc_d2
    FROM asg JOIN dists USING (subspace, code)
    GROUP BY asg.id
    ORDER BY adc_d2 ASC, vec_id ASC
    LIMIT {k}
    """
    )


@register("similarity_pq_adc_topk", _pq_adc_oracle())
def similarity_pq_adc_topk(spark, sf_dir):
    """Asymmetric-distance top-k over PQ codes: query-time work is a
    broadcast of m*n_codes lookup distances against the (id, subspace,
    code) frame -- the original vectors are never touched after
    encoding.

    Scan budget: embeddings 7x -- the PQ index (codebooks + codes) is
    derived inline so the oracle replays the whole path; production
    ADC-serves from materialized codes and never touches vectors.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        emb, _min_id_query(emb), k=10,
        m=_PQ_M, n_codes=_PQ_CODES, dim=_PQ_DIM,
    )


# ---------------------------------------------------------------------------
# composed IVF -> PQ -> exact-rerank serving plan (VERDICT r8 item 5)
# ---------------------------------------------------------------------------

_IVFPQ_SHORTLIST = 50  # 5x k: measured recall parity with the IVF-only path (a 30-row shortlist dropped 2 of the 10 true neighbors at sf0.01)


def _ivf_pq_ctes(
    shortlist: int = _IVFPQ_SHORTLIST, n_probe: int = 4, k: int = 10
) -> str:
    """Composed CTE chain: the shared IVF k-means build, the PQ chain
    under a pq_ prefix (same e base), query probing, candidate cells,
    ADC shortlist (rounded BEFORE the limit), exact cosine re-rank."""
    d2 = _IVF_D2
    d_sub = _PQ_DIM // _PQ_M
    cos = (
        "ROUND(list_dot_product({a}, q.qv) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product(q.qv, q.qv))), 6)"
    )
    return (
        _ivf_asg_cte()
        + _pq_cte(standalone=False, prefix="pq_")
        + f"""
    , q AS (
      SELECT vec AS qv FROM e WHERE id = (SELECT min(id) FROM e)
    ), probes AS (
      SELECT c.centroid_id
      FROM cent c, q
      ORDER BY {d2.format(n=64, a='c.cvec', b='q.qv')}, c.centroid_id
      LIMIT {n_probe}
    ), cand AS (
      SELECT asg.id, asg.vec FROM asg JOIN probes USING (centroid_id)
    ), qsubs AS (
      SELECT j.j AS subspace,
             qv[j.j * {d_sub} + 1 : j.j * {d_sub} + {d_sub}] AS qsub
      FROM q, unnest(range({_PQ_M})) AS j(j)
    ), dists AS (
      SELECT b.subspace, b.code,
             {d2.format(n=d_sub, a='qs.qsub', b='b.cvec')} AS dd
      FROM pq_books b JOIN qsubs qs USING (subspace)
    ), adc AS (
      SELECT c.id, ROUND(SUM(d.dd), 6) AS adc_d2
      FROM cand c
      JOIN pq_asg pa ON pa.id = c.id
      JOIN dists d ON d.subspace = pa.subspace AND d.code = pa.code
      GROUP BY c.id
    ), short AS (
      SELECT id FROM adc ORDER BY adc_d2 ASC, id ASC LIMIT {shortlist}
    ), rer AS (
      SELECT c.id AS vec_id, {cos.format(a='c.vec')} AS cosine_sim
      FROM short JOIN cand c USING (id), q
    )"""
    )


@register(
    "similarity_ivf_pq_topk",
    _ivf_pq_ctes()
    + """
    SELECT vec_id, cosine_sim FROM rer
    ORDER BY cosine_sim DESC, vec_id ASC
    LIMIT 10
    """,
)
def similarity_ivf_pq_topk(spark, sf_dir):
    """The composed IVF->PQ->rerank serving plan (IVFADC, Jegou et al.,
    + exact re-rank): probe 4/16 cells, ADC-rank only the probed
    cells' codes to a 50-row shortlist, exact-cosine re-rank the
    shortlist to the top-10.  Same output contract as
    similarity_ivf_topk, so the two serve interchangeably; the oracle
    replays BOTH index builds, the shortlist, and the re-rank.

    Scan budget: embeddings ~19x (was 23x before the r10 ids-only
    candidate split) -- both indexes (IVF k-means + m per-subspace PQ
    codebooks) are derived inline so the oracle replays the whole
    path; production serves from materialized assignments/codes and
    touches only probed lists + shortlist vectors per query.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_topk(
        emb,
        _min_id_query(emb),
        k=10,
        shortlist=_IVFPQ_SHORTLIST,
        n_centroids=16,
        n_probe=4,
        m=_PQ_M,
        n_codes=_PQ_CODES,
        dim=_PQ_DIM,
        round_digits=6,
    )


@register(
    "similarity_ivf_pq_recall",
    _ivf_pq_ctes()
    + f"""
    , exactk AS (
      SELECT e.id FROM e, q
      ORDER BY ROUND(list_dot_product(e.vec, q.qv) /
                     (sqrt(list_dot_product(e.vec, e.vec)) *
                      sqrt(list_dot_product(q.qv, q.qv))), 6) DESC, e.id ASC
      LIMIT 10
    ), ivfk AS (
      SELECT c.id FROM cand c, q
      ORDER BY ROUND(list_dot_product(c.vec, q.qv) /
                     (sqrt(list_dot_product(c.vec, c.vec)) *
                      sqrt(list_dot_product(q.qv, q.qv))), 6) DESC, c.id ASC
      LIMIT 10
    ), pqk AS (
      SELECT vec_id AS id FROM rer
      ORDER BY cosine_sim DESC, vec_id ASC
      LIMIT 10
    )
    SELECT 'ivf' AS path, 10 AS k,
           (SELECT COUNT(*) FROM exactk) AS n_exact,
           COUNT(*) AS n_hits,
           ROUND(COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM exactk), 6)
             AS recall
    FROM exactk JOIN ivfk USING (id)
    UNION ALL
    SELECT 'ivf_pq' AS path, 10 AS k,
           (SELECT COUNT(*) FROM exactk) AS n_exact,
           COUNT(*) AS n_hits,
           ROUND(COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM exactk), 6)
             AS recall
    FROM exactk JOIN pqk USING (id)
    """,
)
def similarity_ivf_pq_recall(spark, sf_dir):
    """Offline path comparison at EQUAL probe budget: recall@10 of the
    IVF-only path and the composed IVF->PQ->rerank path against the
    same brute-force exact top-10, one row per path -- the ann_recall
    self-evaluation discipline extended to an architecture decision
    (is the PQ compression losing neighbors the cosine-within-cells
    path keeps?).  Pinned >= in pytest: at shortlist 5x k the re-rank
    recovers everything ADC mis-ranks on this corpus, so the composed
    path must not trail the IVF-only path here.

    Scan budget: embeddings x0 in the final plan (query, IVF index,
    PQ codebooks, and exact top-k are lazy-checkpointed shared frames
    -- plan_audit's ckpt column) -- each build runs once and both paths reuse it (VERDICT
    r10 item 4; this harness audited embeddings x34 before the shared
    checkpoints, x38 before the r10 ids-only candidate split).
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_recall(
        emb,
        _min_id_query(emb),
        k=10,
        shortlist=_IVFPQ_SHORTLIST,
        n_centroids=16,
        n_probe=4,
        m=_PQ_M,
        n_codes=_PQ_CODES,
        dim=_PQ_DIM,
        round_digits=6,
    )


_IVFPQ_BATCH_NQ = 4
# 8x k, NOT the single-query 5x k: the batch recall harness measured
# that the 50-row shortlist tuned on the min-id query drops true
# neighbors for other sample queries (mean recall 0.875 vs IVF-only
# 0.925 at sf0.001; 0.775 vs 0.875 at sf0.01), while 80 reaches mean
# AND min parity with the IVF-only path at both scales -- exactly the
# drift a per-query-sample recall harness exists to catch
_IVFPQ_BATCH_SHORTLIST = 80


def _min_ids_queries(emb, nq=_IVFPQ_BATCH_NQ):
    """Deterministic nq-vector serving batch (the nq lowest vec_ids),
    derived in-plan (sort + limit, no driver action) -- the batch
    analogue of _min_id_query."""
    return (
        emb.orderBy("vec_id")
        .limit(nq)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )


def _ivf_pq_batch_ctes(
    shortlist: int = _IVFPQ_BATCH_SHORTLIST,
    n_probe: int = 4,
    k: int = 10,
    nq: int = _IVFPQ_BATCH_NQ,
    train_where: str = "",
    cand_where: str = "",
) -> str:
    """_ivf_pq_ctes generalized to a query batch: every stage carries
    query_id and each per-query selection is a PARTITION BY query_id
    rank -- the exact relational mirror of the Spark batch plan's
    windows.  `cand` carries ids only (the codes-only ADC contract);
    the re-rank fetches vectors from the base frame."""
    d2 = _IVF_D2
    d_sub = _PQ_DIM // _PQ_M
    cos = (
        "ROUND(list_dot_product({a}, q.qv) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product(q.qv, q.qv))), 6)"
    )
    return (
        _ivf_asg_cte(train_where=train_where)
        + _pq_cte(standalone=False, prefix="pq_", train_where=train_where)
        + f"""
    , q AS (
      SELECT id AS query_id, vec AS qv FROM e ORDER BY id LIMIT {nq}
    ), probes AS (
      SELECT query_id, centroid_id FROM (
        SELECT q.query_id, c.centroid_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {d2.format(n=64, a='c.cvec', b='q.qv')}, c.centroid_id
               ) AS rn
        FROM cent c CROSS JOIN q
      ) WHERE rn <= {n_probe}
    ), cand AS (
      SELECT p.query_id, asg.id FROM asg JOIN probes p USING (centroid_id)
      {f"WHERE {cand_where}" if cand_where else ""}
    ), qsubs AS (
      SELECT query_id, j.j AS subspace,
             qv[j.j * {d_sub} + 1 : j.j * {d_sub} + {d_sub}] AS qsub
      FROM q, unnest(range({_PQ_M})) AS j(j)
    ), dists AS (
      SELECT qs.query_id, b.subspace, b.code,
             {d2.format(n=d_sub, a='qs.qsub', b='b.cvec')} AS dd
      FROM pq_books b JOIN qsubs qs USING (subspace)
    ), adc AS (
      SELECT c.query_id, c.id, ROUND(SUM(d.dd), 6) AS adc_d2
      FROM cand c
      JOIN pq_asg pa ON pa.id = c.id
      JOIN dists d ON d.query_id = c.query_id
                  AND d.subspace = pa.subspace AND d.code = pa.code
      GROUP BY c.query_id, c.id
    ), short AS (
      SELECT query_id, id FROM (
        SELECT query_id, id,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY adc_d2 ASC, id ASC
               ) AS rn
        FROM adc
      ) WHERE rn <= {shortlist}
    ), rer AS (
      SELECT s.query_id, s.id AS vec_id, {cos.format(a='ev.vec')} AS cosine_sim
      FROM short s
      JOIN e ev ON ev.id = s.id
      JOIN q ON q.query_id = s.query_id
    ), finalk AS (
      SELECT query_id, vec_id, cosine_sim FROM (
        SELECT query_id, vec_id, cosine_sim,
               ROW_NUMBER() OVER (
                 PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id ASC
               ) AS rn
        FROM rer
      ) WHERE rn <= {k}
    )"""
    )


@register(
    "similarity_ivf_pq_batch_topk",
    _ivf_pq_batch_ctes()
    + """
    SELECT query_id, vec_id, cosine_sim FROM finalk
    """,
)
def similarity_ivf_pq_batch_topk(spark, sf_dir):
    """The composed IVF->PQ->rerank serving plan for a query BATCH
    (VERDICT r9 item 3 -- production retrieval serves batches, not
    single vectors): one shared index build; probing, ADC, shortlist,
    and the final top-10 all keyed per query_id with rank windows, so
    ONE plan serves the whole batch -- no per-query job loop.  The
    oracle replays both index builds and every per-query window.

    Scan budget: embeddings ~16x -- both indexes (IVF k-means + m
    per-subspace PQ codebooks) plus the in-plan 4-row query batch are
    derived inline so the oracle replays the whole path; production
    serves from materialized assignments/codes and touches only probed
    lists + shortlist vectors per query -- and the per-query cost is
    amortized over the batch: serving B queries costs ONE index
    derivation, not B.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_batch_topk(
        emb,
        _min_ids_queries(emb),
        k=10,
        shortlist=_IVFPQ_BATCH_SHORTLIST,
        n_centroids=16,
        n_probe=4,
        m=_PQ_M,
        n_codes=_PQ_CODES,
        dim=_PQ_DIM,
        round_digits=6,
    )


@register(
    "similarity_ivf_pq_batch_recall",
    _ivf_pq_batch_ctes()
    + """
    , exactk AS (
      SELECT query_id, id FROM (
        SELECT q.query_id, e.id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.query_id
                 ORDER BY ROUND(list_dot_product(e.vec, q.qv) /
                                (sqrt(list_dot_product(e.vec, e.vec)) *
                                 sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
                          e.id ASC
               ) AS rn
        FROM e CROSS JOIN q
      ) WHERE rn <= 10
    ), ivfk AS (
      SELECT query_id, id FROM (
        SELECT c.query_id, c.id,
               ROW_NUMBER() OVER (
                 PARTITION BY c.query_id
                 ORDER BY ROUND(list_dot_product(ev.vec, q.qv) /
                                (sqrt(list_dot_product(ev.vec, ev.vec)) *
                                 sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
                          c.id ASC
               ) AS rn
        FROM cand c
        JOIN e ev ON ev.id = c.id
        JOIN q ON q.query_id = c.query_id
      ) WHERE rn <= 10
    ), hits_ivf AS (
      SELECT x.query_id, COUNT(*) AS n_exact, COUNT(i.id) AS n_hits
      FROM exactk x
      LEFT JOIN ivfk i ON i.query_id = x.query_id AND i.id = x.id
      GROUP BY x.query_id
    ), hits_pq AS (
      SELECT x.query_id, COUNT(*) AS n_exact, COUNT(f.vec_id) AS n_hits
      FROM exactk x
      LEFT JOIN finalk f ON f.query_id = x.query_id AND f.vec_id = x.id
      GROUP BY x.query_id
    )
    SELECT 'ivf' AS path, 10 AS k, COUNT(*) AS n_queries,
           ROUND(AVG(CAST(n_hits AS DOUBLE) / n_exact), 6) AS mean_recall,
           ROUND(MIN(CAST(n_hits AS DOUBLE) / n_exact), 6) AS min_recall
    FROM hits_ivf
    UNION ALL
    SELECT 'ivf_pq' AS path, 10 AS k, COUNT(*) AS n_queries,
           ROUND(AVG(CAST(n_hits AS DOUBLE) / n_exact), 6) AS mean_recall,
           ROUND(MIN(CAST(n_hits AS DOUBLE) / n_exact), 6) AS min_recall
    FROM hits_pq
    """,
)
def similarity_ivf_pq_batch_recall(spark, sf_dir):
    """Offline path comparison over a query SAMPLE at equal probe
    budget: per-query recall@10 of the IVF-only and composed
    IVF->PQ->rerank paths against each query's brute-force exact
    top-10, aggregated to the batch mean AND minimum (a mean can hide
    one dead query; the min is the worst the sample saw) -- the
    ivf_pq_recall path-comparison discipline extended to the batch
    serving plan, VERDICT r9 item 3.

    Scan budget: embeddings x0 in the final plan (query batch, IVF
    index, PQ codebooks, and per-query exact top-k are
    lazy-checkpointed shared frames -- plan_audit's ckpt column) -- one build feeds both paths (VERDICT
    r10 item 4; this harness audited embeddings x27 before the shared
    checkpoints).  The oracle still replays each build end-to-end --
    checkpointing truncates lineage, never changes rows.

    Measured price of the shared build at sf0.1: ~2.4x wall-time
    (2.2s -> ~5.2s min-of-3, fresh-session reprobe) -- checkpoint
    materialization barriers replace redundant subtree branches that
    local[32] evaluated in parallel for free on a 2,000-row corpus.
    Deliberate, like the r10 substring de-skew: at real corpus sizes
    the x27 redundant index builds dominate and the barrier cost is
    noise (the x10 slope for this query in SCALING_r11.json is the
    evidence); do NOT "optimize" the rebuilds back in.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_pq_batch_recall(
        emb,
        _min_ids_queries(emb),
        k=10,
        shortlist=_IVFPQ_BATCH_SHORTLIST,
        n_centroids=16,
        n_probe=4,
        m=_PQ_M,
        n_codes=_PQ_CODES,
        dim=_PQ_DIM,
        round_digits=6,
    )


@register(
    "similarity_ivf_batch_topk",
    _ivf_pq_batch_ctes()
    + """
    SELECT query_id, vec_id, cosine_sim FROM (
      SELECT c.query_id, c.id AS vec_id,
             ROUND(list_dot_product(ev.vec, q.qv) /
                   (sqrt(list_dot_product(ev.vec, ev.vec)) *
                    sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine_sim,
             ROW_NUMBER() OVER (
               PARTITION BY c.query_id
               ORDER BY ROUND(list_dot_product(ev.vec, q.qv) /
                              (sqrt(list_dot_product(ev.vec, ev.vec)) *
                               sqrt(list_dot_product(q.qv, q.qv))), 6) DESC,
                        c.id ASC
             ) AS rn
      FROM cand c
      JOIN e ev ON ev.id = c.id
      JOIN q ON q.query_id = c.query_id
    ) WHERE rn <= 10
    """,
)
def similarity_ivf_batch_topk(spark, sf_dir):
    """The IVF-ONLY batch serving path (exact cosine within probed
    cells, no PQ compression) -- the plan the WindowGroupLimit lock in
    test_plan_shape already pins, now driver-visible with a full
    oracle: one shared index, per-query probes/score/top-k as rank
    windows keyed by query_id, no per-query job loop.  The PQ batch
    path (similarity_ivf_pq_batch_topk) trades this path's full-vector
    candidate reads for ADC lookups + shortlist re-rank; serving picks
    per corpus size.

    Scan budget: embeddings ~9x -- inline index build + the 4-row
    query-batch derivation per reference, so the oracle replays the
    whole path; production serves from the materialized index
    (similarity_ivf_pq_batch_topk_served is that plan)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivf_batch_topk(
        emb,
        _min_ids_queries(emb),
        k=10,
        n_centroids=16,
        n_probe=4,
        round_digits=6,
    )


def _parquet_fingerprint(path: str) -> str:
    """Cheap content fingerprint of a parquet table (single file or
    directory-style): relative name + size + mtime of every data file.
    No reads -- stat only."""
    import hashlib
    import os

    parts = []
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            for f in sorted(files):
                if f.endswith(".parquet") or f == "_SUCCESS":
                    p = os.path.join(root, f)
                    st = os.stat(p)
                    parts.append(
                        f"{os.path.relpath(p, path)}:{st.st_size}:"
                        f"{st.st_mtime_ns}"
                    )
    else:
        st = os.stat(path)
        parts.append(f"{st.st_size}:{st.st_mtime_ns}")
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:10]


def _ivf_pq_index_path(sf_dir: str, variant: str = "") -> str:
    """Deterministic per-corpus/per-params store location for the
    materialized serving index (scratch space -- NOT the repo, NOT the
    read-only testdata).  The tag includes a CONTENT fingerprint of the
    source embeddings (size+mtime of its data files), so regenerating
    the testdata at the same path yields a NEW store location instead
    of serving a stale index past the _SUCCESS no-op check
    (ADVICE r11)."""
    import hashlib
    import os
    import tempfile

    fp = _parquet_fingerprint(os.path.join(sf_dir, "embeddings.parquet"))
    tag = hashlib.md5(
        f"{os.path.realpath(sf_dir)}|{fp}|{variant}"
        f"|c16|m{_PQ_M}|k{_PQ_CODES}|d{_PQ_DIM}".encode()
    ).hexdigest()[:12]
    return os.path.join(
        tempfile.gettempdir(), f"spark_graft_ivf_pq_index_{tag}"
    )


@register(
    "similarity_ivf_pq_batch_topk_served",
    _ivf_pq_batch_ctes()
    + """
    SELECT query_id, vec_id, cosine_sim FROM finalk
    """,
)
def similarity_ivf_pq_batch_topk_served(spark, sf_dir):
    """similarity_ivf_pq_batch_topk SERVED FROM A MATERIALIZED INDEX
    (VERDICT r10 item 2): the first construction builds the IVF
    assignments + PQ codes ONCE and writes them
    `partitionBy(centroid_id)` to scratch; every serve after that --
    including this registered plan -- READS the stored index, and the
    ids-only candidate join against the broadcast probe frame
    dynamic-partition-prunes the stored scan to the probed cells'
    files.  Same rows as the inline path (the index is doubles/ints
    that round-trip parquet bit-exactly), so the oracle replays the
    inline derivation.

    Scan budget: embeddings x0 in the serving plan -- the 4-row
    query batch is a lazy localCheckpoint (1 ckpt leaf in plan_audit;
    one 4-row derivation job at first action; production receives the
    batch as service input, not a corpus scan), so the plan touches
    ONLY the stored index: assignments x2 (DPP-pruned candidates +
    shortlist re-rank fetch), codes x1, centroids/codebooks broadcast.
    The index build cost is paid once per corpus, not per batch --
    this is the production posture the inline queries' docstrings
    promise, now registry-visible.  Plan lock:
    tests/test_ivf_materialized_serving.py::
    test_registered_served_query_prunes_partitions."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _ivf_pq_index_path(sf_dir)
    similarity.materialize_ivf_pq_index(
        emb, path, n_centroids=16, m=_PQ_M, n_codes=_PQ_CODES, dim=_PQ_DIM
    )
    idx = similarity.read_ivf_pq_index(spark, path)
    # the serve stage references the query frame 3x (probes, subspace
    # split, re-rank); without the checkpoint each reference re-scans
    # embeddings for the same 4 rows
    qbatch = _min_ids_queries(emb).localCheckpoint(eager=False)
    return similarity.ivf_pq_batch_serve(
        idx["assignments"],
        idx["centroids"],
        idx["codes"].select("id", "subspace", "code"),
        idx["codebooks"],
        qbatch,
        k=10,
        shortlist=_IVFPQ_BATCH_SHORTLIST,
        n_probe=4,
        m=_PQ_M,
        dim=_PQ_DIM,
        round_digits=6,
    )


# the upsert split: vec_id % 5 == 4 plays the new ingest batch (20%),
# the rest is the base corpus the index was built on
_UPSERT_BATCH_MOD, _UPSERT_BATCH_REM = 5, 4


@register(
    "similarity_ivf_pq_index_upsert_served",
    _ivf_pq_batch_ctes(
        train_where=f"id % {_UPSERT_BATCH_MOD} <> {_UPSERT_BATCH_REM}"
    )
    + """
    SELECT query_id, vec_id, cosine_sim FROM finalk
    """,
)
def similarity_ivf_pq_index_upsert_served(spark, sf_dir):
    """Incremental index maintenance, end to end (VERDICT r11 item 3):
    the IVF+PQ store is built on the BASE corpus only (80% of vectors),
    the remaining 20% arrive as an ingest batch applied with
    ivf_pq_index_upsert -- assigned to the EXISTING centroids and
    encoded against the EXISTING codebooks, appended into the
    centroid_id partitions without rewriting any base file -- and the
    query batch is served from the merged store.  The oracle replays
    the same contract inline: IVF/PQ TRAINING restricted to the base
    rows (train_where), assignment/encoding over base + batch.

    Base-build + upsert promote as ONE atomic rename, so re-running
    this query against a warm store is a no-op, never a double append;
    the untouched-partition byte-identity half of the claim is pinned
    by tests/test_ivf_index_upsert.py.

    Scan budget: like the served query, embeddings x0 at serve time --
    the stored (merged) index is the only data source; the first
    construction pays base build + one map-only batch pass."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = (
        F.col("vec_id") % _UPSERT_BATCH_MOD == _UPSERT_BATCH_REM
    )
    path = _ivf_pq_index_path(
        sf_dir, variant=f"upsert{_UPSERT_BATCH_MOD}r{_UPSERT_BATCH_REM}"
    )
    similarity.materialize_ivf_pq_index(
        emb.where(~is_batch),
        path,
        n_centroids=16,
        m=_PQ_M,
        n_codes=_PQ_CODES,
        dim=_PQ_DIM,
        upsert=emb.where(is_batch),
    )
    idx = similarity.read_ivf_pq_index(spark, path)
    qbatch = _min_ids_queries(emb).localCheckpoint(eager=False)
    return similarity.ivf_pq_batch_serve(
        idx["assignments"],
        idx["centroids"],
        idx["codes"].select("id", "subspace", "code"),
        idx["codebooks"],
        qbatch,
        k=10,
        shortlist=_IVFPQ_BATCH_SHORTLIST,
        n_probe=4,
        m=_PQ_M,
        dim=_PQ_DIM,
        round_digits=6,
    )


@register(
    "similarity_ivf_store_cell_stats",
    _ivf_asg_cte()
    + """
    , cells AS (
      SELECT centroid_id, COUNT(*) AS n FROM asg GROUP BY 1
    )
    SELECT COUNT(*) AS n_cells,
           CAST(SUM(n) AS BIGINT) AS n_vectors,
           MIN(n) AS min_cell,
           MAX(n) AS max_cell,
           ROUND(AVG(n), 6) AS avg_cell,
           ROUND(MAX(n) / AVG(n), 6) AS imbalance
    FROM cells
    """,
)
def similarity_ivf_store_cell_stats(spark, sf_dir):
    """Serving-health diagnostics over the MATERIALIZED index store:
    per-cell population rolled up to (n_cells, n_vectors, min/max/avg
    cell size, imbalance = max/avg).  Imbalance is the number an ANN
    operator watches -- a hot cell bounds worst-case probe latency
    (every query probing it scans its whole list) and is the signal to
    re-train centroids or split the cell; the upsert path
    (ivf_pq_index_upsert) makes drift monitoring necessary, this query
    makes it cheap.  Reads ONLY the stored assignments (ids + partition
    column -- column-pruned away from the vectors); the oracle replays
    the inline IVF build, which equals the store bit-exactly.

    Scan budget: embeddings x0 at query time (store-only, one
    assignments scan), matching the served-family posture."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _ivf_pq_index_path(sf_dir)
    similarity.materialize_ivf_pq_index(
        emb, path, n_centroids=16, m=_PQ_M, n_codes=_PQ_CODES, dim=_PQ_DIM
    )
    asg = similarity.read_ivf_pq_index(spark, path)["assignments"]
    cells = asg.groupBy("centroid_id").agg(F.count(F.lit(1)).alias("n"))
    return cells.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.sum("n").alias("n_vectors"),
        F.min("n").alias("min_cell"),
        F.max("n").alias("max_cell"),
        F.round(F.avg("n"), 6).alias("avg_cell"),
        F.round(F.max("n") / F.avg("n"), 6).alias("imbalance"),
    )


# drift scenario (VERDICT r12 item 6): one in-distribution upsert (the
# usual 20% holdout) plus one OUT-of-distribution upsert (the same
# vectors affinely shifted away from the trained centroids, fresh ids)
_DRIFT_FACTOR = 2.0
_DRIFT_SCALE, _DRIFT_SHIFT = 3.0, 1.0
_DRIFT_ID_OFFSET = 10_000_000


@register(
    "similarity_ivf_store_drift",
    _ivf_asg_cte(
        train_where=f"id % {_UPSERT_BATCH_MOD} <> {_UPSERT_BATCH_REM}"
    )
    + f"""
    , pops AS (
      SELECT 0 AS seq, 'build' AS kind, id, vec FROM e
       WHERE id % {_UPSERT_BATCH_MOD} <> {_UPSERT_BATCH_REM}
      UNION ALL
      SELECT 1, 'upsert', id, vec FROM e
       WHERE id % {_UPSERT_BATCH_MOD} = {_UPSERT_BATCH_REM}
      UNION ALL
      SELECT 2, 'upsert', id + {_DRIFT_ID_OFFSET},
             list_transform(vec, x -> x * {_DRIFT_SCALE} + {_DRIFT_SHIFT})
        FROM e WHERE id % {_UPSERT_BATCH_MOD} = {_UPSERT_BATCH_REM}
    ), mind2 AS (
      SELECT p.seq, p.kind, p.id,
             MIN({_IVF_D2.format(n=_PQ_DIM, a='p.vec', b='c.cvec')}) AS d2
      FROM pops p CROSS JOIN cent c GROUP BY 1, 2, 3
    ), hh AS (
      SELECT seq, kind, COUNT(*) AS n_vectors,
             ROUND(quantile_cont(d2, 0.5), 9) AS p50_d2,
             ROUND(quantile_cont(d2, 0.95), 9) AS p95_d2
      FROM mind2 GROUP BY 1, 2
    ), b AS (SELECT p50_d2 AS bp FROM hh WHERE kind = 'build')
    SELECT CAST(seq AS BIGINT) AS seq, kind, n_vectors, p50_d2, p95_d2,
           ROUND(p50_d2 / b.bp, 6) AS drift_ratio,
           (kind = 'upsert' AND p50_d2 > {_DRIFT_FACTOR} * b.bp)
             AS rebuild_recommended
    FROM hh, b ORDER BY seq
    """,
)
def similarity_ivf_store_drift(spark, sf_dir):
    """The upsert-maintained store's REBUILD TRIGGER, measured
    (VERDICT r12 item 6): every build/upsert batch leaves a health row
    in the store (p50/p95 squared distance to its assigned centroid --
    recorded at zero extra passes, the d2 rides the assignment the
    upsert already computes), and ivf_pq_store_health joins the
    history against the build baseline into a drift_ratio and a
    rebuild_recommended boolean.  The scenario: the index trains on
    80% of the corpus; the normal 20% holdout upserts in-distribution
    (fits the centroids, no rebuild); the same vectors affinely
    shifted (x*{_DRIFT_SCALE}+{_DRIFT_SHIFT}, fresh ids) upsert
    out-of-distribution and flip the recommendation.  The oracle
    replays the base-trained k-means and the per-population
    distance-to-nearest-centroid quantiles exactly.

    Build + both upserts promote under ONE atomic rename (the
    after-delete discipline), so a warm store is a no-op, never a
    double append.  Scan budget at query time: embeddings x0 -- the
    health part is KB-sized (one row per batch) and the baseline rides
    a broadcast.  Ref behavior spec: pure EXT anchor (no counterpart
    in /root/reference)."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = (
        F.col("vec_id") % _UPSERT_BATCH_MOD == _UPSERT_BATCH_REM
    )
    path = _ivf_pq_index_path(
        sf_dir,
        variant=(
            f"drift{_UPSERT_BATCH_MOD}r{_UPSERT_BATCH_REM}"
            f"s{_DRIFT_SCALE}o{_DRIFT_SHIFT}"
        ),
    )

    def build(store):
        similarity.materialize_ivf_pq_index(
            emb.where(~is_batch), store, n_centroids=16,
            m=_PQ_M, n_codes=_PQ_CODES, dim=_PQ_DIM,
        )
        similarity.ivf_pq_index_upsert(
            emb.where(is_batch), store, m=_PQ_M, dim=_PQ_DIM
        )
        drifted = emb.where(is_batch).select(
            (F.col("vec_id") + F.lit(_DRIFT_ID_OFFSET)).alias("vec_id"),
            F.transform(
                F.col("embedding"),
                lambda x: x.cast("double") * F.lit(_DRIFT_SCALE)
                + F.lit(_DRIFT_SHIFT),
            ).alias("embedding"),
        )
        similarity.ivf_pq_index_upsert(
            drifted, store, m=_PQ_M, dim=_PQ_DIM
        )

    versioned.build_once(path, build)
    return similarity.ivf_pq_store_health(
        spark, path, drift_factor=_DRIFT_FACTOR
    )


@register(
    "similarity_ivf_pq_rebuild_served",
    _ivf_pq_batch_ctes()
    + """
    SELECT query_id, vec_id, cosine_sim FROM finalk
    """,
)
def similarity_ivf_pq_rebuild_served(spark, sf_dir):
    """The lifecycle's closing action: after upserts accumulate,
    rebuild_ivf_pq_index re-trains centroids AND codebooks from the
    store's own corpus of record (current assignments, tombstones
    excluded) and publishes the result as the next version behind the
    atomic pointer.  The correctness claim is strong and oracle-
    checkable: a rebuilt base+upsert store must serve BIT-IDENTICALLY
    to a monolithic index built over the full corpus (deterministic
    lowest-id seeding sees the same ids either way), so the oracle is
    the standard FULL-corpus IVF+PQ serve replay -- upsert history
    must leave no trace in the retrained index.

    Construction is idempotent under the after-delete discipline
    (private dir + one atomic rename); serve-time scan budget:
    embeddings x0, the served-family posture.  Ref behavior spec:
    pure EXT anchor (no counterpart in /root/reference)."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = (
        F.col("vec_id") % _UPSERT_BATCH_MOD == _UPSERT_BATCH_REM
    )
    path = _ivf_pq_index_path(
        sf_dir,
        variant=f"rebuild{_UPSERT_BATCH_MOD}r{_UPSERT_BATCH_REM}",
    )

    def build(store):
        similarity.materialize_ivf_pq_index(
            emb.where(~is_batch), store, n_centroids=16,
            m=_PQ_M, n_codes=_PQ_CODES, dim=_PQ_DIM,
            upsert=emb.where(is_batch),
        )
        similarity.rebuild_ivf_pq_index(
            spark, store, n_centroids=16,
            m=_PQ_M, n_codes=_PQ_CODES, dim=_PQ_DIM,
        )

    versioned.build_once(path, build)
    idx = similarity.read_ivf_pq_index(spark, path)
    qbatch = _min_ids_queries(emb).localCheckpoint(eager=False)
    return similarity.ivf_pq_batch_serve(
        idx["assignments"],
        idx["centroids"],
        idx["codes"].select("id", "subspace", "code"),
        idx["codebooks"],
        qbatch,
        k=10,
        shortlist=_IVFPQ_BATCH_SHORTLIST,
        n_probe=4,
        m=_PQ_M,
        dim=_PQ_DIM,
        round_digits=6,
    )


_DELETE_MOD, _DELETE_REM = 7, 3  # vec_id % 7 == 3 plays the erasure set


@register(
    "similarity_ivf_pq_batch_topk_after_delete",
    _ivf_pq_batch_ctes(cand_where=f"asg.id % {_DELETE_MOD} <> {_DELETE_REM}")
    + """
    SELECT query_id, vec_id, cosine_sim FROM finalk
    """,
)
def similarity_ivf_pq_batch_topk_after_delete(spark, sf_dir):
    """Tombstone deletion served correctly (the right-to-be-forgotten
    path): ~14% of the corpus is deleted from the materialized store
    with ivf_pq_index_delete -- an APPEND of ids to the `deletes`
    part, no partition rewritten -- and serving subtracts the
    tombstones with one broadcast anti-join on the assignments frame
    before probing/ADC/re-rank, so deleted vectors can never appear in
    results even though their bytes still sit in the cells until the
    next compaction (compact_ivf_pq_index drops them physically and
    clears the tombstones; tests/test_ivf_index_upsert.py pins both
    halves).  The oracle replays the full-corpus index build with the
    candidate set restricted to the surviving ids.

    Build + delete promote under ONE atomic rename (the upsert-served
    discipline), so a warm store is a no-op and a reader never sees
    the store without its tombstones."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = _ivf_pq_index_path(
        sf_dir, variant=f"delete{_DELETE_MOD}r{_DELETE_REM}"
    )

    def build(store):
        similarity.materialize_ivf_pq_index(
            emb, store, n_centroids=16,
            m=_PQ_M, n_codes=_PQ_CODES, dim=_PQ_DIM,
        )
        similarity.ivf_pq_index_delete(
            emb.where(
                F.col("vec_id") % _DELETE_MOD == _DELETE_REM
            ).select(F.col("vec_id").alias("id")),
            store,
        )

    versioned.build_once(path, build)
    idx = similarity.read_ivf_pq_index(spark, path)
    deletes = similarity.read_ivf_pq_index_deletes(spark, path)
    asg = idx["assignments"]
    if deletes is not None:
        asg = asg.join(F.broadcast(deletes), "id", "left_anti")
    qbatch = _min_ids_queries(emb).localCheckpoint(eager=False)
    return similarity.ivf_pq_batch_serve(
        asg,
        idx["centroids"],
        idx["codes"].select("id", "subspace", "code"),
        idx["codebooks"],
        qbatch,
        k=10,
        shortlist=_IVFPQ_BATCH_SHORTLIST,
        n_probe=4,
        m=_PQ_M,
        dim=_PQ_DIM,
        round_digits=6,
    )


_SESSION_WINDOW_GAP_MIN = 30


@register(
    "events_session_window_agg",
    # half-open merge rule: a new session starts when the next event
    # lands AT or past prev + gap (session windows are [start, end)),
    # unlike events_sessionization's `gap >` rule which merges an
    # exactly-gap step; session_end = last event + gap
    f"""
    WITH e AS (
      SELECT user_id, event_id, ts, value, epoch_us(ts) AS us
      FROM events WHERE ts IS NOT NULL
    ), flagged AS (
      SELECT user_id, event_id, ts, value, us,
             CASE WHEN lag(us) OVER w IS NULL
                       OR us - lag(us) OVER w > {_SESSION_WINDOW_GAP_MIN * 60 * 1_000_000}
                  THEN 1 ELSE 0 END AS new_s
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), idx AS (
      SELECT user_id, event_id, ts, value, us,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL {_SESSION_WINDOW_GAP_MIN} MINUTE AS session_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 4) AS total_value
    FROM idx GROUP BY user_id, session_idx
    """,
)
def events_session_window_agg(spark, sf_dir):
    """Spark-native session_window sessionization (the streaming-capable
    shape); oracle replays the half-open gap-merge rule with integer
    microseconds."""
    from .operators.sessions import session_window_stats

    return session_window_stats(
        load_table(spark, sf_dir, "events"),
        gap=f"{_SESSION_WINDOW_GAP_MIN} minutes",
    )


_INDEX_MOD = 3  # docs with id % 3 == 0 play the already-ingested corpus


@register(
    "dedup_incremental_against_index",
    # the index is the historical corpus's digest set; the batch keeps
    # its first row per digest, then anti-joins the index
    rf"""
    WITH docs AS (
      SELECT doc_id, source,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    )
    , hashed AS (
      SELECT doc_id, source, {_H.format(x='norm')} AS h FROM docs
    ), batch AS (
      SELECT doc_id, source, h,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id) AS rn
      FROM hashed WHERE doc_id % {_INDEX_MOD} <> 0
    ), idx AS (
      SELECT DISTINCT h FROM hashed WHERE doc_id % {_INDEX_MOD} = 0
    )
    SELECT doc_id, source FROM batch
    WHERE rn = 1 AND h NOT IN (SELECT h FROM idx)
    """,
)
def dedup_incremental_against_index(spark, sf_dir):
    """Continual-ingestion exact dedup: the new crawl batch anti-joins
    the historical corpus's digest index (never rescanning history)
    after an in-batch keep-first."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    index = dedup.exact_dedup(
        docs.where(F.col("doc_id") % _INDEX_MOD == 0)
    ).select("content_hash")
    batch = docs.where(F.col("doc_id") % _INDEX_MOD != 0)
    return dedup.dedup_against_index(batch, index).select("doc_id", "source")


_FUNNEL_SPAN_US = 2 * 86_400 * 1_000_000  # 2-day conversion window


@register(
    "events_funnel_conversion_window",
    # the min-join chain with `ts <= t0 + span` on every post-0 step:
    # the relational form of the conversion-window state machine (t0 =
    # the user's step-0 match; first-touch, no chain restart)
    f"""
    WITH s0 AS (
      SELECT user_id, min(ts) AS t FROM events
      WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY 1
    ), s1 AS (
      SELECT e.user_id, min(e.ts) AS t, min(s0.t) AS t0 FROM events e
      JOIN s0 ON e.user_id = s0.user_id
      WHERE e.event_type = 'click' AND e.ts >= s0.t
        AND epoch_us(e.ts) - epoch_us(s0.t) <= {_FUNNEL_SPAN_US}
      GROUP BY 1
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t FROM events e
      JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s1.t
        AND epoch_us(e.ts) - epoch_us(s1.t0) <= {_FUNNEL_SPAN_US}
      GROUP BY 1
    )
    SELECT 0 AS stage_idx, 'view' AS stage,
           (SELECT count(*) FROM s0) AS n_users
    UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
    UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)
    """,
)
def events_funnel_conversion_window(spark, sf_dir):
    """Conversion-window funnel ("viewed, then purchased within 2
    days"): the ordered funnel with every post-0 step constrained to
    max_span of the user's step-0 match; same one-shuffle state
    machine, span checked in integer microseconds."""
    from .operators.sessions import funnel_stages

    return funnel_stages(
        load_table(spark, sf_dir, "events"), max_span_us=_FUNNEL_SPAN_US
    )


@register(
    "events_salted_join_customer_stats",
    # the salt never changes the join result, so the oracle is the
    # PLAIN join -- what gets verified is that the salted physical
    # shape is a pure optimization
    """
    WITH co AS (
      SELECT o_custkey AS user_id, COUNT(*) AS n_orders,
             ROUND(SUM(o_totalprice), 4) AS total_spend
      FROM orders GROUP BY 1
    )
    SELECT e.event_id, e.user_id, co.n_orders, co.total_spend
    FROM events e LEFT JOIN co USING (user_id)
    """,
)
def events_salted_join_customer_stats(spark, sf_dir):
    """Skew-salted enrichment join: every event joined to its
    customer's order summary with the hot user keys spread across
    n_salts reducers (deterministic event_id salt on the big side,
    map-side replicate on the small side, shuffled-hash join)."""
    from .operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    co = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_spend"),
        )
    )
    return salted_join(
        ev, co, on=["user_id"], salt_key="event_id", n_salts=8, how="left"
    ).select("event_id", "user_id", "n_orders", "total_spend")


@register(
    "events_rolling_retention",
    # relational form: the distinct activity frame self-joined on
    # (user, week+7d); the Spark side runs the one-scan lead() window.
    # The last active week has no w+1 data: NULL retained/rate (not 0)
    """
    WITH act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS w
      FROM events WHERE ts IS NOT NULL
    ), ret AS (
      SELECT a.w, COUNT(*) AS n_active,
             COUNT(b.user_id) AS n_ret
      FROM act a
      LEFT JOIN act b
        ON a.user_id = b.user_id AND b.w = a.w + INTERVAL 7 DAY
      GROUP BY a.w
    ), mx AS (SELECT MAX(w) AS maxw FROM act)
    SELECT CAST(ret.w AS DATE) AS week, n_active,
           CASE WHEN ret.w < mx.maxw THEN n_ret END AS n_retained,
           ROUND(CASE WHEN ret.w < mx.maxw
                      THEN n_ret / n_active END, 6) AS retention_rate
    FROM ret, mx
    """,
)
def events_rolling_retention(spark, sf_dir):
    """Week-over-week rolling retention (re-anchored every week, unlike
    the cohort matrix): one-scan lead() formulation vs the oracle's
    self-join."""
    from .operators.sessions import rolling_retention

    return rolling_retention(load_table(spark, sf_dir, "events"))


@register(
    "events_daily_anomaly_zscore",
    # per-type mean/stddev over the daily series, z-score per day;
    # stddev_samp shares the ANSI sample definition, z rounds to 4.
    # A single-day series has NULL stddev -> NULL z (never flagged),
    # and a zero-variance series likewise yields NULL (engines diverge
    # on 0/0), both pinned here
    """
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             ROUND(SUM(value), 4) AS v
      FROM events WHERE ts IS NOT NULL
      GROUP BY 1, 2
    ), stats AS (
      SELECT event_type, AVG(v) AS mu, STDDEV_SAMP(v) AS sigma
      FROM daily GROUP BY 1
    )
    SELECT d.event_type, d.day, d.v AS total_value,
           ROUND(CASE WHEN s.sigma <> 0 THEN (d.v - s.mu) / s.sigma END, 4)
             AS zscore,
           COALESCE(CASE WHEN s.sigma <> 0
                         THEN abs((d.v - s.mu) / s.sigma) > 3.0 END,
                    FALSE) AS is_anomaly
    FROM daily d JOIN stats s USING (event_type)
    """,
)
def events_daily_anomaly_zscore(spark, sf_dir):
    """Metric anomaly detection: z-score of each day's per-type total
    against that type's own daily distribution, |z| > 3 flagged -- the
    monitoring pass a metric platform runs over its own output.

    Scale shape: ONE scan of the event table (plan-asserted) -- one
    partial-aggregated shuffle to the daily series, then the per-type
    mean/stddev via a WINDOW over the tiny daily frame (a separate
    stats-aggregate-plus-join subtree would re-scan the event table:
    Spark recomputes twice-referenced subtrees).  Degenerate series
    are pinned: a single-day or zero-variance type yields NULL z
    (engines diverge at 0/0) and is never flagged."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(F.round(F.sum("value"), 4).alias("v"))
    w = Window.partitionBy("event_type")
    with_stats = daily.withColumn("__mu", F.avg("v").over(w)).withColumn(
        "__sigma", F.stddev_samp("v").over(w)
    )
    z = F.when(
        F.col("__sigma") != 0, (F.col("v") - F.col("__mu")) / F.col("__sigma")
    )
    return with_stats.select(
        "event_type",
        "day",
        F.col("v").alias("total_value"),
        F.round(z, 4).alias("zscore"),
        F.coalesce(F.abs(z) > 3.0, F.lit(False)).alias("is_anomaly"),
    )


def _near_dedup_vs_corpus_oracle() -> str:
    """The minhash CTE chain (bit-identical banding) with the band join
    split across the batch/corpus boundary instead of a<b, hashed
    Jaccard verify, survivors = unflagged batch rows."""
    return (
        _minhash_oracle().replace(
            "SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b",
            """, cand AS (
      SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_corpus""",
        ).replace(
            "ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id",
            f"""ON a.band = b.band AND a.bucket = b.bucket
       AND a.doc_id % {_INDEX_MOD} <> 0 AND b.doc_id % {_INDEX_MOD} = 0""",
        )
        + f"""
    ), flagged AS (
      SELECT DISTINCT c.id_new
      FROM cand c
      JOIN hs ha ON ha.doc_id = c.id_new
      JOIN hs hb ON hb.doc_id = c.id_corpus
      WHERE len(list_distinct(list_intersect(ha.hashes, hb.hashes)))::DOUBLE
            / len(list_distinct(list_cat(ha.hashes, hb.hashes))) >= 0.8
    )
    SELECT doc_id, lang, source FROM documents
    WHERE doc_id % {_INDEX_MOD} <> 0
      AND doc_id NOT IN (SELECT id_new FROM flagged)
    """
    )


@register("dedup_near_incremental_vs_corpus", _near_dedup_vs_corpus_oracle())
def dedup_near_incremental_vs_corpus(spark, sf_dir):
    """Incremental NEAR-dedup: the crawl batch LSH-joins the corpus's
    banded signature index, verifies exact hashed-shingle Jaccard, and
    drops only batch rows -- fuzzy sibling of the exact
    dedup_incremental_against_index.

    Scan budget: documents 5x -- the corpus-side banded signature
    index is derived inline for oracle self-containment; production
    probes the materialized index (batch-sized work only).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    corpus_side = docs.where(F.col("doc_id") % _INDEX_MOD == 0)
    batch = docs.where(F.col("doc_id") % _INDEX_MOD != 0)
    return dedup.near_dedup_against_corpus(
        batch, corpus_side, k=_K, bands=_BANDS, threshold=0.8
    ).select("doc_id", "lang", "source")


@register(
    "events_user_sketch_rollup",
    # self-verifying oracle (the metric_approx_customer_count pattern):
    # the DataSketches HLL estimate is not SQL-reproducible, so the
    # query outputs the EXACT monthly distinct plus an in-plan check
    # that the MERGED-sketch estimate lands within bound; the oracle
    # pins the exact counts and expects every check to hold
    """
    SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
           COUNT(DISTINCT user_id) AS n_exact,
           TRUE AS sketch_within_bound
    FROM events WHERE ts IS NOT NULL GROUP BY 1
    """,
)
def events_user_sketch_rollup(spark, sf_dir):
    """Mergeable-sketch rollup -- THE reason sketches exist at 100 TB:
    exact distinct counts are not re-aggregable (a monthly distinct
    cannot be derived from daily distincts), but HLL sketches union
    losslessly, so the scan computes DAILY sketches once and every
    coarser grain is a cheap sketch merge over the tiny daily frame --
    no re-scan per grain, and the same mechanism powers incremental
    refresh (merge yesterday's sketch into the running month).

    Here: daily `hll_sketch_agg(user_id)` -> monthly `hll_union_agg`
    -> estimate, checked in-plan against the exact monthly distinct
    (that exact side exists only for self-verification and costs the
    second scan; production emits the estimate alone).  Bound: 10% with
    a floor of 5 -- DataSketches HLL at lgK=12 is ~1.6% rsd and exact
    in sparse mode, so the bound is conservatively loose."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    daily = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("month", "ts").cast("date").alias("month"),
    ).agg(F.hll_sketch_agg("user_id").alias("__sk"))
    merged = daily.groupBy("month").agg(
        F.hll_sketch_estimate(F.hll_union_agg("__sk")).alias("__est")
    )
    exact = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("month")
    ).agg(F.count_distinct("user_id").alias("n_exact"))
    return exact.join(merged, "month").select(
        "month",
        "n_exact",
        (
            F.abs(F.col("__est") - F.col("n_exact"))
            <= F.greatest(F.lit(5.0), 0.1 * F.col("n_exact"))
        ).alias("sketch_within_bound"),
    )


@register(
    "text_token_entropy",
    r"""
    WITH docs AS (
      SELECT doc_id,
             trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
      FROM documents
    ), terms AS (
      SELECT doc_id, t.term
      FROM (SELECT doc_id, string_split(norm, ' ') AS toks FROM docs),
           unnest(toks) AS t(term)
      WHERE t.term <> ''
    ), tc AS (
      SELECT doc_id, term, COUNT(*) AS c FROM terms GROUP BY 1, 2
    ), wn AS (
      SELECT doc_id, c, SUM(c) OVER (PARTITION BY doc_id) AS n FROM tc
    )
    SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) AS n_distinct,
           ROUND(-SUM((c / n) * ln(c / n)), 6) AS entropy
    FROM wn GROUP BY doc_id
    """,
)
def text_token_entropy(spark, sf_dir):
    """Shannon token entropy per document (repetitiveness filter):
    exact integer counts until the final ln, doc total via a window
    over the same doc partitioning -- two partial-aggregated shuffles,
    no join, no re-scan."""
    return text.token_entropy(load_table(spark, sf_dir, "documents"))


@register(
    "events_interarrival_profile",
    """
    WITH g AS (
      SELECT event_type,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type
               ORDER BY epoch_us(ts), event_id
             ) AS gap_us
      FROM events WHERE ts IS NOT NULL
    )
    SELECT event_type, COUNT(*) AS n_gaps,
           ROUND(AVG(gap_us / 1000000.0), 6) AS mean_gap_s,
           ROUND(quantile_cont(gap_us / 1000000.0, 0.5), 6) AS p50_s,
           ROUND(quantile_cont(gap_us / 1000000.0, 0.9), 6) AS p90_s,
           ROUND(quantile_cont(gap_us / 1000000.0, 0.99), 6) AS p99_s
    FROM g WHERE gap_us IS NOT NULL GROUP BY 1
    """,
)
def events_interarrival_profile(spark, sf_dir):
    """Per-type inter-arrival profile: exact integer-microsecond gaps
    from an (ts, id)-tiebroken lag window, exact interpolated
    percentiles (quantile_cont parity) -- the behavioral latency
    distribution.  Two shuffles: the per-(user, type) lag window + the
    per-type aggregation."""
    from .operators.sessions import interarrival_profile

    return interarrival_profile(load_table(spark, sf_dir, "events"))


# Fuzzy-title record linkage: geometry shared operator <-> oracle.
# Title = first _FUZZY_TITLE_LEN chars; block = first token; pairs kept
# at edit distance <= _FUZZY_DIST (integer metric, zero float drift).
# The registered query runs the q-gram count-filter scale path; the
# dense within-block join is the driver=False differential baseline
# (same oracle -- the filter is lossless).
_FUZZY_TITLE_LEN = 30
_FUZZY_DIST = 5
_FUZZY_Q = 3


def _fuzzy_oracle() -> str:
    return f"""
    WITH p AS (
      SELECT doc_id AS id, substr(text, 1, {_FUZZY_TITLE_LEN}) AS key,
             split_part(substr(text, 1, {_FUZZY_TITLE_LEN}), ' ', 1) AS block
      FROM documents
    )
    SELECT a.id AS id_a, b.id AS id_b, a.block AS block,
           CAST(levenshtein(a.key, b.key) AS INT) AS dist
    FROM p a JOIN p b
      ON a.block = b.block AND a.id < b.id
         AND abs(length(a.key) - length(b.key)) <= {_FUZZY_DIST}
    WHERE levenshtein(a.key, b.key) <= {_FUZZY_DIST}
    """


def _fuzzy_titles(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, _FUZZY_TITLE_LEN).alias("title")
    )


@register("dedup_fuzzy_title_pairs", _fuzzy_oracle())
def dedup_fuzzy_title_pairs(spark, sf_dir):
    """Record linkage, q-gram scale path: document title prefixes
    within edit distance 5, candidates generated from an inverted
    (block, gram, occurrence) index with the Gravano count bound, then
    verified by the banded levenshtein kernel.  Lossless vs the dense
    block join (driver=False baseline below shares this oracle).

    Scan budget: documents 6x -- inherent self-join (both sides of the
    candidate pair) times the inverted q-gram index derivation;
    production builds the index once and joins it to itself (2 scans).
    """
    from .operators.linkage import fuzzy_qgram_pairs

    return fuzzy_qgram_pairs(
        _fuzzy_titles(spark, sf_dir),
        key_col="title",
        id_col="doc_id",
        max_dist=_FUZZY_DIST,
        q=_FUZZY_Q,
    )


@register("dedup_fuzzy_title_pairs_dense", _fuzzy_oracle(), driver=False)
def dedup_fuzzy_title_pairs_dense(spark, sf_dir):
    """Dense within-block baseline for the q-gram path: enumerates
    every block pair through the banded kernel.  Kept for pytest
    differential coverage only -- within-block enumeration is the
    quadratic cost the count filter exists to avoid."""
    from .operators.linkage import fuzzy_blocked_pairs

    return fuzzy_blocked_pairs(
        _fuzzy_titles(spark, sf_dir),
        key_col="title",
        id_col="doc_id",
        max_dist=_FUZZY_DIST,
    )


# Lloyd convergence-trace geometry (shared operator <-> oracle):
# 16 lowest-id seeds, 2 recentering rounds, centroid coords rounded to
# 9 decimals after every AVG so the oracle's different summation order
# replays every later assignment decision exactly.
_KMC_K = 16
_KMC_ITER = 2
_KMC_DIM = 64


def _kmeans_convergence_oracle() -> str:
    d2 = _IVF_D2
    ctes = [
        "e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS vec FROM embeddings)",
        f"""seeds AS (
      SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS centroid_id, vec AS cvec
      FROM (SELECT id, vec FROM e ORDER BY id LIMIT {_KMC_K}))""",
    ]
    cent = "seeds"
    for it in range(_KMC_ITER + 1):
        dist = d2.format(n=_KMC_DIM, a="e.vec", b=f"c.cvec")
        ctes.append(
            f"""a{it} AS (
      SELECT id, centroid_id, d2 FROM (
        SELECT e.id, c.centroid_id, {dist} AS d2,
               ROW_NUMBER() OVER (
                 PARTITION BY e.id ORDER BY {dist}, c.centroid_id
               ) AS rn
        FROM e CROSS JOIN {cent} c
      ) WHERE rn = 1)"""
        )
        if it < _KMC_ITER:
            ctes.append(
                f"""cm{it} AS (
      SELECT a.centroid_id, i.i AS pos, ROUND(AVG(e.vec[i.i]), 9) AS m
      FROM a{it} a JOIN e USING (id), unnest(range(1, {_KMC_DIM} + 1)) AS i(i)
      GROUP BY 1, 2)"""
            )
            ctes.append(
                f"c{it} AS (SELECT centroid_id, list(m ORDER BY pos) AS cvec"
                f" FROM cm{it} GROUP BY 1)"
            )
            cent = f"c{it}"
    selects = [
        "SELECT CAST(0 AS INT) AS iter, ROUND(SUM(d2), 6) AS inertia,"
        " COUNT(*) AS n_moved FROM a0"
    ]
    for it in range(1, _KMC_ITER + 1):
        selects.append(
            f"""SELECT CAST({it} AS INT), ROUND((SELECT SUM(d2) FROM a{it}), 6),
        (SELECT COUNT(*) FROM a{it} n JOIN a{it - 1} p USING (id)
         WHERE n.centroid_id <> p.centroid_id)"""
        )
    return "WITH " + ",\n    ".join(ctes) + "\n" + "\nUNION ALL\n".join(selects)


@register("embeddings_kmeans_convergence", _kmeans_convergence_oracle())
def embeddings_kmeans_convergence(spark, sf_dir):
    """Lloyd's k-means convergence trace: per-iteration inertia and
    reassignment counts over 2 recentering rounds -- the stability
    monitor of a corpus-clustering job.  Inertia is non-increasing;
    the oracle unrolls every round as CTEs and replays each argmin
    (9-decimal-rounded centroids) bit-identically."""
    return similarity.kmeans_convergence(
        load_table(spark, sf_dir, "embeddings"),
        n_centroids=_KMC_K,
        n_iter=_KMC_ITER,
    )


_ATTR_LOOKBACK_DAYS = 7


@register(
    "events_attribution_linear",
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
      SELECT t.touch_type, c.conv_id, c.value
      FROM t JOIN c
        ON t.user_id = c.user_id
           AND t.ts <= c.cts
           AND t.ts >= c.cts - INTERVAL {_ATTR_LOOKBACK_DAYS} DAY
    ), n AS (
      SELECT conv_id, COUNT(*) AS n FROM pairs GROUP BY 1
    )
    SELECT touch_type, COUNT(*) AS n_touches,
           ROUND(SUM(value / n.n), 6) AS attributed_value
    FROM pairs JOIN n USING (conv_id) GROUP BY 1
    """,
)
def events_attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution: purchase value split equally
    over the user's views/clicks in the trailing 7 days.  Pairing
    rides the bucketized range join (equi-join on (user, day bucket),
    never quadratic per user); the oracle pairs with a direct
    BETWEEN join -- same pairs from a different plan."""
    from .operators.attribution import linear_attribution

    return linear_attribution(
        load_table(spark, sf_dir, "events"),
        lookback_days=_ATTR_LOOKBACK_DAYS,
    )


# Z-order geometry: 8 bits per dimension, 64 shards (zkey >> 10).  The
# oracle renders THE SAME bit plan through render_interleave_sql, so
# operator and oracle cannot drift.
_Z_BITS = 8
_Z_SHARDS = 64


def _zorder_oracle() -> str:
    from .operators.layout import render_interleave_sql

    top = (1 << _Z_BITS) - 1
    shift = 2 * _Z_BITS - (_Z_SHARDS.bit_length() - 1)
    ileave = render_interleave_sql("ab", "bb", _Z_BITS)
    return f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_us(ts) AS us FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), b AS (
      SELECT MIN(user_id) AS amn, MAX(user_id) AS amx,
             MIN(us) AS bmn, MAX(us) AS bmx FROM e
    ), s AS (
      SELECT event_id,
             ((user_id - amn) * {top}) // GREATEST(amx - amn, 1) AS ab,
             ((us - bmn) * {top}) // GREATEST(bmx - bmn, 1) AS bb
      FROM e, b
    )
    SELECT event_id, zkey, zkey >> {shift} AS shard
    FROM (SELECT event_id, {ileave} AS zkey FROM s)
    """


@register("events_zorder_layout", _zorder_oracle())
def events_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering keys over (user_id, event time):
    the two dimensions scale to 8-bit integer buckets off a 1-row
    broadcast bounds frame, then interleave bit-by-bit into the key a
    layout writer range-partitions on -- multi-dimensional scan
    pruning as one map-side integer projection."""
    from .operators.layout import zorder_key

    ev = (
        load_table(spark, sf_dir, "events")
        .withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))
    )
    return zorder_key(
        ev, dim_a="user_id", dim_b="us", id_col="event_id",
        bits=_Z_BITS, n_shards=_Z_SHARDS,
    )


# Count-Min geometry: 4 hash rows x 64 columns over user_id
# occurrences -- deliberately narrow so collisions occur at sf0.01 and
# the oracle replays the OVERESTIMATES bit-identically (the Bloom
# false-positive precedent).  est_count >= exact_count always.
_CM_DEPTH = 4
_CM_WIDTH = 64


def _countmin_oracle() -> str:
    from .functions.hashing import DUCKDB_HASH31, duckdb_family_hash

    h31 = DUCKDB_HASH31.format(x="user_id::VARCHAR")
    cell_selects = "\n      UNION ALL ".join(
        f"SELECT day, {i} AS i, ({duckdb_family_hash('h', i)}) % {_CM_WIDTH} AS col FROM h"
        for i in range(_CM_DEPTH)
    )
    lookup_selects = "\n      UNION ALL ".join(
        f"SELECT user_id, {i} AS i, ({duckdb_family_hash('h', i)}) % {_CM_WIDTH} AS col FROM u"
        for i in range(_CM_DEPTH)
    )
    return f"""
    WITH e AS (
      SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), h AS (
      SELECT user_id, day, {h31} AS h FROM e
    ), cells AS (
      {cell_selects}
    ), merged AS (
      SELECT i, col, COUNT(*) AS c FROM cells GROUP BY 1, 2
    ), u AS (
      SELECT DISTINCT user_id, {h31} AS h FROM e
    ), lookups AS (
      {lookup_selects}
    ), est AS (
      SELECT user_id, MIN(c) AS est_count
      FROM lookups JOIN merged USING (i, col) GROUP BY 1
    ), exact AS (
      SELECT user_id, COUNT(*) AS exact_count FROM e GROUP BY 1
    )
    SELECT user_id, est_count, exact_count
    FROM est JOIN exact USING (user_id)
    """


@register("events_countmin_user_counts", _countmin_oracle())
def events_countmin_user_counts(spark, sf_dir):
    """Count-Min frequency sketch rollup: daily 4x64 sketches of
    user_id occurrences merged cell-wise, each user's count estimated
    as min over the 4 hash rows, reported beside the exact count
    (est >= exact always; the narrow width forces real collisions the
    oracle replays exactly).  Sketch size is independent of user
    cardinality -- the 100 TB point of the operator."""
    from .operators.sketches import countmin_daily_sketches, countmin_estimate

    ev = load_table(spark, sf_dir, "events")
    sketches = countmin_daily_sketches(
        ev, key_col="user_id", depth=_CM_DEPTH, width=_CM_WIDTH
    )
    # the exact-count frame doubles as the query-key list: one groupBy
    # serves both the keys and the verification column (2 scans total,
    # sketches + exact, instead of 3)
    exact = (
        ev.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_count"))
    )
    return countmin_estimate(
        sketches,
        exact,
        key_col="user_id",
        depth=_CM_DEPTH,
        width=_CM_WIDTH,
        extra_cols=("exact_count",),
    ).select("user_id", "est_count", "exact_count")


# Data-quality scorecard geometry: bounds chosen so violations exist
# at sf0.01 only if the generator misbehaves (a clean table reports 0,
# which the oracle confirms -- the check VALUES, not just the shape,
# replay exactly).
_DQ_PRICE_LO, _DQ_PRICE_HI = 0.0, 600_000.0


def _dq_orders_oracle() -> str:
    return f"""
    WITH n AS (SELECT COUNT(*) AS n FROM orders)
    SELECT 'row_count' AS check_name, '*' AS col_name, n::DOUBLE AS value
    FROM n
    UNION ALL
    SELECT 'completeness', 'o_custkey',
           ROUND((SELECT COUNT(o_custkey) FROM orders)::DOUBLE / n.n, 6)
    FROM n
    UNION ALL
    SELECT 'completeness', 'o_totalprice',
           ROUND((SELECT COUNT(o_totalprice) FROM orders)::DOUBLE / n.n, 6)
    FROM n
    UNION ALL
    SELECT 'completeness', 'o_orderdate',
           ROUND((SELECT COUNT(o_orderdate) FROM orders)::DOUBLE / n.n, 6)
    FROM n
    UNION ALL
    SELECT 'bounds_violations', 'o_totalprice',
           (SELECT COUNT(*) FROM orders
            WHERE o_totalprice IS NOT NULL
              AND (o_totalprice < {_DQ_PRICE_LO}
                   OR o_totalprice > {_DQ_PRICE_HI}))::DOUBLE
    UNION ALL
    SELECT 'duplicates', 'o_orderkey',
           ((SELECT COUNT(*) FROM orders)
            - (SELECT COUNT(DISTINCT o_orderkey) FROM orders))::DOUBLE
    UNION ALL
    SELECT 'fk_orphans', 'o_custkey',
           (SELECT COUNT(*) FROM orders o
            WHERE o.o_custkey IS NOT NULL
              AND NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))::DOUBLE
    """


@register("dq_orders_report", _dq_orders_oracle())
def dq_orders_report(spark, sf_dir):
    """Deequ-style data-quality scorecard over the orders fact:
    completeness ratios, price-bound violations, order-key duplicate
    count, and customer referential integrity -- every column-local
    check folded into ONE aggregation pass; the FK orphan count is the
    single second-table join (left anti against the customer dim)."""
    from .operators.dq import constraint_report

    return constraint_report(
        load_table(spark, sf_dir, "orders"),
        completeness=("o_custkey", "o_totalprice", "o_orderdate"),
        bounds={"o_totalprice": (_DQ_PRICE_LO, _DQ_PRICE_HI)},
        unique=("o_orderkey",),
        fk=("o_custkey", load_table(spark, sf_dir, "customer"), "c_custkey"),
    )


@register(
    "events_scd2_user_state",
    """
    WITH e AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), c AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN lag(event_type) OVER w IS DISTINCT FROM event_type
                  THEN 1 ELSE 0 END AS chg
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), r AS (
      SELECT user_id, event_type, ts,
             SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS run
      FROM c
    ), g AS (
      SELECT user_id, run, event_type,
             MIN(ts) AS valid_from, COUNT(*) AS n_rows
      FROM r GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type, valid_from,
           lead(valid_from) OVER (PARTITION BY user_id ORDER BY run)
             AS valid_to,
           n_rows
    FROM g
    """,
)
def events_scd2_user_state(spark, sf_dir):
    """SCD2 dimension build from the event log: per user, consecutive
    same-type runs collapse to [valid_from, valid_to) validity
    intervals (open current row) -- the point-in-time dimension an
    as-of join probes.  One key-partitioned shuffle carries all three
    window passes."""
    from .operators.asof import scd2_intervals

    return scd2_intervals(
        load_table(spark, sf_dir, "events"),
        key_col="user_id",
        attr_col="event_type",
        tiebreak_col="event_id",
    )


# Selective-dim threshold for the bloom-pruned join demo: only orders
# above this price reach the dim side, so most lineitem rows are
# prunable before the join exchange.
_BLOOM_JOIN_PRICE = 400_000.0


@register(
    "metric_bloom_pruned_revenue",
    # the strategy's oracle is the PLAIN join: bloom pruning must be
    # invisible in the result
    f"""
    SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS ts,
           ROUND(SUM(l.l_extendedprice), 4) AS whale_lineitem_revenue,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_totalprice > {_BLOOM_JOIN_PRICE}
    GROUP BY 1
    """,
)
def metric_bloom_pruned_revenue(spark, sf_dir):
    """Semi-join reduction: lineitem rows stream through k broadcast
    Bloom probes (map-side, zero shuffle) and only survivors enter the
    join against the whale-order dim -- the explicit runtime-filter
    strategy for selective fact<->dim joins.  The oracle is the plain
    join: pruning must not change the answer.

    Scan budget: orders 3x -- the whale-order dim and its Bloom
    filters are aggregates of the orders scan (stats), probed by the
    lineitem scan (apply); the runtime-filter pattern's stats+apply
    minimum.
    """
    from .operators.skew import bloom_pruned_join

    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > _BLOOM_JOIN_PRICE)
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderdate")
    )
    fact = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    joined = bloom_pruned_join(fact, orders, key_col="l_orderkey")
    return (
        joined.groupBy(
            F.date_trunc("month", "o_orderdate").cast("date").alias("ts")
        )
        .agg(
            F.round(F.sum("l_extendedprice"), 4).alias(
                "whale_lineitem_revenue"
            ),
            F.count("*").alias("n_items"),
        )
    )


@register(
    "merge_orders_upsert",
    """
    WITH t AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 7 <> 0
    ), s AS (
      SELECT o_orderkey, ROUND(o_totalprice * 1.1, 4) AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL
                THEN s.o_totalprice ELSE t.o_totalprice END AS o_totalprice,
           CASE WHEN t.o_orderkey IS NOT NULL AND s.o_orderkey IS NOT NULL
                  THEN 'update'
                WHEN s.o_orderkey IS NOT NULL THEN 'insert'
                ELSE 'keep' END AS action
    FROM t FULL OUTER JOIN s ON t.o_orderkey = s.o_orderkey
    """,
)
def merge_orders_upsert(spark, sf_dir):
    """MERGE INTO as a plan: a deterministic CDC batch (even order
    keys, 10% price bump) reconciled into a snapshot missing every 7th
    key -- matched keys update, new keys insert, untouched keys keep.
    One full-outer shuffle on the key; the action column doubles as
    the change feed."""
    from .operators.merge import merge_upsert

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    target = o.where(F.col("o_orderkey") % 7 != 0)
    source = o.where(F.col("o_orderkey") % 2 == 0).withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") * 1.1, 4)
    )
    return merge_upsert(target, source, key_col="o_orderkey")


@register(
    "dedup_graph_triangle_stats",
    f"""
    WITH edges AS ({_minhash_oracle()}),
    deg AS (
      SELECT v, COUNT(*) AS d FROM (
        SELECT id_a AS v FROM edges UNION ALL SELECT id_b FROM edges
      ) GROUP BY 1
    ), w AS (
      SELECT COALESCE(SUM((d * (d - 1)) // 2), 0) AS n_wedges FROM deg
    ), t AS (
      SELECT COUNT(*) AS n_triangles
      FROM edges e1
      JOIN edges e2 ON e1.id_b = e2.id_a
      JOIN edges e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
    )
    SELECT (SELECT COUNT(*) FROM edges) AS n_edges,
           CAST(w.n_wedges AS BIGINT) AS n_wedges,
           t.n_triangles,
           ROUND(3.0 * t.n_triangles / GREATEST(w.n_wedges, 1), 6)
             AS clustering_coeff
    FROM w, t
    """,
)
def dedup_graph_triangle_stats(spark, sf_dir):
    """Duplication-graph health: triangle count + global clustering
    coefficient of the MinHash candidate graph (triangle-dense =>
    template farms collapsing into big clusters; triangle-free =>
    pairwise noise).  Two self-equi-joins of the id-oriented edge
    frame -- the node-iterator triangle algorithm."""
    from .operators.graph import triangle_stats

    edges = dedup.minhash_lsh_candidates(
        load_table(spark, sf_dir, "documents"), k=_K, bands=_BANDS
    )
    return triangle_stats(edges)


@register(
    "events_markov_transitions",
    """
    WITH e AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), p AS (
      SELECT event_type AS next_type,
             lag(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS prev_type
      FROM e
    ), c AS (
      SELECT prev_type, next_type, COUNT(*) AS n
      FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2
    )
    SELECT prev_type, next_type, n,
           ROUND(n::DOUBLE / SUM(n) OVER (PARTITION BY prev_type), 6)
             AS p_next
    FROM c
    """,
)
def events_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: P(next event type | current), (ts, id)-tiebroken lag
    pairs, row-normalized per source state -- the behavioral
    sequence-model feature.  Two shuffles: the per-user lag window and
    the transition-count aggregate (the normalizing window rides the
    tiny (types x types) frame)."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    ).where(F.col("prev_type").isNotNull())
    counts = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n")
    )
    w_norm = W.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(w_norm), 6).alias("p_next"),
    )


_PATHS_TOPK = 20


@register(
    "events_top_paths",
    f"""
    WITH e AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), lagged AS (
      SELECT user_id, event_type AS e3,
             lag(event_type, 1) OVER w AS e2,
             lag(event_type, 2) OVER w AS e1
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), paths AS (
      SELECT e1 || ' > ' || e2 || ' > ' || e3 AS path, COUNT(*) AS n
      FROM lagged WHERE e1 IS NOT NULL GROUP BY 1
    )
    SELECT path, n FROM paths
    ORDER BY n DESC, path ASC LIMIT {_PATHS_TOPK}
    """,
)
def events_top_paths(spark, sf_dir):
    """Top event paths: the {_PATHS_TOPK} most frequent length-3
    event-type sequences across per-user timelines ((ts, id)-tiebroken
    double lag -> count -> deterministic top-k) -- the product-analytics
    'common journeys' query.  One user-partitioned window shuffle, one
    partial-aggregated count, TakeOrdered for the k rows."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = e.select(
        F.col("event_type").alias("e3"),
        F.lag("event_type", 1).over(w).alias("e2"),
        F.lag("event_type", 2).over(w).alias("e1"),
    ).where(F.col("e1").isNotNull())
    return (
        lagged.select(
            F.concat_ws(" > ", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("path").asc())
        .limit(_PATHS_TOPK)
    )


def _benford_expected() -> dict[int, float]:
    """log10(1 + 1/d) leading-digit expectation, precomputed in Python
    and embedded as literals in BOTH plans so neither engine computes a
    transcendental."""
    import math

    return {d: round(math.log10(1 + 1 / d), 6) for d in range(1, 10)}


@register(
    "dq_benford_order_values",
    f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                  AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ), c AS (
      SELECT digit, COUNT(*) AS n FROM d GROUP BY 1
    ), t AS (SELECT SUM(n) AS total FROM c),
    exp AS (
      SELECT * FROM (VALUES
        {", ".join(f"({d}, {p})" for d, p in _benford_expected().items())}
      ) AS v(digit, exp_frac)
    )
    SELECT c.digit, c.n,
           ROUND(c.n::DOUBLE / t.total, 6) AS obs_frac,
           CAST(exp.exp_frac AS DOUBLE) AS exp_frac
    FROM c JOIN exp USING (digit), t
    """,
)
def dq_benford_order_values(spark, sf_dir):
    """Benford's-law screen on order values (the classic synthetic /
    fabricated-amounts detector): observed leading-digit fractions
    beside the log10(1 + 1/d) expectation.  The truncated-integer
    leading digit is pure string/int arithmetic; the expectation table
    is Python-precomputed literals broadcast into the plan, so both
    engines replay every fraction exactly.  (The driver's synthetic
    uniform-ish prices will NOT follow Benford -- the deviation is the
    point of publishing obs beside exp.)"""
    expected = _benford_expected()
    exp_df = spark.createDataFrame(
        [(d, p) for d, p in expected.items()], "digit int, exp_frac double"
    )
    o = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") >= 1
    )
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        ).cast("int").alias("digit")
    )
    counts = digits.groupBy("digit").agg(F.count("*").alias("n"))
    # total via a window over the <=9-row counts frame: a separate
    # agg would re-derive the counts subtree from a second scan
    from pyspark.sql import Window as W

    total = F.sum("n").over(W.partitionBy())
    return (
        counts.join(F.broadcast(exp_df), "digit")
        .select(
            "digit",
            "n",
            F.round(F.col("n") / total, 6).alias("obs_frac"),
            "exp_frac",
        )
    )


@register(
    "text_zipf_slope",
    _SHINGLE_CTE.split(", sh AS (")[0]
    + """
    , terms AS (
      SELECT t.term FROM tok, unnest(toks) AS t(term) WHERE t.term <> ''
    ), tc AS (
      SELECT term, COUNT(*) AS n FROM terms GROUP BY 1
    ), r AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, term ASC) AS rnk
      FROM tc
    )
    SELECT COUNT(*) AS n_terms,
           ROUND(regr_slope(ln(n), ln(rnk)), 4) AS zipf_slope
    FROM r
    """,
)
def text_zipf_slope(spark, sf_dir):
    """Zipf-law fit of the corpus vocabulary: least-squares slope of
    ln(frequency) on ln(rank) (natural language ~ -1; templated or
    synthetic text drifts off) -- a one-number corpus-health statistic
    via the ANSI regression aggregate (regr_slope), which both engines
    define identically.  The rank window runs on the VOCABULARY frame
    (already aggregated), not the corpus; its single-partition
    row_number is |vocab|-sized, the same posture as vocab_top_terms'
    boundary."""
    from dbt_metrics_ingestion_script_spark.operators.dedup import (
        normalize_text,
    )
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        F.explode(F.split(normalize_text("text"), " ")).alias("term")
    ).where(F.col("term") != "")
    tc = terms.groupBy("term").agg(F.count("*").alias("n"))
    r = tc.select(
        "n",
        F.row_number()
        .over(W.orderBy(F.col("n").desc(), F.col("term").asc()))
        .alias("rnk"),
    )
    return r.agg(
        F.count("*").alias("n_terms"),
        F.round(
            F.regr_slope(F.log(F.col("n")), F.log(F.col("rnk"))), 4
        ).alias("zipf_slope"),
    )


@register(
    "events_props_variant_agg",
    """
    SELECT event_type,
           CAST(SUM(json_extract_string(props, '$.k')::BIGINT) AS BIGINT)
             AS sum_k,
           COUNT(json_extract_string(props, '$.k')) AS n_with_k
    FROM events GROUP BY 1
    """,
)
def events_props_variant_agg(spark, sf_dir):
    """Semi-structured aggregation through Spark 4's VARIANT type:
    props parse ONCE into a variant (`parse_json`, the binary
    semi-structured encoding) and typed paths project out with
    `variant_get` -- the modern engine path for JSON columns, vs the
    per-path string re-parse of get_json_object.  Missing keys yield
    NULL, which both aggregates skip (oracle parity)."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("__v")
    )
    k = F.variant_get(F.col("__v"), "$.k", "bigint")
    return v.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"),
        F.count(k).alias("n_with_k"),
    )


@register(
    "events_lateness_profile",
    """
    WITH e AS (
      SELECT event_id, ts FROM events WHERE ts IS NOT NULL
    ), l AS (
      SELECT GREATEST(epoch_us(MAX(ts) OVER (ORDER BY event_id
                                             ROWS UNBOUNDED PRECEDING))
                      - epoch_us(ts), 0) AS late_us
      FROM e
    )
    SELECT COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           ROUND(quantile_cont(late_us / 1000000.0, 0.5), 6) AS p50_late_s,
           ROUND(quantile_cont(late_us / 1000000.0, 0.95), 6) AS p95_late_s,
           ROUND(MAX(late_us) / 1000000.0, 6) AS max_late_s
    FROM l
    """,
)
def events_lateness_profile(spark, sf_dir):
    """Event-time lateness profile -- the statistic that TUNES a
    streaming engine's watermark: with arrival order
    proxied by event_id, each event's lateness is the high-water event
    time already seen minus its own timestamp.  p95/max lateness are
    exactly the numbers you set `withWatermark` from.  Integer-
    microsecond arithmetic; the running max is one global-order window
    over (id, ts) pairs only -- at scale, run it per partition-day and
    take the worst, or on an id-ordered sample."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    run_max = F.max(us).over(
        W.orderBy("event_id").rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    late = F.greatest(run_max - us, F.lit(0))
    l = e.select(late.alias("late_us"))
    return l.agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late"),
        F.round(F.percentile(F.col("late_us") / 1e6, F.lit(0.5)), 6).alias(
            "p50_late_s"
        ),
        F.round(F.percentile(F.col("late_us") / 1e6, F.lit(0.95)), 6).alias(
            "p95_late_s"
        ),
        F.round(F.max("late_us") / 1e6, 6).alias("max_late_s"),
    )


_PAIR_MIN_SUPPORT = 5


@register(
    "events_frequent_pairs",
    f"""
    WITH b AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
             event_type
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT a.event_type AS item_a, c.event_type AS item_b,
           COUNT(*) AS support
    FROM b a JOIN b c
      ON a.user_id = c.user_id AND a.day = c.day
         AND a.event_type < c.event_type
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_PAIR_MIN_SUPPORT}
    """,
)
def events_frequent_pairs(spark, sf_dir):
    """Market-basket pair mining: event types co-occurring in the same
    (user, day) basket, counted across baskets with a minimum support
    -- the association-rule first stage.  The basket frame dedups
    first (set semantics: a type twice in one basket is one item), the
    pair join is keyed on the basket id so fan-out is bounded by
    per-basket item count, never corpus-wide."""
    b = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select(
            "user_id",
            F.date_trunc("day", "ts").cast("date").alias("day"),
            "event_type",
        )
        .distinct()
    )
    a, c = b.alias("a"), b.alias("c")
    return (
        a.join(
            c,
            (F.col("a.user_id") == F.col("c.user_id"))
            & (F.col("a.day") == F.col("c.day"))
            & (F.col("a.event_type") < F.col("c.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("item_a"),
            F.col("c.event_type").alias("item_b"),
        )
        .agg(F.count("*").alias("support"))
        .where(F.col("support") >= _PAIR_MIN_SUPPORT)
    )


_CKSUM_BUCKETS = 16


@register(
    "dq_orders_checksum",
    f"""
    WITH r AS (
      SELECT ({_H31_CK.format(x="o_orderkey::VARCHAR")}) % {_CKSUM_BUCKETS}
               AS bucket,
             ({_H31_CK.format(x="concat_ws(chr(31), coalesce(o_orderkey::VARCHAR, chr(1) || 'null'), coalesce(o_custkey::VARCHAR, chr(1) || 'null'), coalesce(o_orderstatus, chr(1) || 'null'))")})
               AS h
      FROM orders
    )
    SELECT bucket, COUNT(*) AS n_rows, CAST(SUM(h) AS BIGINT) AS checksum
    FROM r GROUP BY 1
    """,
)
def dq_orders_checksum(spark, sf_dir):
    """Anti-entropy reconciliation summary: orders collapsed to 16
    (bucket, n_rows, checksum) rows via order-insensitive 31-bit row
    fingerprints -- compare two snapshots/replicas/engines on 2x16
    rows, recurse into mismatched buckets.  The oracle IS the
    cross-engine reconciliation: DuckDB computing identical checksums
    from the same parquet is the operator working.  Int/string columns
    only: double-to-string formatting is engine-specific, the
    documented exclusion."""
    from .operators.dq import checksum_buckets

    return checksum_buckets(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_orderstatus"
        ),
        key_col="o_orderkey",
        n_buckets=_CKSUM_BUCKETS,
    )


@register(
    "embeddings_label_drift",
    f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS vec,
             CASE WHEN vec_id % 2 = 0 THEN 'a' ELSE 'b' END AS epoch
      FROM embeddings
    ), cm AS (
      SELECT label, epoch, i.i AS pos, ROUND(AVG(vec[i.i]), 9) AS m,
             COUNT(DISTINCT vec_id) AS n
      FROM e, unnest(range(1, 65)) AS i(i)
      GROUP BY 1, 2, 3
    ), c AS (
      SELECT label, epoch, list(m ORDER BY pos) AS cvec, MIN(n) AS n
      FROM cm GROUP BY 1, 2
    )
    SELECT a.label,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           ROUND(sqrt(list_dot_product(
             list_transform(range(1, 65), i -> a.cvec[i] - b.cvec[i]),
             list_transform(range(1, 65), i -> a.cvec[i] - b.cvec[i]))), 6)
             AS centroid_l2_shift
    FROM c a JOIN c b ON a.label = b.label
    WHERE a.epoch = 'a' AND b.epoch = 'b'
    """,
)
def embeddings_label_drift(spark, sf_dir):
    """Embedding-space drift monitor: per-label centroid L2 shift
    between two epochs (even/odd vec_id halves stand in for
    time-ordered ingestion batches) -- the statistic that detects a
    changed embedding model or a shifted upstream distribution before
    it poisons dedup thresholds and ANN recall.  Centroids round to 9
    decimals (the k-means discipline) so the oracle's different AVG
    order replays the shift exactly.  One (label, epoch, dim)
    posexplode aggregate -- partial-aggregated, never a vector
    shuffle."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("vec"),
        F.when(F.col("vec_id") % 2 == 0, "a").otherwise("b").alias("epoch"),
    )
    # both epochs as CONDITIONAL aggregates of one (label, pos) pass --
    # an epoch-keyed groupBy self-joined on label would scan the
    # embeddings twice
    xa = F.when(F.col("epoch") == "a", F.col("x"))
    xb = F.when(F.col("epoch") == "b", F.col("x"))
    cm = (
        e.select(
            "label", "epoch", "vec_id",
            F.posexplode("vec").alias("pos", "x"),
        )
        .groupBy("label", "pos")
        .agg(
            F.round(F.avg(xa), 9).alias("ma"),
            F.round(F.avg(xb), 9).alias("mb"),
            F.count_distinct(F.when(F.col("epoch") == "a", F.col("vec_id"))).alias("na"),
            F.count_distinct(F.when(F.col("epoch") == "b", F.col("vec_id"))).alias("nb"),
        )
    )
    # per-dimension squared deltas sum directly: no array rebuild, no
    # self-join -- sqrt of the per-label sum is the centroid shift
    return (
        cm.groupBy("label")
        .agg(
            F.min("na").cast("long").alias("n_a"),
            F.min("nb").cast("long").alias("n_b"),
            F.round(
                F.sqrt(
                    F.sum(
                        (F.col("ma") - F.col("mb"))
                        * (F.col("ma") - F.col("mb"))
                    )
                ),
                6,
            ).alias("centroid_l2_shift"),
        )
    )


_COVERAGE_WINDOW_MIN = 30  # each event opens a 30-minute activity window


@register(
    "events_active_time_coverage",
    f"""
    WITH w AS (
      SELECT user_id, epoch_us(ts) AS s,
             epoch_us(ts) + {_COVERAGE_WINDOW_MIN} * 60 * 1000000 AS e
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), flagged AS (
      SELECT user_id, s, e,
             CASE WHEN s > COALESCE(MAX(e) OVER (
                    PARTITION BY user_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), -1) THEN 1 ELSE 0 END AS new_island
      FROM w
    ), islands AS (
      SELECT user_id, s, e,
             SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY s, e
               ROWS UNBOUNDED PRECEDING
             ) AS island
      FROM flagged
    ), merged AS (
      SELECT user_id, island, MAX(e) - MIN(s) AS span_us
      FROM islands GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_islands,
           ROUND(SUM(span_us) / 1000000.0, 6) AS active_seconds
    FROM merged GROUP BY 1
    """,
)
def events_active_time_coverage(spark, sf_dir):
    """Interval-union coverage: each event opens a 30-minute activity
    window; overlapping windows merge (the classic sweep -- running
    max end, island flag, island spans) and the user's total ACTIVE
    time is the union length, not the sum (double-counting overlaps is
    the classic engagement-metric bug).  Integer-microsecond
    arithmetic; one user-partitioned shuffle carries the sweep, the
    island aggregate, and the final rollup."""
    from pyspark.sql import Window as W

    win_us = _COVERAGE_WINDOW_MIN * 60 * 1_000_000
    e = load_table(spark, sf_dir, "events").where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    s = F.unix_micros(F.col("ts").cast("timestamp"))
    w = e.select(
        "user_id", s.alias("s"), (s + F.lit(win_us)).alias("e")
    )
    order = W.partitionBy("user_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        order.rowsBetween(W.unboundedPreceding, -1)
    )
    flagged = w.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-1)), 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("new_island").over(
            order.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    merged = islands.groupBy("user_id", "island").agg(
        (F.max("e") - F.min("s")).alias("span_us")
    )
    return merged.groupBy("user_id").agg(
        F.count("*").cast("long").alias("n_islands"),
        F.round(F.sum("span_us") / 1e6, 6).alias("active_seconds"),
    )


@register(
    "dq_orderkey_gaps",
    """
    WITH k AS (
      SELECT o_orderkey AS k,
             LEAD(o_orderkey) OVER (ORDER BY o_orderkey) AS nxt
      FROM orders WHERE o_orderkey IS NOT NULL
    )
    SELECT k + 1 AS gap_start, nxt - 1 AS gap_end,
           CAST(nxt - k - 1 AS BIGINT) AS n_missing
    FROM k WHERE nxt - k > 1
    """,
)
def dq_orderkey_gaps(spark, sf_dir):
    """Sequence-gap audit: runs of missing order keys ((k+1, next-1)
    intervals from a lead window) -- the completeness check for
    monotonically-assigned ids, catching dropped ingestion batches.
    The single global-order window runs over the KEY column only; at
    100 TB, range-partition by key block and stitch block boundaries
    (the distributed-prefix-sum discipline)."""
    from pyspark.sql import Window as W

    k = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderkey").isNotNull()
    ).select(F.col("o_orderkey").alias("k"))
    nxt = F.lead("k").over(W.orderBy("k"))
    return (
        k.withColumn("nxt", nxt)
        .where(F.col("nxt") - F.col("k") > 1)
        .select(
            (F.col("k") + 1).alias("gap_start"),
            (F.col("nxt") - 1).alias("gap_end"),
            (F.col("nxt") - F.col("k") - 1).cast("long").alias("n_missing"),
        )
    )


_WAU_DAYS = 7


@register(
    "events_dau_wau_stickiness",
    f"""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), dau AS (
      SELECT day, COUNT(*) AS dau FROM du GROUP BY 1
    ), contrib AS (
      SELECT DISTINCT t.target_day, du.user_id
      FROM du, unnest(generate_series(du.day, du.day + {_WAU_DAYS - 1}, INTERVAL 1 DAY))
             AS t(target_day)
    ), wau AS (
      SELECT CAST(target_day AS DATE) AS day, COUNT(*) AS wau
      FROM contrib GROUP BY 1
    )
    SELECT dau.day, dau.dau, wau.wau,
           ROUND(dau.dau / wau.wau, 6) AS stickiness
    FROM dau JOIN wau USING (day)
    """,
)
def events_dau_wau_stickiness(spark, sf_dir):
    """DAU/WAU stickiness: daily actives over trailing-7-day actives
    -- the engagement ratio.  Sliding-window DISTINCT is not
    re-aggregable, so each (day, user) pair fans out to the 7 target
    days it contributes to (bounded x7 explode), dedups, and counts --
    the exact-distinct sliding window as one explode + two
    partial-aggregated shuffles, never a per-day re-scan.  (The HLL
    sketch rollup is the approximate swap when x{_WAU_DAYS} is too
    much.)  Days appear when they have activity (inner join, matching
    the oracle)."""
    du = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
        )
        .distinct()
    )
    dau = du.groupBy("day").agg(F.count("*").alias("dau"))
    contrib = (
        du.select(
            F.explode(
                F.expr(
                    f"sequence(day, date_add(day, {_WAU_DAYS - 1}), interval 1 day)"
                )
            ).alias("day"),
            "user_id",
        )
        .distinct()
    )
    wau = contrib.groupBy("day").agg(F.count("*").alias("wau"))
    return dau.join(wau, "day").select(
        "day",
        "dau",
        "wau",
        F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
    )


@register(
    "events_wau_approx_bound",
    # the sketch estimate is not SQL-reproducible; the self-verifying
    # oracle pattern (metric_approx_customer_count / sketch rollup):
    # output the EXACT window distinct plus an in-plan bound check the
    # oracle predicts TRUE everywhere
    f"""
    WITH du AS (
      SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ), contrib AS (
      SELECT DISTINCT CAST(t.target_day AS DATE) AS day, du.user_id
      FROM du, unnest(generate_series(du.day, du.day + 6, INTERVAL 1 DAY))
             AS t(target_day)
    ), w AS (
      SELECT day, COUNT(*) AS wau FROM contrib GROUP BY 1
    )
    SELECT day, wau, TRUE AS est_within_10pct
    FROM w WHERE day <= (SELECT MAX(day) FROM du)
    """,
)
def events_wau_approx_bound(spark, sf_dir):
    """The approximate swap the stickiness metric documents: trailing
    7-day distinct users via MERGEABLE daily HLL sketches (one sketch
    per day, window-unioned -- daily sketches are computed once and
    reused by every window that covers them, the mergeability that
    makes sliding distinct cheap at scale).  The estimate itself is
    sketch-implementation-specific, so the query emits the EXACT
    window distinct plus an in-plan <=10% relative-error check the
    oracle predicts TRUE for every row.

    Scan budget: events 3x -- deliberate self-verification: the exact
    sliding distinct runs beside the sketch path so the error bound is
    checked in-plan; production runs the sketch side alone (1 scan).
    """
    from pyspark.sql import Window as W

    du = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.date_trunc("day", "ts").cast("date").alias("day"), "user_id"
        )
        .distinct()
    )
    daily = du.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("__sk")
    )
    # trailing-7-day union over the day index (RANGE over integer
    # day numbers so calendar gaps still consume window width)
    idx = F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
    w = (
        W.orderBy(idx.cast("long"))
        .rangeBetween(-6, 0)
    )
    est = daily.select(
        "day",
        F.hll_sketch_estimate(F.hll_union_agg("__sk").over(w)).alias("__est"),
    )
    exact = (
        du.select(
            F.explode(
                F.expr("sequence(day, date_add(day, 6), interval 1 day)")
            ).alias("day"),
            "user_id",
        )
        .distinct()
        .groupBy("day")
        .agg(F.count("*").alias("wau"))
    )
    max_day = du.agg(F.max("day").alias("__mx"))
    return (
        exact.join(est, "day")
        .crossJoin(F.broadcast(max_day))
        .where(F.col("day") <= F.col("__mx"))
        .select(
            "day",
            "wau",
            (
                F.abs(F.col("__est") - F.col("wau")) / F.col("wau") <= 0.10
            ).alias("est_within_10pct"),
        )
    )
