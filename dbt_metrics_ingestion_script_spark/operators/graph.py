"""Distributed graph statistics over pair frames (EXT).

The dedup family emits *pair graphs* (near-dup candidates, semantic
edges); connected components (operators/dedup.py) answers "which rows
collapse together".  This module answers the orthogonal health
question -- how CLUSTERED is the duplication graph -- via triangle
counting, the canonical distributed-graph benchmark:

- a corpus whose near-dup graph is triangle-dense collapses into few
  big clusters (template farms, mirrors);
- a triangle-free graph of the same edge count is pairwise noise.

Algorithm: edges arrive id-oriented (id_a < id_b), so every triangle
a < b < c is counted exactly once as the wedge (a,b)+(b,c) closed by
(a,c) -- two self-equi-joins of the edge frame, the standard
node-iterator formulation.  At 100 TB the refinement is degree
ordering (orient each edge low-degree -> high-degree before the wedge
join) so hub vertices don't fan out quadratically; with id orientation
the wedge fan-out is bounded by per-id edge counts, which the LSH
band geometry already caps here.  Wedge counts come from a plain
degree aggregate; the global clustering coefficient is
3 * triangles / wedges.

The edge frame is referenced three times (degrees, wedge side, closing
side): pass a persisted/materialized frame at scale or Spark re-derives
it per reference (the duplicate_clusters_star persist discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def triangle_stats(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    eager: bool = True,
) -> DataFrame:
    """One row: (n_edges, n_wedges, n_triangles, clustering_coeff)
    for an id-oriented simple edge frame (a < b, no duplicates --
    callers dedup upstream; duplicate edges would double-count).

    clustering_coeff = 3 * triangles / wedges (0 when wedge-free),
    rounded to 6 decimals; every other output is an exact integer.

    The edge frame is referenced three times (degrees + both wedge
    sides) and Spark re-derives unpersisted subtrees per reference --
    for a derived edge frame (an LSH candidate build) that triples the
    expensive part.  `eager=True` (default) therefore persists the
    edges, collects the ONE result row driver-side, unpersists, and
    returns it as a literal frame -- the stats-aggregate collect
    pattern, with no leaked cache.  Pass eager=False to keep the fully
    lazy, composable plan (right when the caller already persists
    edges or needs this inside a bigger plan).
    """
    if eager:
        spark = edges.sparkSession
        cached = edges.persist()
        try:
            row = triangle_stats(
                cached, a_col=a_col, b_col=b_col, eager=False
            ).collect()[0]
        finally:
            cached.unpersist()
        return spark.createDataFrame(
            [row],
            "n_edges long, n_wedges long, n_triangles long, "
            "clustering_coeff double",
        )
    e = edges.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
    n_edges = e.agg(F.count("*").alias("n_edges"))
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count("*").alias("d"))
    )
    wedges = deg.agg(
        F.coalesce(
            F.sum(F.expr("(d * (d - 1)) DIV 2")), F.lit(0)
        ).alias("n_wedges")
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e1.b") == F.col("e2.a"))
        .join(
            e3,
            (F.col("e3.a") == F.col("e1.a"))
            & (F.col("e3.b") == F.col("e2.b")),
        )
        .agg(F.count("*").alias("n_triangles"))
    )
    return (
        n_edges.crossJoin(wedges)
        .crossJoin(tri)
        .select(
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.round(
                3.0 * F.col("n_triangles")
                / F.greatest(F.col("n_wedges"), F.lit(1)),
                6,
            ).alias("clustering_coeff"),
        )
    )


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    damping: float = 0.85,
    iterations: int = 5,
    round_dp: int = 9,
) -> DataFrame:
    """PageRank by fixed-iteration power method over an edge frame --
    (node, pagerank) after `iterations` rounds.

    The metadata-search ranking primitive (which dataset/entity is
    most load-bearing in the lineage graph), and the generic
    centrality op for any pair frame the dedup family emits.

    Semantics (classic Brin-Page with dangling redistribution, so rank
    mass is conserved exactly at every round):

        r_{t+1}(v) = (1-d)/N + d * (SUM_{u->v} r_t(u)/out(u) + m_t/N)

    where m_t is the rank mass sitting on dangling (no-out-edge)
    nodes.  Ranks are rounded to `round_dp` decimals after every
    round: contribution sums are order-dependent at the ulp level, so
    the per-round rounding RE-SYNCHRONIZES any two engines computing
    the same iteration -- drift cannot compound (the discipline that
    makes a chained-CTE SQL replay of all rounds bit-stable).

    Scale shape: the rank frame is NODE-sized and the degree frame is
    joined once onto it, so each round is one edges-to-ranks join plus
    one groupBy(dst) -- at cluster scale pre-partition `edges` by src
    and the per-round join reuses that partitioning with the node-
    sized rank frame broadcast (locally Spark picks broadcast by
    stats).  Lineage discipline: a naive formulation references the
    rank frame twice per round (contribution join + dangling-mass
    aggregate), doubling the plan every iteration -- the
    incremental-clusters lesson (SCALE.md).  Here the dangling mass
    rides the rank frame as a window-summed COLUMN, so each round
    references its predecessor exactly once, lineage grows linearly,
    and the whole loop executes as ONE action; only the edge-derived
    inputs (referenced every round) are eagerly checkpointed up
    front."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg")).localCheckpoint(
        eager=True
    )
    n = nodes.agg(F.count("*").alias("n"))
    ranks = nodes.crossJoin(F.broadcast(n)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("r")
    )
    w_all = Window.partitionBy()
    for _ in range(iterations):
        # ONE reference to the rank frame per round: the dangling mass
        # rides the active frame as a window-summed column instead of a
        # second aggregation over ranks, so lineage grows linearly and
        # the whole loop is a single action -- no per-round checkpoint,
        # no per-round job.
        with_deg = ranks.join(deg, ranks.node == deg.src, "left").select(
            "node", "r", "out_deg"
        )
        with_m = with_deg.withColumn(
            "m",
            F.sum(
                F.when(F.col("out_deg").isNull(), F.col("r")).otherwise(
                    F.lit(0.0)
                )
            ).over(w_all),
        )
        active = with_m.where(F.col("out_deg").isNotNull())
        contrib = (
            e.join(F.broadcast(active), e.src == F.col("node"))
            .groupBy("dst")
            .agg(
                F.sum(F.col("r") / F.col("out_deg")).alias("contrib"),
                F.max("m").alias("m"),
            )
        )
        # a non-empty edge frame always has at least one out-edge node,
        # so contrib is non-empty and max(m) recovers the mass for every
        # node via the post-join window
        ranks = (
            nodes.crossJoin(F.broadcast(n))
            .join(F.broadcast(contrib), nodes.node == contrib.dst, "left")
            .withColumn("m_all", F.max("m").over(w_all))
            .select(
                "node",
                F.round(
                    F.lit(1.0 - damping) / F.col("n")
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("contrib"), F.lit(0.0))
                        + F.col("m_all") / F.col("n")
                    ),
                    round_dp,
                ).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("pagerank"))
