"""Streaming ANN serving from a materialized IVF+PQ store
(VERDICT r11 item 6).

Batch serving gets dynamic partition pruning for free: the broadcast
probe join's build side feeds a dynamicpruningexpression into the
stored scan's PartitionFilters.  STREAMING plans never get DPP (the
rule only plans batch subqueries), so the equivalent posture must be
explicit: per micro-batch, compute the probed cells from the tiny
centroid table, then apply a `centroid_id IN (...)` predicate to the
stored assignments/codes reads -- a STATIC partition filter the parquet
source prunes at file-listing time.  foreachBatch is the right tool:
each query micro-batch is a complete little serving problem (probe ->
prune -> ADC -> re-rank), and the stored index is batch data, not a
stream.

At 100 TB this is the online-serving loop: the store is partitioned by
cell, a query batch opens only its probed cells' files, and nothing of
the corpus is scanned or shuffled.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

from ..operators.similarity import (
    as_double,
    ivf_pq_batch_serve,
    ivf_pq_index_upsert,
)
from ..sinks import versioned


def stream_ingest_ivf_pq(
    embedding_stream: DataFrame,
    store_path: str,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    epoch_log: list | None = None,
):
    """Streaming INDEX MAINTENANCE: new embedding batches arrive as a
    stream and each micro-batch is applied to the materialized store
    with ivf_pq_index_upsert -- assigned to the existing centroids,
    encoded against the existing codebooks, appended into the
    centroid_id partitions.  The online half of the ingest story the
    dedup family already has (streaming semantic ingestion): the index
    a serving fleet reads is maintained BY a stream, not by rebuild
    jobs.  Order-insensitive by construction (assignment depends only
    on the immutable centroids), so any micro-batching of the same
    rows yields the same store.  Returns the started StreamingQuery.

    epoch_log, if given, receives each non-empty micro-batch's epoch id
    (tests assert multi-batch ingestion actually happened)."""

    def ingest_batch(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        if epoch_log is not None:
            epoch_log.append(epoch_id)
        ivf_pq_index_upsert(
            batch, store_path, m=m, dim=dim, id_col=id_col, vec_col=vec_col
        )

    return (
        embedding_stream.writeStream.foreachBatch(ingest_batch)
        .trigger(availableNow=True)
        .start()
    )


def stream_serve_ivf_pq(
    query_stream: DataFrame,
    store_path: str,
    out_dir: str,
    k: int = 10,
    shortlist: int = 30,
    n_probe: int = 4,
    m: int = 8,
    dim: int = 64,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
    round_digits: int | None = None,
    plan_log: list | None = None,
):
    """Serve a stream of query batches from a materialized IVF+PQ store,
    appending per-batch top-k rows to out_dir as parquet.  Returns the
    started StreamingQuery (caller drains/await-terminates it).

    plan_log, if given, receives the formatted physical plan of each
    micro-batch's serve -- tests assert the stored scans carry the
    probed cells as PartitionFilters (never a post-scan data filter)
    and that the corpus is absent from the plan.
    """
    spark = query_stream.sparkSession

    def serve_batch(qb: DataFrame, epoch_id: int) -> None:
        if qb.isEmpty():
            return
        # the serve plan references the query frame 3x (probes,
        # subspace split, re-rank)
        qb2 = qb.localCheckpoint(eager=False)
        # resolve the store's version pointer ONCE per micro-batch:
        # every scan in this batch reads the same version snapshot, so
        # a concurrent compaction republishing the pointer never tears
        # a batch (VERDICT r12 item 2)
        store = versioned.resolve(store_path)
        cents = spark.read.parquet(os.path.join(store, "centroids"))
        books = spark.read.parquet(os.path.join(store, "codebooks"))
        # probe: nearest n_probe cells per query, collected driver-side
        # (B x n_centroids rows -- KB-sized) to become a STATIC
        # partition predicate on the stored scans
        q = qb2.select(
            F.col(query_id_col).alias("qid"),
            as_double(vec_col).alias("__qvec"),
        )
        d2 = F.aggregate(
            F.zip_with(
                F.col("cvec"), F.col("__qvec"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        wp = Window.partitionBy("qid").orderBy(
            F.asc("d2"), F.asc("centroid_id")
        )
        cells = sorted(
            {
                r["centroid_id"]
                for r in cents.crossJoin(F.broadcast(q))
                .select("qid", "centroid_id", d2.alias("d2"))
                .withColumn("__rn", F.row_number().over(wp))
                .where(F.col("__rn") <= n_probe)
                .select("centroid_id")
                .collect()
            }
        )
        # the explicit probe->isin partition filter: only the probed
        # cells' files are listed/opened
        asg = spark.read.parquet(
            os.path.join(store, "assignments")
        ).where(F.col("centroid_id").isin(cells))
        codes = (
            spark.read.parquet(os.path.join(store, "codes"))
            .where(F.col("centroid_id").isin(cells))
            .select("id", "subspace", "code")
        )
        out = ivf_pq_batch_serve(
            asg,
            cents,
            codes,
            books,
            qb2,
            k=k,
            shortlist=shortlist,
            n_probe=n_probe,
            m=m,
            dim=dim,
            query_id_col=query_id_col,
            vec_col=vec_col,
            round_digits=round_digits,
        )
        if plan_log is not None:
            # explain BEFORE the action (AQE's isFinalPlan echo doubles
            # node counts afterwards)
            jmode = (
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted")
            )
            plan_log.append(out._jdf.queryExecution().explainString(jmode))
        out.write.mode("append").parquet(out_dir)

    return (
        query_stream.writeStream.foreachBatch(serve_batch)
        .trigger(availableNow=True)
        .start()
    )
