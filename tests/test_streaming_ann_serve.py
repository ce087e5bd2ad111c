"""Streaming ANN serving (streaming/ann_serve.py, VERDICT r11 item 6):
DPP does not exist in streaming plans, so the stream path must get the
same pruning through an explicit per-micro-batch probe -> isin
partition filter.  Asserted here on the REAL micro-batch plans captured
inside foreachBatch:

  1. the stored scans carry the probed cells as PartitionFilters;
  2. centroid_id never survives as a post-scan data filter;
  3. the corpus (embeddings.parquet) is absent from the serving plan;
  4. the streamed results equal the batch serve row-for-row.
"""

from __future__ import annotations

import pytest

import os

from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark.operators import similarity
from dbt_metrics_ingestion_script_spark.sinks import versioned
from dbt_metrics_ingestion_script_spark.sources.tables import load_table
from dbt_metrics_ingestion_script_spark.streaming.ann_serve import (
    stream_serve_ivf_pq,
)


def _serve_stream(spark, sf_dir, tmp_path):
    emb = load_table(spark, sf_dir, "embeddings")
    store = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(emb, store, n_centroids=8)

    qbatch = (
        emb.orderBy("vec_id")
        .limit(3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    qdir = str(tmp_path / "qstream")
    qbatch.write.parquet(qdir)
    out_dir = str(tmp_path / "served")
    plans: list[str] = []
    sq = stream_serve_ivf_pq(
        spark.readStream.schema(qbatch.schema).parquet(qdir),
        store,
        out_dir,
        k=5,
        shortlist=20,
        n_probe=2,
        round_digits=6,
        plan_log=plans,
    )
    assert sq.awaitTermination(120), "stream did not drain"
    return emb, store, qbatch, out_dir, plans


def test_stream_serve_prunes_partitions_per_batch(spark, sf_dir, tmp_path):
    emb, store, qbatch, out_dir, plans = _serve_stream(
        spark, sf_dir, tmp_path
    )
    assert plans, "no micro-batch plan captured"
    for plan in plans:
        # 1. probed cells arrive as PARTITION filters on the stored scans
        part_lines = [
            ln for ln in plan.splitlines() if "PartitionFilters" in ln
        ]
        assert part_lines, plan
        assert any("centroid_id" in ln for ln in part_lines), plan
        # 2. ... and never as a post-scan data filter.  Catalyst
        # propagates the isin constraint onto the KB-sized probes frame
        # (fused with its __rn <= n_probe rank filter) -- that one is
        # benign and identifiable by the __rn reference; nothing else
        # may filter centroid_id
        assert not [
            ln
            for ln in plan.splitlines()
            if "Condition" in ln
            and "centroid_id" in ln
            and "__rn" not in ln
        ], plan
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert all("centroid_id" not in ln for ln in pushed), plan
        # 3. the serving plan never scans the corpus
        assert plan.count("embeddings.parquet") == 0, plan

    # 4. row parity with the batch serve over the same (unfiltered) store
    idx = similarity.read_ivf_pq_index(spark, store)
    expected = similarity.ivf_pq_batch_serve(
        idx["assignments"],
        idx["centroids"],
        idx["codes"].select("id", "subspace", "code"),
        idx["codebooks"],
        qbatch.localCheckpoint(eager=False),
        k=5,
        shortlist=20,
        n_probe=2,
        round_digits=6,
    ).collect()
    served = spark.read.parquet(out_dir).collect()
    key = lambda r: (r["query_id"], r["vec_id"])  # noqa: E731
    assert sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"]) for r in served
    ) == sorted(
        (r["query_id"], r["vec_id"], r["cosine_sim"]) for r in expected
    )
    # every query in the batch got its k rows
    per_q = {}
    for r in served:
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert set(per_q.values()) == {5}


@pytest.mark.slow
def test_stream_ingest_equals_batch_upsert(spark, sf_dir, tmp_path):
    """Streaming index maintenance (stream_ingest_ivf_pq): draining the
    ingest batch through MULTIPLE micro-batches must produce exactly
    the store a single batch upsert produces (order-insensitivity), and
    the ingestion must actually have been multi-batch."""
    from dbt_metrics_ingestion_script_spark.streaming.ann_serve import (
        stream_ingest_ivf_pq,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % 5 == 4
    base, batch = emb.where(~is_batch), emb.where(is_batch)

    stream_store = str(tmp_path / "stream_store")
    batch_store = str(tmp_path / "batch_store")
    similarity.materialize_ivf_pq_index(base, stream_store, n_centroids=8)
    similarity.materialize_ivf_pq_index(base, batch_store, n_centroids=8)

    stage = str(tmp_path / "stage")
    os.makedirs(stage)
    b = batch.select("vec_id", "embedding")
    for part in (
        b.where(F.col("vec_id") % 10 == 4),
        b.where(F.col("vec_id") % 10 != 4),
    ):
        part.coalesce(1).write.mode("append").parquet(stage)
    epochs: list[int] = []
    sq = stream_ingest_ivf_pq(
        spark.readStream.schema(b.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage),
        stream_store,
        epoch_log=epochs,
    )
    assert sq.awaitTermination(120), "ingest stream did not drain"
    assert len(epochs) >= 2, epochs  # genuinely multi-batch

    similarity.ivf_pq_index_upsert(batch, batch_store)

    for part in ("assignments", "codes"):
        a = sorted(
            map(
                tuple,
                spark.read.parquet(
                    os.path.join(versioned.resolve(stream_store), part)
                )
                .drop("vec")
                .collect(),
            )
        )
        c = sorted(
            map(
                tuple,
                spark.read.parquet(
                    os.path.join(versioned.resolve(batch_store), part)
                )
                .drop("vec")
                .collect(),
            )
        )
        assert a == c, part
