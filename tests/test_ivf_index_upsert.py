"""Incremental maintenance of the materialized IVF+PQ store
(ivf_pq_index_upsert, VERDICT r11 item 3): the upsert must be a pure
APPEND -- every data file the base build wrote stays byte-identical,
the new batch lands inside the existing centroid_id partition layout,
and the merged store serves exactly the base+batch corpus assigned to
the BASE-trained centroids/codebooks (no re-clustering).
"""

from __future__ import annotations

import hashlib
import os

import pytest

from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark.operators import similarity
from dbt_metrics_ingestion_script_spark.sinks import versioned
from dbt_metrics_ingestion_script_spark.sources.tables import load_table


def _data_files(base_path: str) -> dict[str, str]:
    """{relative path: md5} of every parquet DATA file in the store's
    CURRENT version (markers like _SUCCESS are rewritten by append by
    design; superseded versions are retained separately for pinned
    readers and excluded here by resolving the pointer first)."""
    store = versioned.resolve(base_path)
    out = {}
    for root, _, files in os.walk(store):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, store)] = hashlib.md5(
                        fh.read()
                    ).hexdigest()
    return out


def _part(spark, base_path: str, name: str):
    """Read one part of the store's current version (pointer-resolved)."""
    return spark.read.parquet(
        os.path.join(versioned.resolve(base_path), name)
    )


@pytest.mark.slow
def test_upsert_appends_without_rewriting_base_files(
    spark, sf_dir, tmp_path
):
    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % 5 == 4
    base, batch = emb.where(~is_batch), emb.where(is_batch)
    path = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(base, path, n_centroids=8)
    before = _data_files(path)
    assert before, "base build wrote no data files"

    similarity.ivf_pq_index_upsert(batch, path)
    after = _data_files(path)

    # 1. every base data file is untouched, byte for byte
    for rel, digest in before.items():
        assert after.get(rel) == digest, f"base file rewritten: {rel}"
    # 2. the upsert added files (the batch's rows) without deleting any
    new_files = set(after) - set(before)
    assert new_files
    # ... and only inside the existing partitioned parts (plus the
    # KB-sized per-batch health row)
    assert all(
        rel.startswith(("assignments", "codes", "health"))
        for rel in new_files
    ), new_files
    # 3. new data files land inside centroid_id=<existing cell>
    #    directories: the batch was assigned to the BASE index's cells
    base_cells = {
        rel.split(os.sep)[1]
        for rel in before
        if rel.startswith("assignments")
    }
    for rel in new_files:
        if rel.startswith("health"):
            continue
        assert rel.split(os.sep)[1] in base_cells, rel

    # 4. the merged store covers base + batch exactly once
    merged_asg = _part(spark, path, "assignments")
    merged_codes = _part(spark, path, "codes")
    n_all = emb.count()
    assert merged_asg.count() == n_all
    assert merged_asg.select("id").distinct().count() == n_all
    assert merged_codes.count() == n_all * 8  # m=8 rows per vector
    # centroids/codebooks are immutable: still the BASE-trained ones
    cents = _part(spark, path, "centroids")
    base_cents = similarity.ivf_index(base, n_centroids=8)[1]
    assert sorted(map(tuple, cents.collect())) == sorted(
        map(tuple, base_cents.collect())
    )


def test_upsert_assignment_matches_base_trained_index(
    spark, sf_dir, tmp_path
):
    """The batch's stored cell assignments equal assigning base+batch
    against the base-trained centroids inline -- the 'no re-clustering'
    half of the contract, checked on values, not just layout."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % 5 == 4
    base, batch = emb.where(~is_batch), emb.where(is_batch)
    path = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(base, path, n_centroids=8)
    similarity.ivf_pq_index_upsert(batch, path)

    _, base_cents = similarity.ivf_index(base, n_centroids=8)
    vecs = emb.select(
        F.col("vec_id").alias("id"),
        similarity.as_double("embedding").alias("vec"),
    )
    expected = {
        r["id"]: r["centroid_id"]
        for r in similarity._assign_cells(vecs, base_cents).collect()
    }
    stored = {
        r["id"]: r["centroid_id"]
        for r in _part(spark, path, "assignments").collect()
    }
    assert stored == expected


def test_materialize_with_upsert_is_idempotent(spark, sf_dir, tmp_path):
    """The registered query's construction path: base build + upsert
    promote atomically, so a second invocation is a no-op -- NOT a
    double append (the failure mode a bare upsert-after-materialize
    sequence would have on a warm store)."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % 5 == 4
    path = str(tmp_path / "store")
    for _ in range(2):
        similarity.materialize_ivf_pq_index(
            emb.where(~is_batch), path, n_centroids=8,
            upsert=emb.where(is_batch),
        )
    merged = _part(spark, path, "assignments")
    assert merged.count() == emb.count()


def test_registered_upsert_served_query_prunes_partitions(spark, sf_dir):
    """The upsert-served driver query keeps the materialized-serving
    plan contract: dynamic partition pruning on the merged store's
    candidates scan, embeddings x0 at serve time (the query batch is a
    checkpoint leaf), store scans = 2 assignments + 1 codes -- the
    append-maintained store must serve exactly like the monolithic one
    (test_ivf_materialized_serving's lock, applied to the merged
    store)."""
    from dbt_metrics_ingestion_script_spark.queries_ext import (
        similarity_ivf_pq_index_upsert_served,
    )

    df = similarity_ivf_pq_index_upsert_served(spark, sf_dir)
    jmode = (
        spark._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("formatted")
    )
    plan = df._jdf.queryExecution().explainString(jmode)
    dpp_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "dynamicpruning" in ln
    ]
    assert dpp_lines and any("centroid_id" in ln for ln in dpp_lines), plan
    assert plan.count("embeddings.parquet") == 0, plan
    assert "ExistingRDD" in plan, plan
    assert plan.count("/assignments") == 2, plan
    assert plan.count("/codes") == 1, plan


def test_compaction_collapses_files_and_preserves_contents(
    spark, sf_dir, tmp_path
):
    """compact_ivf_pq_index: after several appends each cell directory
    holds one file per batch; compaction rewrites to ONE file per cell
    with identical row sets (the small-files tax paid once, not on
    every probe)."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(
        emb.where(F.col("vec_id") % 5 < 3), path, n_centroids=8
    )
    for rem in (3, 4):
        similarity.ivf_pq_index_upsert(
            emb.where(F.col("vec_id") % 5 == rem), path
        )
    before_rows = sorted(
        map(
            tuple,
            _part(spark, path, "assignments")
            .drop("vec")
            .collect(),
        )
    )
    files_before = [
        f for f in _data_files(path) if f.startswith("assignments")
    ]
    per_cell = {}
    for f in files_before:
        per_cell.setdefault(f.split(os.sep)[1], []).append(f)
    assert any(len(v) > 1 for v in per_cell.values()), per_cell

    similarity.compact_ivf_pq_index(spark, path)

    files_after = [
        f for f in _data_files(path) if f.startswith("assignments")
    ]
    per_cell_after = {}
    for f in files_after:
        per_cell_after.setdefault(f.split(os.sep)[1], []).append(f)
    assert set(per_cell_after) == set(per_cell)
    assert all(len(v) == 1 for v in per_cell_after.values()), per_cell_after
    after_rows = sorted(
        map(
            tuple,
            _part(spark, path, "assignments")
            .drop("vec")
            .collect(),
        )
    )
    assert after_rows == before_rows
    # codes and the KB parts survive too
    assert _part(spark, path, "codes").count() == len(
        before_rows
    ) * 8
    assert _part(spark, path, "centroids").count() == 8


def test_delete_tombstones_hide_rows_and_compaction_drops_them(
    spark, sf_dir, tmp_path
):
    """ivf_pq_index_delete: an append-only tombstone set that (a) a
    serving anti-join makes invisible immediately, and (b) the next
    compaction applies physically (rows gone from the cells, deletes
    part cleared)."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(emb, path, n_centroids=8)
    n_all = emb.count()
    gone = emb.where(F.col("vec_id") % 7 == 3).select(
        F.col("vec_id").alias("id")
    )
    n_gone = gone.count()
    assert 0 < n_gone < n_all

    before = _data_files(path)
    similarity.ivf_pq_index_delete(gone, path)
    after = _data_files(path)
    # delete is append-only: every pre-existing data file untouched
    for rel, digest in before.items():
        assert after.get(rel) == digest, rel
    assert any(rel.startswith("deletes") for rel in set(after) - set(before))

    # (a) serving subtraction: the anti-joined assignments view holds
    # exactly the survivors
    deletes = similarity.read_ivf_pq_index_deletes(spark, path)
    assert deletes is not None and deletes.count() == n_gone
    asg = _part(spark, path, "assignments")
    survivors = asg.join(F.broadcast(deletes), "id", "left_anti")
    assert survivors.count() == n_all - n_gone
    assert (
        survivors.join(deletes, "id").count() == 0
    )

    # (b) compaction applies tombstones physically and clears them
    # (the superseded version is retained, so the lazy `deletes` frame
    # stays valid across the swap -- but collect eagerly anyway to pin
    # the expected set).
    gone_ids = {r["id"] for r in deletes.collect()}
    similarity.compact_ivf_pq_index(spark, path)
    asg2 = _part(spark, path, "assignments")
    assert asg2.count() == n_all - n_gone
    left = {r["id"] for r in asg2.select("id").collect()}
    assert not (left & gone_ids)
    codes2 = _part(spark, path, "codes")
    assert codes2.count() == (n_all - n_gone) * 8
    assert similarity.read_ivf_pq_index_deletes(spark, path) is None


def test_compaction_is_reader_atomic_via_version_pointer(
    spark, sf_dir, tmp_path
):
    """VERDICT r12 item 2: the store is versioned (base/v{N}/ + a
    `_current` pointer written last), so compaction never races a
    reader.  A reader that resolved the pointer BEFORE a compaction
    keeps a complete v1 snapshot (retained, byte-identical) and its
    lazy frames still evaluate; a reader resolving AFTER sees v2; the
    superseded version survives until versioned.vacuum explicitly
    prunes it."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(
        emb.where(F.col("vec_id") % 5 < 4), path, n_centroids=8
    )
    similarity.ivf_pq_index_upsert(emb.where(F.col("vec_id") % 5 == 4), path)

    # reader A pins v1: resolves the pointer once, holds lazy frames
    v1 = versioned.resolve(path)
    assert os.path.basename(v1) == "v1"
    pinned = similarity.read_ivf_pq_index(spark, path)
    n_all = emb.count()
    v1_files = _data_files(path)

    # maintenance: a delete lands, then a concurrent compaction swaps
    gone = emb.where(F.col("vec_id") % 11 == 1).select(
        F.col("vec_id").alias("id")
    )
    n_gone = gone.count()
    similarity.ivf_pq_index_delete(gone, path)
    similarity.compact_ivf_pq_index(spark, path)

    # the pointer now names v2; v1 is RETAINED with every file intact
    v2 = versioned.resolve(path)
    assert os.path.basename(v2) == "v2" and os.path.isdir(v1)
    v1_after = {
        os.path.relpath(os.path.join(root, f), v1)
        for root, _, fs in os.walk(v1)
        for f in fs
        if f.endswith(".parquet")
    }
    assert set(v1_files) <= v1_after

    # reader A (pinned pre-swap) still evaluates its v1 snapshot:
    # full pre-delete corpus, mid-swap and post-swap
    assert pinned["assignments"].count() == n_all
    # reader B (resolves post-swap) sees the compacted v2: tombstones
    # applied physically
    fresh = similarity.read_ivf_pq_index(spark, path)
    assert fresh["assignments"].count() == n_all - n_gone

    # the pointer file is tiny and atomic-replace written
    with open(os.path.join(path, "_current")) as f:
        assert f.read().strip() == "v2"

    # vacuum prunes exactly the superseded version
    removed = versioned.vacuum(path)
    assert removed == [v1]
    assert not os.path.exists(v1) and os.path.isdir(v2)
    # and the current version still serves
    assert (
        similarity.read_ivf_pq_index(spark, path)["assignments"].count()
        == n_all - n_gone
    )


def test_drift_health_flips_rebuild_recommendation(
    spark, sf_dir, tmp_path
):
    """VERDICT r12 item 6: each build/upsert leaves a p50/p95
    distance-to-centroid health row in the store; ivf_pq_store_health
    recommends a rebuild exactly when an upsert batch stops fitting
    the build-time centroids -- an in-distribution batch does not flip
    it, an out-of-distribution (affinely shifted) batch does, and the
    history survives compaction verbatim."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % 5 == 4
    path = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(
        emb.where(~is_batch), path, n_centroids=8
    )
    h0 = similarity.ivf_pq_store_health(spark, path).collect()
    assert [r["kind"] for r in h0] == ["build"]
    assert h0[0]["seq"] == 0 and h0[0]["drift_ratio"] == 1.0
    assert not h0[0]["rebuild_recommended"]

    # in-distribution upsert: fits the centroids, no rebuild
    similarity.ivf_pq_index_upsert(emb.where(is_batch), path)
    h1 = {r["seq"]: r for r in similarity.ivf_pq_store_health(spark, path).collect()}
    assert h1[1]["kind"] == "upsert"
    assert not h1[1]["rebuild_recommended"], h1[1]

    # out-of-distribution upsert (x*3 + 1, fresh ids): flips it
    drifted = emb.where(is_batch).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: x.cast("double") * F.lit(3.0) + F.lit(1.0),
        ).alias("embedding"),
    )
    similarity.ivf_pq_index_upsert(drifted, path)
    h2 = {r["seq"]: r for r in similarity.ivf_pq_store_health(spark, path).collect()}
    assert h2[2]["kind"] == "upsert"
    assert h2[2]["rebuild_recommended"], h2[2]
    assert h2[2]["drift_ratio"] > h2[1]["drift_ratio"] >= 1.0

    # the history (and the recommendation) survives compaction
    similarity.compact_ivf_pq_index(spark, path)
    h3 = sorted(
        map(tuple, similarity.ivf_pq_store_health(spark, path).collect())
    )
    assert h3 == sorted(map(tuple, h2.values()))


def test_rebuild_retrains_resets_health_and_respects_tombstones(
    spark, sf_dir, tmp_path
):
    """rebuild_ivf_pq_index -- the action rebuild_recommended points
    at: retrains centroids/codebooks from the store's own corpus
    (upserts included, tombstones excluded), publishes v{N+1} behind
    the atomic pointer (pinned readers keep their snapshot), resets
    the health history to a fresh build baseline, and equals a
    monolithic build over the merged corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    is_batch = F.col("vec_id") % 5 == 4
    path = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(
        emb.where(~is_batch), path, n_centroids=8
    )
    # drifted upsert: recommendation flips (the rebuild trigger)
    drifted = emb.where(is_batch).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding"),
            lambda x: x.cast("double") * F.lit(3.0) + F.lit(1.0),
        ).alias("embedding"),
    )
    similarity.ivf_pq_index_upsert(drifted, path)
    h = similarity.ivf_pq_store_health(spark, path).collect()
    assert any(r["rebuild_recommended"] for r in h)
    # tombstone a slice of the base corpus before rebuilding (only ids
    # actually IN the store -- the batch rows live under drifted ids)
    gone = emb.where((F.col("vec_id") % 9 == 2) & ~is_batch).select(
        F.col("vec_id").alias("id")
    )
    n_gone = gone.count()
    similarity.ivf_pq_index_delete(gone, path)

    pinned = similarity.read_ivf_pq_index(spark, path)
    old_cents = sorted(map(tuple, pinned["centroids"].collect()))
    n_before = pinned["assignments"].count()

    similarity.rebuild_ivf_pq_index(spark, path, n_centroids=8)

    # version bumped; pinned reader keeps its full pre-rebuild snapshot
    assert os.path.basename(versioned.resolve(path)) == "v2"
    assert pinned["assignments"].count() == n_before

    fresh = similarity.read_ivf_pq_index(spark, path)
    # tombstoned rows are gone; upserted rows survive
    assert fresh["assignments"].count() == n_before - n_gone
    assert similarity.read_ivf_pq_index_deletes(spark, path) is None
    # centroids RETRAINED over the drifted corpus: not the old ones
    new_cents = sorted(map(tuple, fresh["centroids"].collect()))
    assert new_cents != old_cents
    # health reset: a single fresh build baseline, nothing recommended
    h2 = similarity.ivf_pq_store_health(spark, path).collect()
    assert [r["kind"] for r in h2] == ["build"]
    assert h2[0]["drift_ratio"] == 1.0
    assert not h2[0]["rebuild_recommended"]
    # equals a monolithic build over the merged corpus (same ids ->
    # same deterministic seeding): assignment sets identical
    merged = (
        emb.where(~is_batch & ~(F.col("vec_id") % 9 == 2))
        .select("vec_id", "embedding")
        .unionByName(drifted)
    )
    mono_asg, _ = similarity.ivf_index(merged, n_centroids=8)
    want = {
        (r["id"], r["centroid_id"]) for r in mono_asg.collect()
    }
    got = {
        (r["id"], r["centroid_id"])
        for r in fresh["assignments"].select("id", "centroid_id").collect()
    }
    assert got == want


def test_vacuum_retention_lease_refuses_young_versions(
    spark, sf_dir, tmp_path
):
    """VERDICT r13 item 6: vacuum holds a retention lease -- a
    superseded version younger than `retain_sec` (measured from the
    publish that superseded it, recorded in the `_publish_log`
    sidecar) is REFUSED, so an early vacuum cannot strand a reader
    that resolved the pointer just before the swap.  Once the horizon
    passes (retain_sec=0 here), the same call prunes it."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 7 == 0
    )
    path = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(emb, path, n_centroids=4)
    similarity.compact_ivf_pq_index(spark, path)
    v1 = os.path.join(path, "v1")
    assert os.path.isdir(v1)
    # publish log carries one line per publish: v1 (build), v2 (compact)
    log = versioned.read_publish_log(path)
    assert [v for v, _ in log] == ["v1", "v2"]
    # v1 was superseded seconds ago: a 1h lease refuses to remove it
    assert versioned.vacuum(path, retain_sec=3600.0) == []
    assert os.path.isdir(v1)
    # horizon elapsed (0s lease): the same vacuum prunes it
    assert versioned.vacuum(path, retain_sec=0.0) == [v1]
    assert not os.path.exists(v1)


def test_vacuum_never_touches_inflight_maintenance_dirs(
    spark, sf_dir, tmp_path
):
    """ADVICE r13: compaction/rebuild stage under dot-prefixed temp
    dirs and promote with one rename, so a concurrent vacuum -- which
    only considers v{N} dirs -- can never rmtree a
    half-written next version.  Pin the invariant: a staged dir
    survives vacuum; compaction leaves no stray staging dirs behind."""
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 7 == 0
    )
    path = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(emb, path, n_centroids=4)
    staged = os.path.join(path, ".compact_deadbeef")
    os.makedirs(os.path.join(staged, "assignments"))
    similarity.compact_ivf_pq_index(spark, path)
    assert versioned.vacuum(path) == [
        os.path.join(path, "v1")
    ]
    assert os.path.isdir(staged)  # in-flight staging untouched
    # the real compaction cleaned up its own staging dir
    strays = [
        e
        for e in os.listdir(path)
        if e.startswith(".compact_") and e != ".compact_deadbeef"
    ]
    assert strays == []


def test_resolve_raises_clearly_on_dangling_pointer(
    spark, sf_dir, tmp_path
):
    """ADVICE r13: a `_current` pointer naming a version dir that does
    not exist must raise a clear FileNotFoundError naming the missing
    version, not surface later as a confusing parquet-path error.  A
    dir holding the index parts but no pointer is not a store either:
    it raises too, rather than being served as itself."""
    import shutil

    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 7 == 0
    )
    path = str(tmp_path / "store")
    similarity.materialize_ivf_pq_index(emb, path, n_centroids=4)
    bare = str(tmp_path / "bare")
    shutil.copytree(versioned.resolve(path), bare)
    with pytest.raises(FileNotFoundError, match="_current"):
        versioned.resolve(bare)
    with pytest.raises(FileNotFoundError):
        similarity.read_ivf_pq_index(spark, bare)

    with open(os.path.join(path, "_current"), "w") as f:
        f.write("v99\n")
    with pytest.raises(FileNotFoundError, match="v99"):
        versioned.resolve(path)
