"""The versioned-store protocol (sinks/versioned.py) and the two stores
built on it: the IVF-PQ serving store and the cluster-label store."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark import queries as q
from dbt_metrics_ingestion_script_spark.operators import dedup, similarity
from dbt_metrics_ingestion_script_spark.sinks import versioned
from dbt_metrics_ingestion_script_spark.sources.tables import load_table

from .oracle import assert_matches_oracle

PACKAGE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "dbt_metrics_ingestion_script_spark",
)
PROTOCOL = os.path.join(PACKAGE, "sinks", "versioned.py")

# every registered query that builds or reads a versioned store
STORE_BACKED_QUERIES = [
    "similarity_ivf_pq_batch_topk_served",
    "similarity_ivf_pq_index_upsert_served",
    "similarity_ivf_pq_rebuild_served",
    "similarity_ivf_pq_batch_topk_after_delete",
    "similarity_ivf_store_cell_stats",
    "similarity_ivf_store_drift",
    "dedup_clusters_incremental_vs_corpus_served",
]


def _build_label_store(spark, sf_dir, path):
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["id_a", "id_b"])
    dedup.materialize_label_store(pairs, path)


def _build_ivf_pq_store(spark, sf_dir, path):
    emb = load_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") % 7 == 0
    )
    similarity.materialize_ivf_pq_index(emb, path, n_centroids=4)


@pytest.mark.parametrize(
    "build", [_build_label_store, _build_ivf_pq_store], ids=["labels", "ivf_pq"]
)
def test_failed_promotion_publishes_nothing(
    spark, sf_dir, tmp_path, monkeypatch, build
):
    """A rename that fails for a reason other than a taken version must
    re-raise, leave no `_current` pointer behind (one naming a version
    that never landed would brick the store: every later build sees
    'published' and every read fails), and remove its staging dir."""

    def refuse(src, dst):
        raise PermissionError(13, "Permission denied", dst)

    path = str(tmp_path / "store")
    with monkeypatch.context() as mp, pytest.raises(PermissionError):
        mp.setattr(os, "rename", refuse)
        build(spark, sf_dir, path)
    assert not os.path.exists(os.path.join(path, "_current"))
    assert os.listdir(path) == []


def test_pointer_protocol_has_one_owner():
    """Only sinks/versioned.py knows the pointer file's name, makes it
    durable, swaps it atomically and renames a store into place; every
    store goes through its publish or build_once."""
    owners = {"_current": [], "os.fsync": [], "os.replace": [], "os.rename": []}
    for d, dirs, names in os.walk(PACKAGE):
        dirs[:] = [x for x in dirs if x != "__pycache__"]
        for n in names:
            if not n.endswith(".py"):
                continue
            path = os.path.join(d, n)
            with open(path) as f:
                text = f.read()
            rel = os.path.relpath(path, PACKAGE)
            if '"_current"' in text or "'_current'" in text:
                owners["_current"].append(rel)
            for call in ("os.fsync", "os.replace", "os.rename"):
                if call in text:
                    owners[call].append(rel)
    want = [os.path.relpath(PROTOCOL, PACKAGE)]
    assert owners == {
        "_current": want, "os.fsync": want, "os.replace": want, "os.rename": want
    }


def test_build_once_promotes_one_whole_copy(tmp_path):
    """build_once builds privately and renames once: a second call
    builds nothing, a failed build leaves nothing behind, and a writer
    that loses the race keeps the winner's store."""
    path = str(tmp_path / "store")
    calls = []

    def build(staged):
        calls.append(staged)
        os.makedirs(staged)
        with open(os.path.join(staged, "part"), "w") as f:
            f.write("mine")

    versioned.build_once(path, build)
    versioned.build_once(path, build)
    assert len(calls) == 1
    assert os.listdir(tmp_path) == ["store"]

    def broken(staged):
        os.makedirs(staged)
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        versioned.build_once(str(tmp_path / "broken"), broken)
    assert os.listdir(tmp_path) == ["store"]

    raced = str(tmp_path / "raced")

    def loses_race(staged):
        build(staged)
        os.makedirs(raced)
        with open(os.path.join(raced, "part"), "w") as f:
            f.write("theirs")

    versioned.build_once(raced, loses_race)
    assert sorted(os.listdir(tmp_path)) == ["raced", "store"]
    with open(os.path.join(raced, "part")) as f:
        assert f.read() == "theirs"


@pytest.fixture(scope="module")
def fresh_tempdir(tmp_path_factory):
    """The store-backed queries keep their stores under
    tempfile.gettempdir(); point it at an empty dir so every store is
    built in this run, not served from an earlier one."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(tempfile, "tempdir", str(tmp_path_factory.mktemp("stores")))
        yield


@pytest.mark.parametrize("name", STORE_BACKED_QUERIES)
def test_store_backed_query_matches_oracle(spark, sf_dir, fresh_tempdir, name):
    q.queries()  # force registration
    qd = q.REGISTRY[name]
    assert_matches_oracle(qd.fn(spark, sf_dir), qd.oracle, sf_dir)
