"""Layer A: manifest frontend + glossary/lineage/properties transforms
vs hand-computed golden oracles, plus pipeline/sink behavior."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark import queries_layer_a as qa
from dbt_metrics_ingestion_script_spark.pipeline import ingest_metrics
from dbt_metrics_ingestion_script_spark.registry import REGISTRY
from dbt_metrics_ingestion_script_spark.sinks import EmissionLogSink, NoopSink, RestSink

from .oracle import assert_matches_oracle

LAYER_A_QUERIES = [
    "manifest_metrics_extraction",
    "manifest_semantic_models",
    "glossary_nodes",
    "glossary_terms",
    "lineage_upstream_resolution",
    "lineage_transitive_closure",
    "lineage_impact_analysis",
    "term_custom_properties",
]


@pytest.mark.parametrize("name", LAYER_A_QUERIES)
def test_layer_a_matches_golden(spark, sf_dir, name):
    qd = REGISTRY[name]
    assert_matches_oracle(qd.fn(spark, sf_dir), qd.oracle, sf_dir)


def test_pipeline_dry_run(spark):
    result = ingest_metrics(spark, qa.FIXTURE, sink=NoopSink())
    assert result.stats["n_metrics"] == 5
    assert result.stats["n_nodes"] == 5  # root + 4 categories
    assert result.stats["n_quarantined"] == 0
    assert result.stats["n_unresolved_lineage"] == 3  # ghost model + 2 metric deps
    assert result.stats["sink"]["by_kind"] == {"glossaryNode": 5, "glossaryTerm": 5}


def test_pipeline_emission_log(spark, tmp_path):
    out = str(tmp_path / "emissions")
    result = ingest_metrics(spark, qa.FIXTURE, sink=EmissionLogSink(out))
    log = spark.read.parquet(out)
    assert log.count() == 10
    kinds = {r["entity_kind"] for r in log.select("entity_kind").distinct().collect()}
    assert kinds == {"glossaryNode", "glossaryTerm"}
    payload = log.filter(
        log.entity_urn == "urn:li:glossaryTerm:dbt_metrics.Customer.customer_count"
    ).collect()[0]["payload"]
    assert '"customer_count"' in payload and '"dbt"' in payload


QUARANTINE_MANIFEST = (
    '{"metrics": {"metric.p.good": {"name": "good", "package_name": "p", "path": "x.yml"},'
    ' "metric.p.bad": {"name": "", "package_name": "p", "path": "y.yml"}},'
    ' "nodes": {}, "sources": {}}'
)

# one dependency resolves through nodes, one through sources, two do not
UNRESOLVED_MANIFEST = json.dumps({
    "metrics": {
        "metric.p.a": {"name": "a", "depends_on": {
            "nodes": ["model.p.t", "model.p.ghost", "source.p.s.r"]}},
        "metric.p.b": {"name": "b", "meta": {"datahub_glossary_category": "X/Y"},
                       "depends_on": {"nodes": ["model.p.ghost2"]}},
    },
    "nodes": {"model.p.t": {"name": "t", "database": "d", "schema": "s"}},
    "sources": {"source.p.s.r": {"name": "r", "database": "d", "schema": "raw",
                                 "identifier": "r_v2"}},
})


def test_pipeline_quarantine(spark, tmp_path):
    bad = tmp_path / "bad_manifest.json"
    bad.write_text(QUARANTINE_MANIFEST)
    result = ingest_metrics(spark, str(bad))
    assert result.stats["n_metrics"] == 1
    assert result.stats["n_nodes"] == 2  # root + Uncategorized
    assert result.stats["n_quarantined"] == 1
    assert result.stats["n_unresolved_lineage"] == 0
    assert result.quarantined.collect()[0]["reason"] == "missing name"


def test_pipeline_empty_manifest_guard(spark, tmp_path, mock_server):
    """The guard runs before the sink: an aborted ingest posts nothing."""
    endpoint, received = mock_server
    empty = tmp_path / "empty_manifest.json"
    empty.write_text('{"metrics": {}, "nodes": {}, "sources": {}}')
    malformed = tmp_path / "malformed_manifest.json"
    malformed.write_text(
        '{"metrics": {"metric.p.a": {"name": ""}, "metric.p.b": {"label": "b"}},'
        ' "nodes": {}, "sources": {}}'
    )
    for path, n_quarantined in ((empty, 0), (malformed, 2)):
        result = ingest_metrics(spark, str(path), sink=RestSink(endpoint))
        assert result.stats == {"n_metrics": 0, "aborted": "no metrics"}
        assert result.terms is None
        assert result.quarantined.count() == n_quarantined
    assert received == []


def test_ingest_runs_one_spark_action(spark):
    """Counts, guard and dry-run sink all read the one collect: a
    NoopSink ingest adds exactly one SQL execution to the status store."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = store.executionsCount()
    result = ingest_metrics(spark, qa.FIXTURE, sink=NoopSink())
    bus.waitUntilEmpty()
    assert store.executionsCount() - before == 1
    assert result.stats["n_metrics"] == 5


@pytest.mark.parametrize(
    "text, n_unresolved",
    [(None, 3), (QUARANTINE_MANIFEST, 0), (UNRESOLVED_MANIFEST, 2)],
    ids=["fixture", "quarantine", "unresolved"],
)
def test_pipeline_stats_match_result_frames(spark, tmp_path, text, n_unresolved):
    """The counts taken on the driver from the collected rows equal the
    same counts computed by Spark over the result's own frames."""
    path = qa.FIXTURE
    if text is not None:
        path = tmp_path / "manifest.json"
        path.write_text(text)
    result = ingest_metrics(spark, str(path))
    assert result.stats == {
        "n_metrics": result.terms.count(),
        "n_nodes": result.nodes.count(),
        "n_quarantined": result.quarantined.count(),
        "n_unresolved_lineage": result.terms.agg(
            F.coalesce(F.sum("n_unresolved"), F.lit(0))
        ).first()[0],
        "sink": result.stats["sink"],
    }
    assert list(result.stats) == [
        "n_metrics", "n_nodes", "n_quarantined", "n_unresolved_lineage", "sink"]
    assert result.stats["n_unresolved_lineage"] == n_unresolved


def test_pipeline_leaves_nothing_persisted(spark, tmp_path):
    """A long-lived session ingests any number of manifests without its
    persisted storage growing.  Compared by RDD id, not count: RDDs
    that earlier tests persisted may be released by the context
    cleaner while this test runs."""
    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    for i in range(4):
        path = tmp_path / f"manifest_{i}.json"
        path.write_text(json.dumps({
            "metrics": {f"metric.p.m{i}": {
                "name": f"m{i}", "depends_on": {"nodes": [f"model.p.t{i}"]}}},
            "nodes": {f"model.p.t{i}": {"name": f"t{i}", "database": "d", "schema": "s"}},
            "sources": {},
        }))
        result = ingest_metrics(spark, str(path))
        assert result.stats["n_metrics"] == 1
        assert result.stats["n_unresolved_lineage"] == 0
    assert persisted() - before == set()


def test_cli_dry_run(spark, tmp_path, capsys):
    """The reference command line works unchanged against this engine:
    same flags, dry-run parses + validates without emitting
    (/root/reference/dbt_metrics_to_datahub.py:364-417)."""
    from dbt_metrics_ingestion_script_spark.__main__ import main

    rc = main(["--manifest", qa.FIXTURE, "--dry-run"])
    assert rc == 0


def test_cli_emission_log(spark, tmp_path):
    from dbt_metrics_ingestion_script_spark.__main__ import main

    out = str(tmp_path / "emissions")
    rc = main(["--manifest", qa.FIXTURE, "--emission-log", out])
    assert rc == 0
    logged = spark.read.parquet(out)
    assert logged.count() == 10
    assert {"entity_urn", "entity_kind", "aspect_name", "payload"} <= set(logged.columns)


def test_cli_empty_manifest_exits_nonzero(spark, tmp_path):
    from dbt_metrics_ingestion_script_spark.__main__ import main

    p = tmp_path / "empty_manifest.json"
    p.write_text('{"metrics": {}, "nodes": {}, "sources": {}}')
    assert main(["--manifest", str(p), "--dry-run"]) == 1
