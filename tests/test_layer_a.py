"""Layer A: manifest frontend + glossary/lineage/properties transforms
vs hand-computed golden oracles, plus pipeline/sink behavior."""

from __future__ import annotations

import json

import pytest

from dbt_metrics_ingestion_script_spark import queries_layer_a as qa
from dbt_metrics_ingestion_script_spark.pipeline import ingest_metrics
from dbt_metrics_ingestion_script_spark.registry import REGISTRY
from dbt_metrics_ingestion_script_spark.sinks import EmissionLogSink, NoopSink

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


def test_pipeline_quarantine(spark, tmp_path):
    bad = tmp_path / "bad_manifest.json"
    bad.write_text(
        '{"metrics": {"metric.p.good": {"name": "good", "package_name": "p", "path": "x.yml"},'
        ' "metric.p.bad": {"name": "", "package_name": "p", "path": "y.yml"}},'
        ' "nodes": {}, "sources": {}}'
    )
    result = ingest_metrics(spark, str(bad))
    assert result.stats["n_metrics"] == 1
    assert result.stats["n_nodes"] == 2  # root + Uncategorized
    assert result.stats["n_quarantined"] == 1
    assert result.stats["n_unresolved_lineage"] == 0
    assert result.quarantined.collect()[0]["reason"] == "missing name"


def test_pipeline_empty_manifest_guard(spark, tmp_path):
    empty = tmp_path / "empty_manifest.json"
    empty.write_text('{"metrics": {}, "nodes": {}, "sources": {}}')
    malformed = tmp_path / "malformed_manifest.json"
    malformed.write_text(
        '{"metrics": {"metric.p.a": {"name": ""}, "metric.p.b": {"label": "b"}},'
        ' "nodes": {}, "sources": {}}'
    )
    for path, n_quarantined in ((empty, 0), (malformed, 2)):
        result = ingest_metrics(spark, str(path))
        assert result.stats == {"n_metrics": 0, "aborted": "no metrics"}
        assert result.terms is None
        assert result.quarantined.count() == n_quarantined


def test_pipeline_leaves_nothing_persisted(spark, tmp_path):
    """A long-lived session ingests any number of manifests without its
    persisted storage growing."""
    def persisted():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

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
    assert persisted() == before


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
