"""Layer A: manifest frontend + glossary/lineage/properties transforms
vs hand-computed golden oracles, plus pipeline/sink behavior."""

from __future__ import annotations

import json
from collections import Counter

import pytest
from pyspark.sql import functions as F

from dbt_metrics_ingestion_script_spark import pipeline
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


# Lookup edge cases, each pinned to the rows the join-based pipeline
# emitted before lineage and the hierarchy became lookups inside the
# manifest row: a node/source id collision (the node wins), a JSON-null
# node, NULL and repeated depends_on ids, NULL and '' categories, a ''
# metric key, a JSON-null metric, and '' label/description fallbacks.
EDGE_MANIFEST = json.dumps({
    "metrics": {
        "": {"name": "keyless", "depends_on": {"nodes": ["model.p.t"]}},
        "metric.p.collide": {
            "name": "collide", "label": "", "description": "",
            "depends_on": {"nodes": ["model.p.shared", None, "model.p.t", "model.p.t",
                                     "model.p.null_node", "source.p.s.r", "model.p.nowhere"]},
            "meta": {"datahub_glossary_category": None, "owner": "x"},
        },
        "metric.p.empty_cat": {"name": "empty_cat", "label": "Empty Cat",
                               "meta": {"datahub_glossary_category": ""},
                               "depends_on": {"nodes": []}},
        "metric.p.nested": {"name": "nested", "meta": {"datahub_glossary_category": "A/B/"},
                            "depends_on": {"nodes": None}},
        "metric.p.nodeps": {"name": "nodeps", "description": "Has a description"},
        "metric.p.null_metric": None,
        "metric.p.noname": {"label": "No name", "depends_on": {"nodes": ["model.p.ghost"]}},
    },
    "nodes": {
        "model.p.shared": {"name": "Shared_Model", "database": "WH", "schema": "Marts",
                           "alias": ""},
        "model.p.t": {"name": "t", "database": "d", "schema": "s", "alias": "t_final"},
        "model.p.null_node": None,
    },
    "sources": {
        "model.p.shared": {"name": "shared_src", "database": "raw", "schema": "src",
                           "identifier": "shared_v2"},
        "source.p.s.r": {"name": "r", "database": None, "schema": "raw", "identifier": ""},
    },
})
EMPTY_MANIFEST = '{"metrics": {}, "nodes": {}, "sources": {}}'
MALFORMED_MANIFEST = (
    '{"metrics": {"metric.p.a": {"name": ""}, "metric.p.b": {"label": "b"}},'
    ' "nodes": {}, "sources": {}}'
)

_NODE = ("glossaryNode", "glossaryNodeInfo")
_TERM = ("glossaryTerm", "glossaryTermInfo")
_ROOT = ("urn:li:glossaryNode:dbt_metrics", *_NODE,
         '{"name":"dbt_metrics","definition":"dbt metrics ingested from dbt project"}',
         None, None)
_DS = "urn:li:dataset:(urn:li:dataPlatform:dbt,{},PROD)"
_COLLIDE_UPSTREAMS = ", ".join(_DS.format(n) for n in (
    "wh.marts.shared_model", "d.s.t_final", "d.s.t_final", ".", ".raw.r"))
EDGE_ROWS = [
    _ROOT,
    ("urn:li:glossaryNode:dbt_metrics.", *_NODE,
     '{"name":"","definition":"Metrics in category: ",'
     '"parent_urn":"urn:li:glossaryNode:dbt_metrics"}', None, None),
    ("urn:li:glossaryNode:dbt_metrics.A.B.", *_NODE,
     '{"name":"","definition":"Metrics in category: A/B/",'
     '"parent_urn":"urn:li:glossaryNode:dbt_metrics"}', None, None),
    ("urn:li:glossaryNode:dbt_metrics.Uncategorized", *_NODE,
     '{"name":"Uncategorized","definition":"Metrics in category: Uncategorized",'
     '"parent_urn":"urn:li:glossaryNode:dbt_metrics"}', None, None),
    ("urn:li:glossaryTerm:dbt_metrics..empty_cat", *_TERM,
     '{"name":"Empty Cat","definition":"dbt metric: empty_cat",'
     '"parent_urn":"urn:li:glossaryNode:dbt_metrics.","term_source":"dbt",'
     '"custom_properties":{"dbt_unique_id":"metric.p.empty_cat","dbt_package":"",'
     '"dbt_path":""}}', 0, None),
    ("urn:li:glossaryTerm:dbt_metrics.A.B..nested", *_TERM,
     '{"name":"nested","definition":"dbt metric: nested",'
     '"parent_urn":"urn:li:glossaryNode:dbt_metrics.A.B.","term_source":"dbt",'
     '"custom_properties":{"dbt_unique_id":"metric.p.nested","dbt_package":"",'
     '"dbt_path":""}}', 0, None),
    ("urn:li:glossaryTerm:dbt_metrics.Uncategorized.collide", *_TERM,
     '{"name":"collide","definition":"dbt metric: collide",'
     '"parent_urn":"urn:li:glossaryNode:dbt_metrics.Uncategorized","term_source":"dbt",'
     '"custom_properties":{"dbt_unique_id":"metric.p.collide","dbt_package":"",'
     '"dbt_path":"","upstream_datasets":"' + _COLLIDE_UPSTREAMS + '","meta_owner":"x"}}',
     1, None),
    ("urn:li:glossaryTerm:dbt_metrics.Uncategorized.nodeps", *_TERM,
     '{"name":"nodeps","definition":"Has a description",'
     '"parent_urn":"urn:li:glossaryNode:dbt_metrics.Uncategorized","term_source":"dbt",'
     '"custom_properties":{"dbt_unique_id":"metric.p.nodeps","dbt_package":"",'
     '"dbt_path":""}}', 0, None),
    (None, None, None, None, None, "missing name"),
    (None, None, None, None, None, "missing name"),
    (None, None, None, None, None, "missing unique_id"),
]


@pytest.mark.parametrize(
    "text, want_rows, want_stats",
    [
        (EDGE_MANIFEST, EDGE_ROWS, {"n_metrics": 4, "n_nodes": 4, "n_quarantined": 3,
                                    "n_unresolved_lineage": 1}),
        (EMPTY_MANIFEST, [_ROOT], {"n_metrics": 0, "aborted": "no metrics"}),
        (MALFORMED_MANIFEST, [_ROOT] + [(None,) * 5 + ("missing name",)] * 2,
         {"n_metrics": 0, "aborted": "no metrics"}),
    ],
    ids=["edge", "empty", "malformed"],
)
def test_lookup_semantics_golden(spark, tmp_path, text, want_rows, want_stats):
    """Every collected row, payload strings included, as a multiset."""
    path = tmp_path / "manifest.json"
    path.write_text(text)
    frames = pipeline.load_manifest(spark, str(path))
    rows = pipeline.build_glossary_frames(spark, frames).rows.collect()
    assert sorted(map(tuple, rows), key=repr) == sorted(want_rows, key=repr)
    stats = ingest_metrics(spark, str(path)).stats
    stats.pop("sink", None)
    assert stats == want_stats


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
    NoopSink ingest adds exactly one SQL execution to the status store,
    and that execution is one Spark job (one scan, no exchange)."""
    sc = spark.sparkContext
    store = spark._jsparkSession.sharedState().statusStore()
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = store.executionsCount()
    sc.setJobGroup("test-ingest-one-action", "one Layer A ingest")
    try:
        result = ingest_metrics(spark, qa.FIXTURE, sink=NoopSink())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    bus.waitUntilEmpty()
    assert store.executionsCount() - before == 1
    assert len(sc.statusTracker().getJobIdsForGroup("test-ingest-one-action")) == 1
    assert result.stats["n_metrics"] == 5


def test_ingest_calls_each_stage_once(spark, monkeypatch):
    """An ingest builds its scan through `pipeline.load_manifest` and its
    projection through `pipeline.build_glossary_frames`, once each and
    looked up on the module, so a caller that wraps them (a tracer)
    times scan construction and projection separately;
    `pipeline.build_emissions` stays an attribute for the same callers."""
    calls = Counter()

    def counting(name):
        fn = getattr(pipeline, name)

        def wrapper(*args, **kwargs):
            calls[name] += 1
            return fn(*args, **kwargs)

        return wrapper

    for name in ("load_manifest", "build_glossary_frames"):
        monkeypatch.setattr(pipeline, name, counting(name))
    for n in (1, 2):
        assert ingest_metrics(spark, qa.FIXTURE).stats["n_metrics"] == 5
        assert calls == {"load_manifest": n, "build_glossary_frames": n}
    assert callable(pipeline.build_emissions)


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
