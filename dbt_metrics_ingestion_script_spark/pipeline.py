"""End-to-end Layer A pipeline: manifest -> glossary frames -> emissions.

Mirrors the reference lifecycle (load -> parse -> guard -> hierarchy ->
per-metric term synthesis -> sink, /root/reference/
dbt_metrics_to_datahub.py:337-361) as a DAG of DataFrame transforms.
The per-metric Python loop becomes set-oriented projections and
broadcast joins; per-record exception isolation becomes a row
quarantine split (E1); the sink is a strategy object (sinks/).  An
ingest runs one Spark action: it collects the emission rows, counts
them on the driver and hands them to the sink.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .operators.glossary import glossary_nodes, glossary_terms
from .operators.lineage import dataset_registry, resolve_upstreams
from .operators.properties import with_custom_properties
from .sinks.base import EMISSION_COLUMNS, NoopSink, Sink
from .sources.manifest import ManifestFrames, load_manifest


@dataclass
class IngestionResult:
    nodes: DataFrame | None = None  # glossary root + categories
    terms: DataFrame | None = None  # glossary terms incl. custom_properties
    quarantined: DataFrame | None = None  # invalid metric rows + reason
    emissions: list[Row] | None = None  # the rows handed to the sink
    stats: dict = field(default_factory=dict)


def quarantine_reason() -> F.Column:
    """E1 validity rule: why a metric row is quarantined, NULL if valid.

    Invalid = missing name or unique_id.
    """
    return F.when(
        F.col("name").isNull() | (F.length("name") == 0), F.lit("missing name")
    ).when(
        F.col("unique_id").isNull() | (F.length("unique_id") == 0),
        F.lit("missing unique_id"),
    )


def split_valid_metrics(metrics: DataFrame) -> tuple[DataFrame, DataFrame]:
    """E1 row quarantine: a malformed metric must not fail the pipeline.

    The invalid frame carries a reason column for the observability
    channel.
    """
    tagged = metrics.withColumn("__reason", quarantine_reason())
    valid = tagged.filter(F.col("__reason").isNull()).drop("__reason")
    invalid = tagged.filter(F.col("__reason").isNotNull()).withColumnRenamed(
        "__reason", "reason"
    )
    return valid, invalid


def build_glossary_frames(
    spark: SparkSession,
    frames: ManifestFrames,
    glossary_root: str = "dbt_metrics",
    platform: str = "dbt",
    env: str = "PROD",
) -> IngestionResult:
    """Transform stage: manifest frames -> lazy glossary node/term frames
    and the quarantine split.  Runs no Spark action."""
    metrics, quarantined = split_valid_metrics(frames.metrics)
    registry = dataset_registry(frames.nodes, frames.sources, platform, env)
    upstreams = F.broadcast(resolve_upstreams(metrics, registry))
    nodes = glossary_nodes(spark, metrics, glossary_root)
    enriched = with_custom_properties(metrics.join(upstreams, "unique_id", "left"))
    terms = glossary_terms(metrics, glossary_root).join(
        enriched.select("unique_id", "upstream_datasets", "n_unresolved", "custom_properties"),
        "unique_id",
        "left",
    )
    return IngestionResult(nodes=nodes, terms=terms, quarantined=quarantined)


def _emission_rows(result: IngestionResult) -> DataFrame:
    """Node and term emission rows, each term's `n_unresolved` on the
    side (NULL on node rows)."""
    node_rows = result.nodes.select(
        F.col("urn").alias("entity_urn"),
        F.lit("glossaryNode").alias("entity_kind"),
        F.lit("glossaryNodeInfo").alias("aspect_name"),
        F.to_json(F.struct("name", "definition", "parent_urn")).alias("payload"),
    )
    term_rows = result.terms.select(
        F.col("term_urn").alias("entity_urn"),
        F.lit("glossaryTerm").alias("entity_kind"),
        F.lit("glossaryTermInfo").alias("aspect_name"),
        F.to_json(
            F.struct("name", "definition", "parent_urn", "term_source", "custom_properties")
        ).alias("payload"),
        "n_unresolved",
    )
    return node_rows.unionByName(term_rows, allowMissingColumns=True)


def build_emissions(result: IngestionResult) -> DataFrame:
    """Flatten node/term frames into the sink-facing emission frame."""
    return _emission_rows(result).select(*EMISSION_COLUMNS)


_Emission = Row(*EMISSION_COLUMNS)


def ingest_metrics(
    spark: SparkSession,
    manifest_path: str,
    sink: Sink | None = None,
    glossary_root: str = "dbt_metrics",
    platform: str = "dbt",
    env: str = "PROD",
) -> IngestionResult:
    """The full pipeline; sink=None means dry run (NoopSink).

    One Spark action per manifest (plus any the sink runs): the emission
    rows, each term's `n_unresolved` and the quarantined metrics' reasons
    are collected together, every count is taken from those rows, and
    only the emission rows reach the sink."""
    frames = load_manifest(spark, manifest_path)
    result = build_glossary_frames(spark, frames, glossary_root, platform, env)
    rows = (
        _emission_rows(result)
        .unionByName(result.quarantined.select("reason"), allowMissingColumns=True)
        .collect()
    )
    result.emissions = [_Emission(*r[:4]) for r in rows if r["reason"] is None]
    kinds = Counter(r["entity_kind"] for r in result.emissions)
    # P6 empty-input guard, before anything is sent
    if kinds["glossaryTerm"] == 0:
        return IngestionResult(
            quarantined=result.quarantined, stats={"n_metrics": 0, "aborted": "no metrics"}
        )
    result.stats = {
        "n_metrics": kinds["glossaryTerm"],
        "n_nodes": kinds["glossaryNode"],
        "n_quarantined": len(rows) - len(result.emissions),
        "n_unresolved_lineage": sum(r["n_unresolved"] or 0 for r in rows),
    }
    result.stats["sink"] = (sink or NoopSink()).emit(result.emissions)
    return result
