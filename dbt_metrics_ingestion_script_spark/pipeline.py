"""End-to-end Layer A pipeline: manifest -> glossary rows -> emissions.

Mirrors the reference lifecycle (load -> parse -> guard -> hierarchy ->
per-metric term synthesis -> sink, /root/reference/
dbt_metrics_to_datahub.py:337-361) as one projection over the
manifest's one-row scan: lineage and the category hierarchy are lookups
inside the row, the per-metric loop is a `posexplode`, per-record
exception isolation is a row quarantine (E1), and the sink is a
strategy object (sinks/).  An ingest runs one Spark job (one scan, no
join, no shuffle), collects the rows, counts them on the driver and
hands them to the sink.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field
from functools import lru_cache

from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .operators.glossary import category_column, glossary_node_rows, glossary_term_columns
from .operators.lineage import upstream_columns, with_upstream_urns
from .operators.properties import custom_properties_column
from .sinks.base import EMISSION_COLUMNS, NoopSink, Sink
from .sources.manifest import ManifestFrames, load_manifest, metric_columns


@dataclass
class IngestionResult:
    rows: DataFrame | None = None  # emission rows + one reason-only row per quarantined metric
    nodes: DataFrame | None = None  # glossary root + categories
    terms: DataFrame | None = None  # glossary terms, n_unresolved on the side
    quarantined: DataFrame | None = None  # invalid metric rows + reason
    emissions: list[Row] | None = None  # the rows handed to the sink
    stats: dict = field(default_factory=dict)


def quarantine_reason(name: Column | None = None, unique_id: Column | None = None) -> Column:
    """E1 validity rule: why a metric row is quarantined, NULL if valid.
    Invalid = missing name or unique_id (by default the columns so named)."""
    name = F.col("name") if name is None else name
    unique_id = F.col("unique_id") if unique_id is None else unique_id
    return F.when(
        name.isNull() | (F.length(name) == 0), F.lit("missing name")
    ).when(
        unique_id.isNull() | (F.length(unique_id) == 0), F.lit("missing unique_id")
    )


_ROW_FIELDS = (*EMISSION_COLUMNS, "n_unresolved", "reason")


def _row(*values: Column) -> Column:
    """One collected row as a struct of _ROW_FIELDS."""
    return F.named_struct(*(c for kv in zip(map(F.lit, _ROW_FIELDS), values) for c in kv))


@lru_cache(maxsize=4)
def _projection(glossary_root: str, platform: str, env: str) -> tuple[tuple, ...]:
    """The select lists that turn the one-row manifest scan into one
    row per metric, then into the collected rows.

    Built once per (glossary_root, platform, env) and applied to every
    scan: building them takes ~1,800 py4j calls, and they hold only
    unresolved expressions, never Spark storage.  The per-manifest
    values (lineage and the hierarchy) are computed in the first select,
    before the explode: a non-generator expression next to the generator
    would be evaluated once per output row.
    """
    valid = F.map_filter(
        "metrics",
        lambda k, v: quarantine_reason(F.coalesce(v["name"], F.lit("")), k).isNull(),
    )
    categories = F.array_distinct(
        F.transform(F.map_values(valid), lambda v: category_column(v["meta"]))
    )
    per_manifest = (
        with_upstream_urns("metrics", platform, env).alias("metrics"),
        glossary_node_rows(
            F.coalesce(categories, F.array().cast("array<string>")), glossary_root
        ).alias("node_rows"),
    )
    # outer: a manifest without metrics still yields its root node row
    explode = (F.posexplode_outer("metrics").alias("pos", "unique_id", "value"), "node_rows")
    fields = ("pos", "node_rows", *metric_columns(), F.col("value.urns").alias("urns"))
    derived = (
        "*",
        category_column(F.col("meta")).alias("category"),
        quarantine_reason().alias("reason"),
        *upstream_columns(F.col("depends_on"), F.col("urns")),
    )
    terms = ("pos", "node_rows", "unique_id", "reason", "upstream_datasets", "n_unresolved",
             *glossary_term_columns(glossary_root),
             custom_properties_column().alias("custom_properties"))

    ok = F.col("reason").isNull()
    payload = F.to_json(
        F.struct("name", "definition", "parent_urn", "term_source", "custom_properties")
    )
    metric_row = F.array(_row(
        *(F.when(ok, c) for c in (F.col("term_urn"), F.lit("glossaryTerm"),
                                  F.lit("glossaryTermInfo"), payload, F.col("n_unresolved"))),
        F.col("reason"),
    ))
    node_rows = F.transform("node_rows", lambda n: _row(
        n["urn"], F.lit("glossaryNode"), F.lit("glossaryNodeInfo"),
        F.to_json(n.dropFields("urn")), F.lit(None).cast("bigint"), F.lit(None).cast("string"),
    ))
    # each metric's term-or-quarantine row; the node rows ride on pos 0
    emit = (F.inline(
        F.when(F.col("unique_id").isNull(), node_rows)
        .when(F.col("pos") == 0, F.concat(node_rows, metric_row))
        .otherwise(metric_row)
    ),)
    steps = (per_manifest, explode, fields, derived, terms, emit)
    # names resolved here too: select() would make one py4j call per name
    return tuple(tuple(F.col(c) if isinstance(c, str) else c for c in cols) for cols in steps)


def glossary_metrics(
    frames: ManifestFrames,
    glossary_root: str = "dbt_metrics",
    platform: str = "dbt",
    env: str = "PROD",
) -> DataFrame:
    """One row per manifest metric, valid or not (one all-NULL row if
    the manifest has none): `reason` (NULL when valid), the term
    columns, `upstream_datasets`, `n_unresolved`, `custom_properties`,
    and on every row the hierarchy `node_rows` (urn, name, definition,
    parent_urn), whose emission rides on `pos` 0."""
    df = frames.raw
    for cols in _projection(glossary_root, platform, env)[:-1]:
        df = df.select(*cols)
    return df


def build_glossary_frames(
    spark: SparkSession,
    frames: ManifestFrames,
    glossary_root: str = "dbt_metrics",
    platform: str = "dbt",
    env: str = "PROD",
) -> IngestionResult:
    """Transform stage: manifest scan -> lazy emission rows, with the
    node, term and quarantine frames as filters of them.  Runs no Spark
    action."""
    emit = _projection(glossary_root, platform, env)[-1]
    rows = glossary_metrics(frames, glossary_root, platform, env).select(*emit)
    return IngestionResult(
        rows=rows,
        nodes=rows.filter("entity_kind = 'glossaryNode'"),
        terms=rows.filter("entity_kind = 'glossaryTerm'"),
        quarantined=rows.filter("reason IS NOT NULL"),
    )


def build_emissions(result: IngestionResult) -> DataFrame:
    """The sink-facing emission frame: node and term rows."""
    return result.rows.filter("reason IS NULL").select(*EMISSION_COLUMNS)


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

    One Spark job per manifest (plus any the sink runs): the emission
    rows, each term's `n_unresolved` and the quarantined metrics' reasons
    are collected together, every count is taken from those rows, and
    only the emission rows reach the sink."""
    frames = load_manifest(spark, manifest_path)
    result = build_glossary_frames(spark, frames, glossary_root, platform, env)
    rows = result.rows.collect()
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
