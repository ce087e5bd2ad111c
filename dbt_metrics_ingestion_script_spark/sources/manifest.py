"""dbt-manifest frontend: one JSON document -> typed DataFrames.

Reference behavior being re-expressed (not ported): whole-document
json.load + tolerant per-field `.get(k, default)` extraction
(/root/reference/dbt_metrics_to_datahub.py:119-150).  Here the manifest
is read with an explicit permissive StructType (keyed sections as
MapType), each section exploded into its own DataFrame, and defaults
applied with coalesce -- so Catalyst prunes unread fields and the same
code handles arbitrarily many metrics distributed across partitions.

The frames are lazy and hold no Spark storage: each action over them
re-reads the document, so callers keep their action count low (a Layer
A ingest runs one collect) instead of caching.

Scale note: a dbt manifest is a single document (MBs, not TBs) -- the
extracted frames behave as ordinary (small, broadcastable) dimension
tables for the lineage joins downstream.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    MapType,
    StringType,
    StructField,
    StructType,
)

S = StringType()


def _struct(*fields: tuple) -> StructType:
    return StructType([StructField(n, t, True) for n, t in fields])


FILTER_TYPE = _struct(("field", S), ("operator", S), ("value", S))

METRIC_TYPE = _struct(
    ("name", S),
    ("label", S),
    ("description", S),
    ("type", S),
    ("calculation_method", S),
    ("expression", S),
    ("timestamp", S),
    ("time_grains", ArrayType(S)),
    ("dimensions", ArrayType(S)),
    ("filters", ArrayType(FILTER_TYPE)),
    ("metrics", ArrayType(S)),
    ("depends_on", _struct(("nodes", ArrayType(S)), ("macros", ArrayType(S)))),
    ("meta", MapType(S, S)),
    ("tags", ArrayType(S)),
    ("package_name", S),
    ("path", S),
)

NODE_TYPE = _struct(
    ("name", S),
    ("resource_type", S),
    ("package_name", S),
    ("database", S),
    ("schema", S),
    ("alias", S),
    ("relation_name", S),
)

SOURCE_TYPE = _struct(
    ("name", S),
    ("resource_type", S),
    ("database", S),
    ("schema", S),
    ("identifier", S),
)

SEMANTIC_MODEL_TYPE = _struct(
    ("name", S),
    ("description", S),
    ("model", S),
    ("dimensions", ArrayType(MapType(S, S))),
    ("measures", ArrayType(MapType(S, S))),
    ("entities", ArrayType(MapType(S, S))),
    ("meta", MapType(S, S)),
)

MANIFEST_SCHEMA = StructType(
    [
        StructField("metadata", MapType(S, S), True),
        StructField("metrics", MapType(S, METRIC_TYPE), True),
        StructField("nodes", MapType(S, NODE_TYPE), True),
        StructField("sources", MapType(S, SOURCE_TYPE), True),
        StructField("semantic_models", MapType(S, SEMANTIC_MODEL_TYPE), True),
        StructField("parent_map", MapType(S, ArrayType(S)), True),
        StructField("child_map", MapType(S, ArrayType(S)), True),
    ]
)


@dataclass
class ManifestFrames:
    """The manifest decomposed into per-section DataFrames."""

    metrics: DataFrame
    nodes: DataFrame
    sources: DataFrame
    semantic_models: DataFrame
    parent_edges: DataFrame  # (child, parent)
    child_edges: DataFrame  # (parent, child)


def _explode_section(raw: DataFrame, section: str) -> DataFrame:
    return raw.select(
        F.explode_outer(F.col(section)).alias("unique_id", "value")
    ).filter(F.col("unique_id").isNotNull())


def _s(name: str, default: str = "") -> F.Column:
    """String field with default (mirrors `.get(k, '')` tolerance)."""
    return F.coalesce(F.col(f"value.{name}"), F.lit(default)).alias(name)


def _arr(name: str):
    return F.coalesce(F.col(f"value.{name}"), F.array().cast(ArrayType(S))).alias(name)


def load_manifest(spark: SparkSession, path: str) -> ManifestFrames:
    """Parse a manifest into lazy section frames.

    Nothing is persisted or memoized: every dbt run writes a new
    manifest, so a per-path memo would not hit, and it would pin Spark
    storage for the life of the session.  Each action over the frames
    re-plans and re-reads the multiLine JSON scan."""
    raw = spark.read.schema(MANIFEST_SCHEMA).option("multiLine", True).json(path)

    metrics = _explode_section(raw, "metrics").select(
        "unique_id",
        _s("name"),
        _s("label"),
        _s("description"),
        F.col("value.type").alias("type"),
        F.col("value.calculation_method").alias("calculation_method"),
        F.col("value.expression").alias("expression"),
        F.col("value.timestamp").alias("timestamp"),
        _arr("time_grains"),
        _arr("dimensions"),
        F.coalesce(F.col("value.filters"), F.array().cast(ArrayType(FILTER_TYPE))).alias(
            "filters"
        ),
        _arr("metrics"),
        F.coalesce(F.col("value.depends_on.nodes"), F.array().cast(ArrayType(S))).alias(
            "depends_on"
        ),
        F.coalesce(F.col("value.meta"), F.map_from_arrays(F.array(), F.array()).cast(
            MapType(S, S)
        )).alias("meta"),
        _arr("tags"),
        _s("package_name"),
        _s("path"),
    )

    nodes = _explode_section(raw, "nodes").select(
        "unique_id",
        _s("name"),
        _s("resource_type"),
        _s("package_name"),
        _s("database"),
        _s("schema"),
        F.col("value.alias").alias("alias"),
        F.col("value.relation_name").alias("relation_name"),
    )

    sources = _explode_section(raw, "sources").select(
        "unique_id",
        _s("name"),
        _s("resource_type"),
        _s("database"),
        _s("schema"),
        F.col("value.identifier").alias("identifier"),
    )

    semantic_models = _explode_section(raw, "semantic_models").select(
        "unique_id",
        _s("name"),
        _s("description"),
        _s("model"),
        F.col("value.dimensions").alias("dimensions"),
        F.col("value.measures").alias("measures"),
        F.col("value.entities").alias("entities"),
        F.col("value.meta").alias("meta"),
    )

    parent_edges = raw.select(F.explode_outer("parent_map").alias("child", "parents")).select(
        "child", F.explode("parents").alias("parent")
    )
    child_edges = raw.select(F.explode_outer("child_map").alias("parent", "children")).select(
        "parent", F.explode("children").alias("child")
    )

    return ManifestFrames(
        metrics=metrics,
        nodes=nodes,
        sources=sources,
        semantic_models=semantic_models,
        parent_edges=parent_edges,
        child_edges=child_edges,
    )
