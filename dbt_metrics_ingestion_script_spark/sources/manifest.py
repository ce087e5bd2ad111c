"""dbt-manifest frontend: one JSON document -> typed DataFrames.

Reference behavior being re-expressed (not ported): whole-document
json.load + tolerant per-field `.get(k, default)` extraction
(/root/reference/dbt_metrics_to_datahub.py:119-150).  Here the manifest
is read with an explicit permissive StructType (keyed sections as
MapType), each section exploded into its own DataFrame, and defaults
applied with coalesce -- so Catalyst prunes unread fields.

The scan yields the whole manifest as ONE row.  The Layer A ingest
projects that row directly (pipeline.py); the per-section frames are
built only when a caller reads them.  Nothing holds Spark storage: each
action re-reads the document, so callers keep their action count low
(a Layer A ingest runs one collect) instead of caching.

Scale note: a dbt manifest is a single document (MBs, not TBs), parsed
by one task.
"""

from __future__ import annotations

from functools import cached_property

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


def _explode_section(raw: DataFrame, section: str) -> DataFrame:
    return raw.select(
        F.explode_outer(F.col(section)).alias("unique_id", "value")
    ).filter(F.col("unique_id").isNotNull())


def _s(name: str, default: str = "") -> F.Column:
    """String field with default (mirrors `.get(k, '')` tolerance)."""
    return F.coalesce(F.col(f"value.{name}"), F.lit(default)).alias(name)


def _arr(name: str):
    return F.coalesce(F.col(f"value.{name}"), F.array().cast(ArrayType(S))).alias(name)


def metric_columns() -> list[F.Column]:
    """The typed metric fields, read by name from a `(unique_id, value)`
    row of the `metrics` section, defaults applied."""
    return [
        F.col("unique_id"),
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
    ]


class ManifestFrames:
    """The manifest as its one-row scan, `raw`, whose sections are maps
    keyed by `unique_id`.  Each per-section frame is built when first
    read: the Layer A ingest reads `raw` alone."""

    def __init__(self, raw: DataFrame):
        self.raw = raw

    @cached_property
    def metrics(self) -> DataFrame:
        return _explode_section(self.raw, "metrics").select(*metric_columns())

    @cached_property
    def semantic_models(self) -> DataFrame:
        return _explode_section(self.raw, "semantic_models").select(
            "unique_id",
            _s("name"),
            _s("description"),
            _s("model"),
            F.col("value.dimensions").alias("dimensions"),
            F.col("value.measures").alias("measures"),
            F.col("value.entities").alias("entities"),
            F.col("value.meta").alias("meta"),
        )

    @cached_property
    def parent_edges(self) -> DataFrame:
        """(child, parent)"""
        return self.raw.select(
            F.explode_outer("parent_map").alias("child", "parents")
        ).select("child", F.explode("parents").alias("parent"))

    @cached_property
    def child_edges(self) -> DataFrame:
        """(parent, child)"""
        return self.raw.select(
            F.explode_outer("child_map").alias("parent", "children")
        ).select("parent", F.explode("children").alias("child"))


def load_manifest(spark: SparkSession, path: str) -> ManifestFrames:
    """The manifest's one-row multiLine JSON scan; section frames on demand.

    Nothing is persisted or memoized: every dbt run writes a new
    manifest, so a per-path memo would not hit, and it would pin Spark
    storage for the life of the session.  Each action re-plans and
    re-reads the document."""
    return ManifestFrames(
        spark.read.schema(MANIFEST_SCHEMA).option("multiLine", True).json(path)
    )
