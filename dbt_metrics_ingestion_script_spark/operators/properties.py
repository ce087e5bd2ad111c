"""customProperties synthesis: metric row -> MapType(string,string).

Behavioral spec: /root/reference/dbt_metrics_to_datahub.py:269-304 --
three always-present keys, conditional keys only for truthy fields
(Python truthiness: NULL and '' and empty collections all skipped),
arrays joined ', ', filters JSON-encoded, meta passed through with a
'meta_' prefix minus the category key.

Spark shape: one `create_map` with nullable values + `map_filter` to
drop the falsy ones, `map_concat` with the transformed meta map -- all
JVM-side map functions (F14), no UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.strings import csv_join

CATEGORY_KEY = "datahub_glossary_category"


def _nonempty_str(col: Column) -> Column:
    return F.when(col.isNotNull() & (F.length(col) > 0), col)


def _nonempty_arr_csv(name: str) -> Column:
    return F.when(F.size(F.col(name)) > 0, csv_join(name))


def custom_properties_column() -> Column:
    """The customProperties map for a metric row that carries the typed
    metric fields and `upstream_datasets`."""
    conditional = F.create_map(
        F.lit("metric_type"), _nonempty_str(F.col("type")),
        F.lit("calculation_method"), _nonempty_str(F.col("calculation_method")),
        F.lit("expression"), _nonempty_str(F.col("expression")),
        F.lit("dimensions"), _nonempty_arr_csv("dimensions"),
        F.lit("time_grains"), _nonempty_arr_csv("time_grains"),
        F.lit("filters"), F.when(F.size("filters") > 0, F.to_json("filters")),
        F.lit("tags"), _nonempty_arr_csv("tags"),
        F.lit("upstream_datasets"), _nonempty_str(F.col("upstream_datasets")),
    )
    base = F.create_map(
        F.lit("dbt_unique_id"), F.col("unique_id"),
        F.lit("dbt_package"), F.col("package_name"),
        F.lit("dbt_path"), F.col("path"),
    )
    meta_props = F.transform_keys(
        F.map_filter(F.col("meta"), lambda k, v: k != F.lit(CATEGORY_KEY)),
        lambda k, v: F.concat(F.lit("meta_"), k),
    )
    return F.map_concat(
        base,
        F.map_filter(conditional, lambda k, v: v.isNotNull()),
        meta_props,
    )


def properties_long(df: DataFrame, id_col: str = "term_urn") -> DataFrame:
    """Explode the map to (id, key, value) rows -- the oracle-friendly
    long form (map column ordering is not comparable across engines)."""
    return df.select(
        F.col(id_col), F.explode("custom_properties").alias("prop_key", "prop_value")
    )
