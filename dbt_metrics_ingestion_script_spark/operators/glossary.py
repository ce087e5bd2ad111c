"""Glossary hierarchy construction as DataFrame transforms.

Behavioral spec: /root/reference/dbt_metrics_to_datahub.py:172-216 --
distinct categories from `meta['datahub_glossary_category']` (default
'Uncategorized'), one root node, one node per category (nested paths
'Finance/Revenue' flatten to dotted URNs, display name = last path
segment), each term attached to its category node.

Spark shape: `distinct()` hash-aggregate for category dedup (A9); pure
projection for URNs; the categories frame is tiny and broadcast-joined
to metrics (J3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.strings import coalesce_nonempty
from ..functions.urns import glossary_node_urn, glossary_term_urn

DEFAULT_CATEGORY = "Uncategorized"
ROOT_DEFINITION = "dbt metrics ingested from dbt project"


def category_column() -> F.Column:
    """meta map get with default (F15): missing key -> 'Uncategorized'."""
    return F.coalesce(
        F.col("meta")["datahub_glossary_category"], F.lit(DEFAULT_CATEGORY)
    ).alias("category")


def distinct_categories(metrics: DataFrame) -> DataFrame:
    """A9: dedup categories across metrics (dict-key trick -> distinct)."""
    return metrics.select(category_column()).distinct()


def glossary_nodes(
    spark: SparkSession, metrics: DataFrame, glossary_root: str = "dbt_metrics"
) -> DataFrame:
    """Root + category nodes: (urn, name, definition, parent_urn, category).

    The root row is unioned with the category projection so the whole
    hierarchy is one frame a sink can emit in any order.
    """
    root_urn = f"urn:li:glossaryNode:{glossary_root}"
    root = spark.createDataFrame(
        [(root_urn, glossary_root, ROOT_DEFINITION, None, None)],
        "urn string, name string, definition string, parent_urn string, category string",
    )
    cats = distinct_categories(metrics).select(
        glossary_node_urn(
            F.concat_ws(".", F.lit(glossary_root), F.translate("category", "/", "."))
        ).alias("urn"),
        F.element_at(F.split("category", "/"), -1).alias("name"),
        F.concat(F.lit("Metrics in category: "), F.col("category")).alias("definition"),
        F.lit(root_urn).alias("parent_urn"),
        F.col("category"),
    )
    return root.unionByName(cats)


def glossary_terms(metrics: DataFrame, glossary_root: str = "dbt_metrics") -> DataFrame:
    """One glossary term per metric: (term_urn, name, definition,
    parent_urn, term_source) + passthrough of unique_id/category.

    Fidelity notes: display name falls back `label or name` with
    Python-or semantics ('' is falsy); definition falls back to
    'dbt metric: <name>'.
    """
    cat = category_column()
    return metrics.select(
        "unique_id",
        F.col("name").alias("metric_name"),
        cat,
        glossary_term_urn(
            F.concat_ws(
                ".",
                F.lit(glossary_root),
                F.translate(cat, "/", "."),
                F.col("name"),
            )
        ).alias("term_urn"),
        coalesce_nonempty("label", "name").alias("name"),
        coalesce_nonempty(
            F.col("description"), F.concat(F.lit("dbt metric: "), F.col("name"))
        ).alias("definition"),
        glossary_node_urn(
            F.concat_ws(".", F.lit(glossary_root), F.translate(cat, "/", "."))
        ).alias("parent_urn"),
        F.lit("dbt").alias("term_source"),
    )
