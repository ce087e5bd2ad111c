"""Glossary hierarchy construction as column expressions.

Behavioral spec: /root/reference/dbt_metrics_to_datahub.py:172-216 --
distinct categories from `meta['datahub_glossary_category']` (default
'Uncategorized'), one root node, one node per category (nested paths
'Finance/Revenue' flatten to dotted URNs, display name = last path
segment), each term attached to its category node.

Spark shape: the manifest is one row, so the distinct categories are an
`array_distinct` over its metrics map (A9) and the hierarchy is one
array of node structs built once per manifest (J3); the term columns
are a projection of each metric row.  No aggregate, no join.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..functions.strings import coalesce_nonempty
from ..functions.urns import glossary_node_urn, glossary_term_urn
from .properties import CATEGORY_KEY

DEFAULT_CATEGORY = "Uncategorized"
ROOT_DEFINITION = "dbt metrics ingested from dbt project"


def category_column(meta: Column) -> Column:
    """meta map get with default (F15): missing key -> 'Uncategorized'."""
    return F.coalesce(meta[CATEGORY_KEY], F.lit(DEFAULT_CATEGORY))


def _path(glossary_root: str, category: Column) -> Column:
    return F.concat_ws(".", F.lit(glossary_root), F.translate(category, "/", "."))


def glossary_node_rows(categories: Column, glossary_root: str = "dbt_metrics") -> Column:
    """Root + one node per category, as
    array<struct<urn, name, definition, parent_urn>> (root first)."""
    root_urn = f"urn:li:glossaryNode:{glossary_root}"

    def node(urn: Column, name: Column, definition: Column, parent_urn: Column) -> Column:
        return F.named_struct(
            F.lit("urn"), urn,
            F.lit("name"), name,
            F.lit("definition"), definition,
            F.lit("parent_urn"), parent_urn,
        )

    root = node(F.lit(root_urn), F.lit(glossary_root), F.lit(ROOT_DEFINITION),
                F.lit(None).cast("string"))
    cats = F.transform(
        categories,
        lambda c: node(
            glossary_node_urn(_path(glossary_root, c)),
            F.element_at(F.split(c, "/"), -1),
            F.concat(F.lit("Metrics in category: "), c),
            F.lit(root_urn),
        ),
    )
    return F.concat(F.array(root), cats)


def glossary_term_columns(glossary_root: str = "dbt_metrics") -> list[Column]:
    """One glossary term per metric row that carries `name`, `label`,
    `description` and `category`: (term_urn, name, definition,
    parent_urn, term_source).

    Fidelity notes: display name falls back `label or name` with
    Python-or semantics ('' is falsy); definition falls back to
    'dbt metric: <name>'.
    """
    cat = F.col("category")
    return [
        glossary_term_urn(
            F.concat_ws(".", _path(glossary_root, cat), F.col("name"))
        ).alias("term_urn"),
        coalesce_nonempty("label", "name").alias("name"),
        coalesce_nonempty(
            F.col("description"), F.concat(F.lit("dbt metric: "), F.col("name"))
        ).alias("definition"),
        glossary_node_urn(_path(glossary_root, cat)).alias("parent_urn"),
        F.lit("dbt").alias("term_source"),
    ]
