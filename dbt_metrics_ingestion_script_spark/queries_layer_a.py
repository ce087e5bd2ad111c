"""Layer A queries: manifest -> glossary/lineage/properties transforms,
registered with hand-computed golden oracles (VALUES tables).

These operators transform a dbt manifest document, not the sf tables, so
the oracle is the expected output itself -- the reference's own test
strategy (golden fixture + expected transcript,
/root/reference/TESTING_GUIDE.md:156-188) made executable.  The fixture
manifest (tests/fixtures/manifest.json) is this repo's own authoring,
shaped like /root/reference/test_manifest.json.

The glossary, lineage and properties queries read the Layer A ingest's
own projection (pipeline.glossary_metrics) over the valid metrics, so
each golden pins what an ingest emits.

sf_dir is accepted for driver-contract uniformity but unused.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from .operators.lineage import transitive_closure
from .operators.properties import properties_long
from .pipeline import build_emissions, build_glossary_frames, glossary_metrics
from .registry import register
from .sources.manifest import load_manifest

FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "fixtures",
    "manifest.json",
)

_R = "urn:li:glossaryNode:dbt_metrics"
_DS = "urn:li:dataset:(urn:li:dataPlatform:dbt,"
_ORDERS = f"{_DS}warehouse.marts.orders_final,PROD)"
_CUSTOMERS = f"{_DS}warehouse.marts.dim_customers,PROD)"
_RAW_ORDERS = f"{_DS}warehouse.landing.orders_raw_v2,PROD)"
_RAW_CUSTOMERS = f"{_DS}warehouse.landing.raw_customers,PROD)"


def _terms(spark):
    """The fixture's valid metric rows of the ingest projection."""
    return glossary_metrics(load_manifest(spark, FIXTURE)).filter(F.col("reason").isNull())


def _nodes(spark):
    """The fixture's glossary hierarchy: (urn, name, definition, parent_urn)."""
    metrics = glossary_metrics(load_manifest(spark, FIXTURE))
    return metrics.filter("coalesce(pos, 0) = 0").select(F.inline("node_rows"))


@register(
    "manifest_metrics_extraction",
    """
    SELECT * FROM (VALUES
      ('metric.webshop_analytics.total_revenue', 'total_revenue', 'sum', 'order_total', 0, 1),
      ('metric.webshop_analytics.customer_count', 'customer_count', 'count_distinct', 'customer_id', 0, 2),
      ('metric.webshop_analytics.avg_order_value', 'avg_order_value', 'average', 'order_total', 1, 1),
      ('metric.webshop_analytics.orders_from_raw', 'orders_from_raw', 'count', 'order_id', 0, 2),
      ('metric.webshop_analytics.revenue_per_customer', 'revenue_per_customer', CAST(NULL AS VARCHAR), 'total_revenue / customer_count', 0, 2)
    ) AS t(unique_id, name, calculation_method, expression, n_filters, n_depends)
    """,
)
def manifest_metrics_extraction(spark, sf_dir):
    """P1: tolerant 15-field extraction -> typed metrics frame."""
    m = load_manifest(spark, FIXTURE).metrics
    return m.select(
        "unique_id",
        "name",
        "calculation_method",
        "expression",
        F.size("filters").alias("n_filters"),
        F.size("depends_on").alias("n_depends"),
    )


@register(
    "manifest_semantic_models",
    """
    SELECT * FROM (VALUES
      ('semantic_model.webshop_analytics.orders', 'orders', 'Order facts',
       'ref(''fct_orders'')', 2, 2, 1)
    ) AS t(unique_id, name, description, model, n_dimensions, n_measures, n_entities)
    """,
)
def manifest_semantic_models(spark, sf_dir):
    """P2: semantic-model extraction (dead code in the reference,
    implemented here as a live operator)."""
    sm = load_manifest(spark, FIXTURE).semantic_models
    return sm.select(
        "unique_id",
        "name",
        "description",
        "model",
        F.size("dimensions").alias("n_dimensions"),
        F.size("measures").alias("n_measures"),
        F.size("entities").alias("n_entities"),
    )


@register(
    "glossary_nodes",
    f"""
    SELECT * FROM (VALUES
      ('{_R}', 'dbt_metrics', 'dbt metrics ingested from dbt project', CAST(NULL AS VARCHAR)),
      ('{_R}.Finance.Revenue', 'Revenue', 'Metrics in category: Finance/Revenue', '{_R}'),
      ('{_R}.Customer', 'Customer', 'Metrics in category: Customer', '{_R}'),
      ('{_R}.Finance', 'Finance', 'Metrics in category: Finance', '{_R}'),
      ('{_R}.Uncategorized', 'Uncategorized', 'Metrics in category: Uncategorized', '{_R}')
    ) AS t(urn, name, definition, parent_urn)
    """,
)
def glossary_nodes(spark, sf_dir):
    """A9 + F1-F4: distinct categories -> hierarchy rows."""
    return _nodes(spark)


@register(
    "glossary_terms",
    f"""
    SELECT * FROM (VALUES
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'Total Revenue',
       'Gross revenue across all completed orders', '{_R}.Finance.Revenue', 'dbt'),
      ('urn:li:glossaryTerm:dbt_metrics.Customer.customer_count', 'customer_count',
       'dbt metric: customer_count', '{_R}.Customer', 'dbt'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'Average Order Value',
       'Mean order total for positive orders', '{_R}.Finance.Revenue', 'dbt'),
      ('urn:li:glossaryTerm:dbt_metrics.Uncategorized.orders_from_raw', 'Orders From Raw Feed',
       'Row count of the raw order feed', '{_R}.Uncategorized', 'dbt'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.revenue_per_customer', 'Revenue per Customer',
       'Derived: total revenue divided by distinct customers', '{_R}.Finance', 'dbt')
    ) AS t(term_urn, name, definition, parent_urn, term_source)
    """,
)
def glossary_terms(spark, sf_dir):
    """Term synthesis incl. Python-or fallbacks for label/description."""
    return _terms(spark).select("term_urn", "name", "definition", "parent_urn", "term_source")


@register(
    "lineage_upstream_resolution",
    f"""
    SELECT * FROM (VALUES
      ('metric.webshop_analytics.total_revenue', '{_ORDERS}', CAST(0 AS BIGINT)),
      ('metric.webshop_analytics.customer_count', '{_ORDERS}, {_CUSTOMERS}', CAST(0 AS BIGINT)),
      ('metric.webshop_analytics.avg_order_value', '{_ORDERS}', CAST(0 AS BIGINT)),
      ('metric.webshop_analytics.orders_from_raw', '{_RAW_ORDERS}', CAST(1 AS BIGINT)),
      ('metric.webshop_analytics.revenue_per_customer', CAST(NULL AS VARCHAR), CAST(2 AS BIGINT))
    ) AS t(unique_id, upstream_datasets, n_unresolved)
    """,
)
def lineage_upstream_resolution(spark, sf_dir):
    """J1+J2: nodes-then-sources map lookups -> ordered CSV;
    unresolvable ids counted, not fatal.  One scan, no join."""
    return _terms(spark).select("unique_id", "upstream_datasets", "n_unresolved")


@register(
    "lineage_transitive_closure",
    """
    SELECT * FROM (VALUES
      ('metric.webshop_analytics.total_revenue', 'model.webshop_analytics.fct_orders', 1),
      ('metric.webshop_analytics.customer_count', 'model.webshop_analytics.fct_orders', 1),
      ('metric.webshop_analytics.customer_count', 'model.webshop_analytics.dim_customers', 1),
      ('metric.webshop_analytics.avg_order_value', 'model.webshop_analytics.fct_orders', 1),
      ('metric.webshop_analytics.orders_from_raw', 'source.webshop_analytics.shop.raw_orders', 1),
      ('metric.webshop_analytics.revenue_per_customer', 'metric.webshop_analytics.total_revenue', 1),
      ('metric.webshop_analytics.revenue_per_customer', 'metric.webshop_analytics.customer_count', 1),
      ('model.webshop_analytics.fct_orders', 'source.webshop_analytics.shop.raw_orders', 1),
      ('model.webshop_analytics.dim_customers', 'source.webshop_analytics.shop.raw_customers', 1),
      ('metric.webshop_analytics.total_revenue', 'source.webshop_analytics.shop.raw_orders', 2),
      ('metric.webshop_analytics.customer_count', 'source.webshop_analytics.shop.raw_orders', 2),
      ('metric.webshop_analytics.customer_count', 'source.webshop_analytics.shop.raw_customers', 2),
      ('metric.webshop_analytics.avg_order_value', 'source.webshop_analytics.shop.raw_orders', 2),
      ('metric.webshop_analytics.revenue_per_customer', 'model.webshop_analytics.fct_orders', 2),
      ('metric.webshop_analytics.revenue_per_customer', 'model.webshop_analytics.dim_customers', 2),
      ('metric.webshop_analytics.revenue_per_customer', 'source.webshop_analytics.shop.raw_orders', 3),
      ('metric.webshop_analytics.revenue_per_customer', 'source.webshop_analytics.shop.raw_customers', 3)
    ) AS t(descendant, ancestor, depth)
    """,
)
def lineage_transitive_closure(spark, sf_dir):
    """J4: iterative self-join BFS over parent_map to fixpoint; depth =
    min hop count."""
    frames = load_manifest(spark, FIXTURE)
    return transitive_closure(frames.parent_edges)


@register(
    "lineage_impact_analysis",
    """
    SELECT * FROM (VALUES
      ('source.webshop_analytics.shop.raw_orders', 'model.webshop_analytics.fct_orders', 1),
      ('source.webshop_analytics.shop.raw_orders', 'metric.webshop_analytics.orders_from_raw', 1),
      ('source.webshop_analytics.shop.raw_customers', 'model.webshop_analytics.dim_customers', 1),
      ('model.webshop_analytics.fct_orders', 'metric.webshop_analytics.total_revenue', 1),
      ('model.webshop_analytics.fct_orders', 'metric.webshop_analytics.customer_count', 1),
      ('model.webshop_analytics.fct_orders', 'metric.webshop_analytics.avg_order_value', 1),
      ('model.webshop_analytics.dim_customers', 'metric.webshop_analytics.customer_count', 1),
      ('source.webshop_analytics.shop.raw_orders', 'metric.webshop_analytics.total_revenue', 2),
      ('source.webshop_analytics.shop.raw_orders', 'metric.webshop_analytics.customer_count', 2),
      ('source.webshop_analytics.shop.raw_orders', 'metric.webshop_analytics.avg_order_value', 2),
      ('source.webshop_analytics.shop.raw_customers', 'metric.webshop_analytics.customer_count', 2)
    ) AS t(node, impacted, depth)
    """,
    driver=False,  # J4 driver row is lineage_transitive_closure; same BFS
)
def lineage_impact_analysis(spark, sf_dir):
    """J4 downstream form: which metrics break if this node changes?
    Same BFS closure run over the manifest's child_map adjacency
    (/root/reference/test_manifest.json:432-447) instead of parent_map;
    depth = min hop count to the impacted descendant."""
    frames = load_manifest(spark, FIXTURE)
    edges = frames.child_edges.select(
        F.col("child").alias("child"), F.col("parent").alias("parent")
    )
    return transitive_closure(edges).select(
        F.col("ancestor").alias("node"),
        F.col("descendant").alias("impacted"),
        "depth",
    )


@register(
    "pipeline_emissions",
    f"""
    SELECT * FROM (VALUES
      ('{_R}', 'glossaryNode', 'glossaryNodeInfo'),
      ('{_R}.Finance.Revenue', 'glossaryNode', 'glossaryNodeInfo'),
      ('{_R}.Customer', 'glossaryNode', 'glossaryNodeInfo'),
      ('{_R}.Finance', 'glossaryNode', 'glossaryNodeInfo'),
      ('{_R}.Uncategorized', 'glossaryNode', 'glossaryNodeInfo'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'glossaryTerm', 'glossaryTermInfo'),
      ('urn:li:glossaryTerm:dbt_metrics.Customer.customer_count', 'glossaryTerm', 'glossaryTermInfo'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'glossaryTerm', 'glossaryTermInfo'),
      ('urn:li:glossaryTerm:dbt_metrics.Uncategorized.orders_from_raw', 'glossaryTerm', 'glossaryTermInfo'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.revenue_per_customer', 'glossaryTerm', 'glossaryTermInfo')
    ) AS t(entity_urn, entity_kind, aspect_name)
    """,
)
def pipeline_emissions(spark, sf_dir):
    """S4/S5 + full Layer A lifecycle: manifest -> glossary rows ->
    emission frame (the sink-facing contract). Payload JSON is
    excluded from the golden (struct key order is engine-specific); its
    content is covered by term_custom_properties."""
    frames = load_manifest(spark, FIXTURE)
    result = build_glossary_frames(spark, frames)
    return build_emissions(result).select("entity_urn", "entity_kind", "aspect_name")


@register(
    "term_custom_properties",
    f"""
    SELECT * FROM (VALUES
      -- total_revenue
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'dbt_unique_id', 'metric.webshop_analytics.total_revenue'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'dbt_package', 'webshop_analytics'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'dbt_path', 'metrics/revenue.yml'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'metric_type', 'simple'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'calculation_method', 'sum'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'expression', 'order_total'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'dimensions', 'customer_id'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'time_grains', 'day, week, month, quarter, year'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'tags', 'finance, kpi'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'upstream_datasets', '{_ORDERS}'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'meta_owner', 'finance-team'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.total_revenue', 'meta_certified', 'true'),
      -- customer_count
      ('urn:li:glossaryTerm:dbt_metrics.Customer.customer_count', 'dbt_unique_id', 'metric.webshop_analytics.customer_count'),
      ('urn:li:glossaryTerm:dbt_metrics.Customer.customer_count', 'dbt_package', 'webshop_analytics'),
      ('urn:li:glossaryTerm:dbt_metrics.Customer.customer_count', 'dbt_path', 'metrics/customers.yml'),
      ('urn:li:glossaryTerm:dbt_metrics.Customer.customer_count', 'metric_type', 'simple'),
      ('urn:li:glossaryTerm:dbt_metrics.Customer.customer_count', 'calculation_method', 'count_distinct'),
      ('urn:li:glossaryTerm:dbt_metrics.Customer.customer_count', 'expression', 'customer_id'),
      ('urn:li:glossaryTerm:dbt_metrics.Customer.customer_count', 'time_grains', 'day, week, month'),
      ('urn:li:glossaryTerm:dbt_metrics.Customer.customer_count', 'upstream_datasets', '{_ORDERS}, {_CUSTOMERS}'),
      -- avg_order_value
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'dbt_unique_id', 'metric.webshop_analytics.avg_order_value'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'dbt_package', 'webshop_analytics'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'dbt_path', 'metrics/revenue.yml'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'metric_type', 'simple'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'calculation_method', 'average'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'expression', 'order_total'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'dimensions', 'customer_id'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'time_grains', 'week, month, quarter'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'filters', '[{{"field":"order_total","operator":">","value":"0"}}]'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'tags', 'finance'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'upstream_datasets', '{_ORDERS}'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.Revenue.avg_order_value', 'meta_refresh_frequency', 'daily'),
      -- orders_from_raw
      ('urn:li:glossaryTerm:dbt_metrics.Uncategorized.orders_from_raw', 'dbt_unique_id', 'metric.webshop_analytics.orders_from_raw'),
      ('urn:li:glossaryTerm:dbt_metrics.Uncategorized.orders_from_raw', 'dbt_package', 'webshop_analytics'),
      ('urn:li:glossaryTerm:dbt_metrics.Uncategorized.orders_from_raw', 'dbt_path', 'metrics/ops.yml'),
      ('urn:li:glossaryTerm:dbt_metrics.Uncategorized.orders_from_raw', 'metric_type', 'simple'),
      ('urn:li:glossaryTerm:dbt_metrics.Uncategorized.orders_from_raw', 'calculation_method', 'count'),
      ('urn:li:glossaryTerm:dbt_metrics.Uncategorized.orders_from_raw', 'expression', 'order_id'),
      ('urn:li:glossaryTerm:dbt_metrics.Uncategorized.orders_from_raw', 'time_grains', 'day'),
      ('urn:li:glossaryTerm:dbt_metrics.Uncategorized.orders_from_raw', 'tags', 'ops'),
      ('urn:li:glossaryTerm:dbt_metrics.Uncategorized.orders_from_raw', 'upstream_datasets', '{_RAW_ORDERS}'),
      -- revenue_per_customer
      ('urn:li:glossaryTerm:dbt_metrics.Finance.revenue_per_customer', 'dbt_unique_id', 'metric.webshop_analytics.revenue_per_customer'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.revenue_per_customer', 'dbt_package', 'webshop_analytics'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.revenue_per_customer', 'dbt_path', 'metrics/derived.yml'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.revenue_per_customer', 'metric_type', 'derived'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.revenue_per_customer', 'expression', 'total_revenue / customer_count'),
      ('urn:li:glossaryTerm:dbt_metrics.Finance.revenue_per_customer', 'time_grains', 'month')
    ) AS t(term_urn, prop_key, prop_value)
    """,
)
def term_custom_properties(spark, sf_dir):
    """P3+P4+F5-F8+F14-F15: conditional customProperties map, exploded to
    long form (map ordering is engine-specific, rows are not)."""
    return properties_long(_terms(spark))


@register(
    "glossary_subtree_counts",
    f"""
    WITH RECURSIVE nodes(urn, parent_urn) AS (
      SELECT * FROM (VALUES
        ('{_R}', CAST(NULL AS VARCHAR)),
        ('{_R}.Finance.Revenue', '{_R}'),
        ('{_R}.Customer', '{_R}'),
        ('{_R}.Finance', '{_R}'),
        ('{_R}.Uncategorized', '{_R}')
      ) AS n(urn, parent_urn)
    ), terms(node) AS (
      SELECT * FROM (VALUES
        ('{_R}.Finance.Revenue'), ('{_R}.Customer'),
        ('{_R}.Finance.Revenue'), ('{_R}.Uncategorized'),
        ('{_R}.Finance')
      ) AS t(node)
    ), anc AS (
      SELECT urn AS node, urn AS ancestor FROM nodes
      UNION ALL
      SELECT a.node, n.parent_urn
      FROM anc a JOIN nodes n ON a.ancestor = n.urn
      WHERE n.parent_urn IS NOT NULL
    ), tc AS (
      SELECT node, COUNT(*) AS c FROM terms GROUP BY 1
    )
    SELECT nodes.urn,
           CAST(COALESCE((SELECT c FROM tc WHERE tc.node = nodes.urn), 0)
                AS BIGINT) AS n_direct,
           CAST(COALESCE((SELECT SUM(tc.c) FROM anc
                          JOIN tc ON tc.node = anc.node
                          WHERE anc.ancestor = nodes.urn), 0)
                AS BIGINT) AS n_subtree
    FROM nodes
    """,
)
def glossary_subtree_counts(spark, sf_dir):
    """Hierarchical rollup over the glossary tree: per node, DIRECT
    term count and SUBTREE term count (self + all descendants via the
    same BFS closure lineage uses) -- the 'how many metrics live
    under Finance' question a metadata UI asks.  The reference
    flattens nested categories to root children
    (/root/reference/dbt_metrics_to_datahub.py:197-199), so depth is
    2 here, but the closure handles any depth."""
    nodes = _nodes(spark).select("urn", "parent_urn")
    terms = _terms(spark).select(F.col("parent_urn").alias("node"))
    edges = nodes.where(F.col("parent_urn").isNotNull()).select(
        F.col("urn").alias("child"), F.col("parent_urn").alias("parent")
    )
    closure = transitive_closure(edges).select("descendant", "ancestor")
    self_pairs = nodes.select(
        F.col("urn").alias("descendant"), F.col("urn").alias("ancestor")
    )
    anc = closure.unionByName(self_pairs)
    tc = terms.groupBy("node").agg(F.count("*").alias("c"))
    subtree = (
        anc.join(tc, anc.descendant == tc.node)
        .groupBy("ancestor")
        .agg(F.sum("c").alias("n_subtree"))
    )
    return (
        nodes.join(tc, nodes.urn == tc.node, "left")
        .join(subtree, nodes.urn == subtree.ancestor, "left")
        .select(
            "urn",
            F.coalesce(F.col("c"), F.lit(0)).alias("n_direct"),
            F.coalesce(F.col("n_subtree"), F.lit(0)).alias("n_subtree"),
        )
    )
