"""Lineage resolution and graph traversal as DataFrame transforms.

Behavioral spec: /root/reference/dbt_metrics_to_datahub.py:218-254
(nodes-then-sources lookup, 3-part lowercase dataset name, WARN + skip
on miss) and :292-299 (per-metric depends_on fan-out joined back to a
CSV string), plus the manifest's parent_map adjacency lists
(/root/reference/test_manifest.json:414-431) for multi-hop chains.

Spark shape (SURVEY.md J1-J4): the manifest is one row whose nodes and
sources sections are maps keyed by unique_id, so resolution is a lookup
inside that row, not a join: each section becomes a (unique_id ->
dataset URN) map once per manifest, and each metric's depends_on ids are
looked up in place, which keeps their order.  A map lookup scans the
map's keys, so resolution costs O(metrics x deps x registry entries)
comparisons in one task, with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.strings import coalesce_nonempty
from ..functions.urns import dataset_urn


def dataset_lookup(
    section: Column | str, table_field: str, platform: str = "dbt", env: str = "PROD"
) -> Column:
    """J1: a nodes or sources section map -> (unique_id -> dataset URN) map.

    Name = lower(database.schema.(<table_field> or name)) -- the `or`
    fallback skips empty strings (Python-or fidelity); a missing
    database or schema reads as ''.
    """

    def urn(_, v: Column) -> Column:
        name = F.concat_ws(
            ".",
            F.coalesce(v["database"], F.lit("")),
            F.coalesce(v["schema"], F.lit("")),
            coalesce_nonempty(v[table_field], v["name"]),
        )
        return dataset_urn(F.lower(name), platform, env)

    return F.transform_values(section, urn)


def with_upstream_urns(
    metrics: Column | str, platform: str = "dbt", env: str = "PROD"
) -> Column:
    """J2: the metrics map with each metric's `urns`: its depends_on ids
    resolved in order, each to its dataset URN or NULL where neither the
    nodes nor the sources lookup holds it.  Nodes win on id collisions,
    as in the reference.

    The lookups are bound to a lambda variable (a transform over a
    one-element array), so each is built once per manifest, not inlined
    into the lambda and rebuilt per element; resolving before the
    explode keeps them out of the per-metric rows, which it copies.
    """
    lookups = F.struct(
        dataset_lookup("nodes", "alias", platform, env).alias("node_ds"),
        dataset_lookup("sources", "identifier", platform, env).alias("source_ds"),
    )

    def resolve(lk: Column) -> Column:
        def urns(_, v: Column) -> Column:
            deps = F.coalesce(v["depends_on"]["nodes"], F.array().cast("array<string>"))
            return v.withField("urns", F.transform(
                deps, lambda d: F.coalesce(lk["node_ds"][d], lk["source_ds"][d])
            ))

        return F.transform_values(metrics, urns)

    return F.transform(F.array(lookups), resolve)[0]


def upstream_columns(depends_on: Column, urns: Column) -> list[Column]:
    """`upstream_datasets` (the resolved URNs as one CSV in depends_on
    order, NULL when none resolves) and `n_unresolved` (ids present but
    held by neither lookup), from a metric's `depends_on` and `urns`."""
    csv = F.array_join(urns, ", ")  # skips NULL elements
    missed = F.zip_with(depends_on, urns, lambda d, u: d.isNotNull() & u.isNull())
    return [
        F.when(F.length(csv) > 0, csv).alias("upstream_datasets"),
        F.size(F.filter(missed, lambda m: m)).cast("bigint").alias("n_unresolved"),
    ]


def transitive_closure(edges: DataFrame, max_hops: int = 10) -> DataFrame:
    """J4: multi-hop lineage closure over (child, parent) edges.

    Iterative self-join BFS to fixpoint (bounded by max_hops).  Each
    iteration extends frontier paths by one hop and unions new pairs.
    Output: (descendant, ancestor, depth) with depth = hop count >= 1.

    Scale note: lineage graphs are metadata-sized (thousands of nodes),
    so the loop's shuffles are trivial; the depth bound also guards
    against cycles in malformed manifests.  For truly huge graphs this
    would move to an iterative checkpointed loop, same plan shape.
    """
    base = edges.select(
        F.col("child").alias("descendant"),
        F.col("parent").alias("ancestor"),
        F.lit(1).alias("depth"),
    ).distinct()
    closure = base
    frontier = base
    for _ in range(max_hops - 1):
        nxt = (
            frontier.join(
                base.select(
                    F.col("descendant").alias("ancestor"),
                    F.col("ancestor").alias("next_ancestor"),
                ),
                on="ancestor",
            )
            .select(
                "descendant",
                F.col("next_ancestor").alias("ancestor"),
                (F.col("depth") + 1).alias("depth"),
            )
            .join(closure.select("descendant", "ancestor"), ["descendant", "ancestor"], "left_anti")
            .distinct()
            # materialize each frontier: the emptiness probe is an action,
            # and without persist every hop would re-execute all prior hops
            .persist()
        )
        if nxt.isEmpty():
            nxt.unpersist()
            break
        closure = closure.unionByName(nxt)
        frontier = nxt
    return closure
