"""Python-`or` fidelity for string fallbacks (SURVEY.md hard part #3).

The reference computes display names / dataset names with Python `or`
chains (`alias or name`, `label or name`, `description or default` --
/root/reference/dbt_metrics_to_datahub.py:229,244,311-312), where the
EMPTY STRING is falsy.  SQL COALESCE only skips NULL, so a regression of
`coalesce_nonempty` to plain coalesce would silently change names for
''-valued fields.  The driver goldens exercise specific fixtures
(label='' metric, identifier='' source); this suite pins the general
semantics against random None/''/value chains.
"""

from __future__ import annotations

import pytest

from functools import reduce

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from dbt_metrics_ingestion_script_spark.functions.strings import coalesce_nonempty
from dbt_metrics_ingestion_script_spark.operators.lineage import dataset_lookup
from dbt_metrics_ingestion_script_spark.sources.manifest import MANIFEST_SCHEMA

# values a manifest string field actually takes: absent, empty, or text
field = st.one_of(
    st.none(),
    st.just(""),
    st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=8
    ),
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(field, min_size=1, max_size=4))
@pytest.mark.slow
def test_coalesce_nonempty_matches_python_or(spark, chain):
    expected = reduce(lambda a, b: a or b, chain)
    # Python-or returns the LAST falsy value when all are falsy ('' or
    # None); column semantics normalize that to NULL.  Every reference
    # call site ends the chain with a guaranteed-non-empty fallback, so
    # the two only differ on the all-falsy case the reference never hits.
    expected = expected if expected else None
    df = spark.createDataFrame(
        [tuple(chain)], ", ".join(f"c{i} string" for i in range(len(chain)))
    )
    got = df.select(
        coalesce_nonempty(*[f"c{i}" for i in range(len(chain))]).alias("r")
    ).collect()[0]["r"]
    assert got == expected


def test_dataset_registry_empty_string_alias_and_identifier(spark):
    """'' alias/identifier must fall through to `name` exactly like the
    reference's `alias or name` / `identifier or name` in the nodes and
    sources lookups (the fixture covers ''-identifier under the driver;
    this pins ''-alias too)."""
    def node(name, alias):
        return {"name": name, "database": "wh", "schema": "marts", "alias": alias}

    raw = spark.createDataFrame(
        [(
            {
                "model.p.empty_alias": node("Stg_Returns", ""),
                "model.p.null_alias": node("Dim_Parts", None),
                "model.p.real_alias": node("stg_x", "x_final"),
            },
            {"source.p.s1": {"name": "Raw_Feed", "database": "wh", "schema": "landing",
                             "identifier": ""}},
        )],
        StructType([MANIFEST_SCHEMA["nodes"], MANIFEST_SCHEMA["sources"]]),
    )
    row = raw.select(
        dataset_lookup("nodes", "alias").alias("n"),
        dataset_lookup("sources", "identifier").alias("s"),
    ).first()
    got = {**row["n"], **row["s"]}
    ds = "urn:li:dataset:(urn:li:dataPlatform:dbt,{},PROD)"
    assert got == {
        "model.p.empty_alias": ds.format("wh.marts.stg_returns"),
        "model.p.null_alias": ds.format("wh.marts.dim_parts"),
        "model.p.real_alias": ds.format("wh.marts.x_final"),
        "source.p.s1": ds.format("wh.landing.raw_feed"),
    }
