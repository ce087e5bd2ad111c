"""JSONL document source with corrupt-record quarantine (EXT §2.1
S-family breadth: crawl corpora arrive as JSON-lines, not parquet).

Same quarantine discipline as the Layer A pipeline's row quarantine
(reference behavior `dbt_metrics_to_datahub.py:355-359`: log-and-skip,
never abort): malformed lines are captured by PERMISSIVE-mode parsing
into a corrupt-record column and split into a quarantine frame the
caller can count/persist, while well-formed rows flow on with the
explicit schema (no schema inference pass over 100 TB of JSONL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
        StructField("lang", StringType()),
        StructField("source", StringType()),
        StructField("n_chars", LongType()),
    ]
)

_CORRUPT = "_corrupt_record"


def read_documents_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType = DOCUMENTS_SCHEMA,
) -> tuple[DataFrame, DataFrame]:
    """Read JSON-lines documents with an EXPLICIT schema; returns
    (good, quarantined).

    - `good`: rows parsed against `schema` (missing fields null, the
      PERMISSIVE contract).
    - `quarantined`: (raw_line) for every malformed line -- the frame
      an ingestion job counts, logs, and lands next to the data for
      replay, mirroring the Layer A quarantine contract.

    The explicit schema keeps this a single streaming-friendly scan:
    schema inference would read the corpus twice.  Lines are read as
    text and parsed with `from_json`, so neither frame holds a cache:
    unlike the JSON file source, `from_json` allows a query whose
    pruned projection references only the corrupt-record column.
    Blank lines are skipped, as the JSON file source skips them.  A
    line whose JSON parses but whose values do not fit the schema is
    quarantined too, carrying whichever fields did parse.
    """
    if _CORRUPT in [f.name for f in schema.fields]:
        raise ValueError(f"schema must not predefine {_CORRUPT!r}")
    full = StructType([*schema.fields, StructField(_CORRUPT, StringType())])
    parsed = (
        spark.read.text(path)
        .where(F.trim("value") != "")
        .select(
            F.from_json(
                "value",
                full,
                {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": _CORRUPT},
            ).alias("r")
        )
        .select("r.*")
    )
    good = parsed.where(F.col(_CORRUPT).isNull()).drop(_CORRUPT)
    quarantined = parsed.where(F.col(_CORRUPT).isNotNull()).select(
        F.col(_CORRUPT).alias("raw_line"), *[f.name for f in schema.fields]
    )
    return good, quarantined
