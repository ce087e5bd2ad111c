"""Parquet emission log: the replayable, pure-Spark sink.

Instead of a per-entity network hop, the emission rows land as a
parquet table partitioned by `entity_kind` -- replayable, idempotent
(overwrite per run), and readable by any downstream shipper.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Row, SparkSession

from .base import EMISSION_COLUMNS

EMISSION_SCHEMA = ", ".join(f"{c} string" for c in EMISSION_COLUMNS)


class EmissionLogSink:
    def __init__(self, path: str, mode: str = "overwrite") -> None:
        self.path = path
        self.mode = mode

    def emit(self, rows: Sequence[Row]) -> dict:
        (
            SparkSession.active()
            .createDataFrame(rows, EMISSION_SCHEMA)
            .write.mode(self.mode)
            .partitionBy("entity_kind")
            .parquet(self.path)
        )
        return {"mode": "emission_log", "path": self.path}
