"""Sink strategy layer (SURVEY.md S4-S5, M5).

The reference emits one (entityUrn, aspect) pair per synchronous HTTP
POST (/root/reference/dbt_metrics_to_datahub.py:112-117); its own docs
call for batching/parallelism past ~500 entities (the reference's
TESTING_GUIDE.md:324-327).  Here a sink consumes the
*emission rows* -- (entity_urn, entity_kind, aspect_name, payload JSON)
-- that the pipeline collected to the driver in its one Spark action: a
manifest is MBs, not TBs, so its ~3,000 rows fit the driver.  The REST
sink POSTs them in batches, the emission-log sink writes them as
parquet, dry-run counts them.
"""

from __future__ import annotations

from collections import Counter
from typing import Protocol, Sequence

from pyspark.sql import Row

EMISSION_COLUMNS = ["entity_urn", "entity_kind", "aspect_name", "payload"]


class Sink(Protocol):
    def emit(self, rows: Sequence[Row]) -> dict:
        """Consume emission rows (fields EMISSION_COLUMNS); return summary stats."""
        ...


class NoopSink:
    """Dry-run: validates + counts, emits nothing
    (reference --dry-run, /root/reference/dbt_metrics_to_datahub.py:97-107)."""

    def emit(self, rows: Sequence[Row]) -> dict:
        counts = dict(Counter(r["entity_kind"] for r in rows))
        return {"mode": "dry_run", "emitted": 0, "by_kind": counts}
