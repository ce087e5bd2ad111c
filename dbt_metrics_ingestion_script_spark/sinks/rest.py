"""Batched REST sink, posting from the driver.

Replaces the reference's one-synchronous-POST-per-entity loop
(its dbt_metrics_to_datahub.py:354-359): the emission rows
the pipeline collected are sent in batches of `batch_size` over the
standard library's HTTP client.  A manifest's ~3,000 rows make ~30
requests, so the sink needs no Spark job and no Python worker.

Each batch is posted once.  A failed batch (HTTP error, refused
connection, timeout) is caught and counted, and the next batch is
still sent: per-entity error isolation, the reference's E1 posture
scaled to batches.  Nothing retries, so `n_sent` and `n_failed` are
exact.  If the driver dies mid-emit, the batches posted before it are
delivered and the rest are not; re-running the ingest re-sends them
all, which is safe because downstream aspect upserts are idempotent on
(entityUrn, aspectName) -- true for DataHub-style ingestion, which is
the payload shape emitted here.

This sink is exercised with a mock server in tests; against a real
endpoint set `endpoint` to the ingestion URL.
"""

from __future__ import annotations

import http.client
import json
import urllib.request
from typing import Sequence

from pyspark.sql import Row


def _post_batch(endpoint: str, token: str | None, batch: list[dict], timeout: float) -> None:
    body = json.dumps({"proposals": batch}).encode()
    req = urllib.request.Request(endpoint, data=body, method="POST")
    req.add_header("Content-Type", "application/json")
    if token:
        req.add_header("Authorization", f"Bearer {token}")
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        if resp.status >= 300:
            raise RuntimeError(f"sink POST failed: HTTP {resp.status}")


class RestSink:
    def __init__(
        self,
        endpoint: str,
        token: str | None = None,
        batch_size: int = 100,
        timeout: float = 30.0,
    ) -> None:
        self.endpoint = endpoint
        self.token = token
        self.batch_size = batch_size
        self.timeout = timeout

    def emit(self, rows: Sequence[Row]) -> dict:
        n_sent = n_failed = 0
        for start in range(0, len(rows), self.batch_size):
            batch = [
                {
                    "entityUrn": row["entity_urn"],
                    "aspectName": row["aspect_name"],
                    "aspect": json.loads(row["payload"]),
                }
                for row in rows[start : start + self.batch_size]
            ]
            try:
                _post_batch(self.endpoint, self.token, batch, self.timeout)
                n_sent += len(batch)
            except (OSError, http.client.HTTPException, RuntimeError):
                # URLError and timeouts are OSErrors; count, send the next
                n_failed += len(batch)
        return {
            "mode": "rest",
            "endpoint": self.endpoint,
            "n_sent": n_sent,
            "n_failed": n_failed,
        }
