"""REST sink: batched emission against a local mock server (the
reference emits one synchronous POST per entity; ours must batch, as
the reference's TESTING_GUIDE.md:324-327 recommends)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import Row

from dbt_metrics_ingestion_script_spark.sinks.rest import RestSink


def emission_rows(n: int) -> list[Row]:
    return [
        Row(
            entity_urn=f"urn:li:glossaryTerm:m{i}",
            entity_kind="glossaryTerm",
            aspect_name="glossaryTermInfo",
            payload=json.dumps({"i": i}),
        )
        for i in range(n)
    ]


def test_rest_sink_batches_and_authenticates(mock_server):
    endpoint, received = mock_server
    rows = emission_rows(25)
    sink = RestSink(endpoint, token="tok-123", batch_size=10)
    stats = sink.emit(rows)
    assert stats["mode"] == "rest"
    got = [p for r in received for p in r["proposals"]]
    assert {p["entityUrn"] for p in got} == {r["entity_urn"] for r in rows}
    assert all(r["auth"] == "Bearer tok-123" for r in received)
    # batching: 25 rows with batch_size=10 -> every request carries at
    # most 10, and the driver fills each batch before it posts: 3
    # requests, not one partial batch per partition
    sizes = [len(r["proposals"]) for r in received]
    assert max(sizes) <= 10
    assert len(received) < len(rows)
    assert len(received) == 3
    assert stats["n_sent"] == 25
    assert stats["n_failed"] == 0


@pytest.fixture()
def failing_server():
    """Mock endpoint that 500s every other request."""
    counter = {"n": 0}
    lock = threading.Lock()

    class Handler(BaseHTTPRequestHandler):
        def do_POST(self):
            n = int(self.headers["Content-Length"])
            self.rfile.read(n)
            with lock:
                counter["n"] += 1
                fail = counter["n"] % 2 == 0
            self.send_response(500 if fail else 200)
            self.end_headers()

        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{server.server_address[1]}"
    server.shutdown()


def test_rest_sink_isolates_batch_failures(failing_server):
    """ADVICE r1 (rest.py): an HTTP failure must be counted, not raised --
    a failed batch must not stop the batches after it, nor re-send the
    ones that already landed."""
    stats = RestSink(failing_server, batch_size=10).emit(emission_rows(40))
    # 4 batches, every other request 500s: the emit must still complete
    # with the failures surfaced in the counters
    assert stats["n_sent"] + stats["n_failed"] == 40
    assert stats["n_sent"] == 20
    assert stats["n_failed"] == 20
