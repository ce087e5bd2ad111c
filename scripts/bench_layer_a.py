"""Layer A throughput bench vs the reference's only published numbers
(VERDICT r7 item 5): synthesize manifests at the reference's own scale
ladder (10/50/100/500 metrics, the TESTING_GUIDE.md:317-327 table),
run the FULL pipeline end-to-end per scale, and emit one JSON document
(committed as BENCH_layerA_r{N}.json).

Two sink modes per scale, because the reference's numbers are
network-bound (one synchronous POST per entity):

- dry_run: NoopSink -- parse/guard/hierarchy/term-synthesis/emission
  build + the one collect, the reference's --dry-run counterpart.
- rest: the batched RestSink, posting from the driver, against a local
  threaded mock endpoint -- exercises the full emission path
  (serialization, batching, HTTP) without real network latency.
  The reference's ~3-4 entities/s INCLUDES real-network round trips,
  so the honest comparison is architectural: the reference is LINEAR
  in metric count with a per-entity round trip; this pipeline is one
  Spark action whose cost is dominated by fixed startup, with batched
  emission (its per-metric marginal cost is what the ladder exposes).

Usage: python scripts/bench_layer_a.py [out.json]
"""

from __future__ import annotations

import json
import pathlib
import sys
import tempfile
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

from dbt_metrics_ingestion_script_spark.pipeline import ingest_metrics  # noqa: E402
from dbt_metrics_ingestion_script_spark.session import get_spark  # noqa: E402
from dbt_metrics_ingestion_script_spark.sinks.rest import RestSink  # noqa: E402

SCALES = [10, 50, 100, 500]
# midpoints of the reference's published ranges (BASELINE.md table;
# /root/reference/TESTING_GUIDE.md:319-322)
REF_SECONDS = {10: 2.5, 50: 12.5, 100: 25.0, 500: 150.0}


def make_metric(i: int) -> tuple[str, dict]:
    method = ["sum", "count", "count_distinct", "average", "min", "max"][i % 6]
    return (
        f"metric.webshop_analytics.metric_{i:04d}",
        {
            "name": f"metric_{i:04d}",
            "label": f"Metric {i}",
            "description": f"Synthetic benchmark metric {i}",
            "type": "simple",
            "calculation_method": method,
            "expression": "*" if method == "count" else "order_total",
            "timestamp": "order_date",
            "time_grains": ["day", "week", "month"],
            "dimensions": ["customer_id"] if i % 3 == 0 else [],
            "filters": (
                [{"field": "order_total", "operator": ">", "value": "0"}]
                if i % 4 == 0
                else []
            ),
            "metrics": [],
            "depends_on": {
                "nodes": ["model.webshop_analytics.fct_orders"],
                "macros": [],
            },
            "meta": {"owner": f"team_{i % 5}", "tier": str(i % 3)},
            "tags": ["bench"],
            "package_name": "webshop_analytics",
            "path": f"metrics/metric_{i:04d}.yml",
        },
    )


def make_manifest(n_metrics: int) -> dict:
    metrics = dict(make_metric(i) for i in range(n_metrics))
    return {
        "metadata": {
            "dbt_version": "1.7.0",
            "project_name": "webshop_analytics",
        },
        "metrics": metrics,
        "nodes": {
            "model.webshop_analytics.fct_orders": {
                "name": "fct_orders",
                "resource_type": "model",
                "package_name": "webshop_analytics",
                "database": "warehouse",
                "schema": "marts",
                "alias": "orders_final",
                "relation_name": "warehouse.marts.orders_final",
            },
            "model.webshop_analytics.dim_customers": {
                "name": "dim_customers",
                "resource_type": "model",
                "package_name": "webshop_analytics",
                "database": "warehouse",
                "schema": "marts",
                "alias": None,
                "relation_name": "warehouse.marts.dim_customers",
            },
        },
        "sources": {
            "source.webshop_analytics.shop.raw_orders": {
                "name": "raw_orders",
                "resource_type": "source",
                "database": "warehouse",
                "schema": "landing",
                "identifier": "orders_raw_v2",
            }
        },
        "semantic_models": {},
        "parent_map": {
            uid: ["model.webshop_analytics.fct_orders"] for uid in metrics
        },
        "child_map": {},
    }


class _CountingHandler(BaseHTTPRequestHandler):
    n_posts = 0
    lock = threading.Lock()

    def do_POST(self):  # noqa: N802
        length = int(self.headers.get("Content-Length", 0))
        self.rfile.read(length)
        with _CountingHandler.lock:
            _CountingHandler.n_posts += 1
        self.send_response(200)
        self.end_headers()

    def log_message(self, *a):  # silence
        pass


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "BENCH_layerA_r8.json"
    spark = get_spark(app_name="bench_layer_a", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    server = ThreadingHTTPServer(("127.0.0.1", 0), _CountingHandler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    endpoint = f"http://127.0.0.1:{server.server_port}/ingest"

    tmp = tempfile.mkdtemp(prefix="layer_a_bench_")
    results = []
    # warm-up at the smallest scale so JVM/codegen startup is not
    # charged to the first measured run (the reference's numbers also
    # exclude interpreter startup)
    warm = f"{tmp}/warm.json"
    json.dump(make_manifest(10), open(warm, "w"))
    ingest_metrics(spark, warm)

    for n in SCALES:
        path = f"{tmp}/manifest_{n}.json"
        json.dump(make_manifest(n), open(path, "w"))

        t0 = time.perf_counter()
        res = ingest_metrics(spark, path)
        dry_s = time.perf_counter() - t0
        assert res.stats["n_metrics"] == n, res.stats

        t0 = time.perf_counter()
        res2 = ingest_metrics(spark, path, sink=RestSink(endpoint, batch_size=100))
        rest_s = time.perf_counter() - t0
        n_entities = n + res.stats["n_nodes"]
        assert res2.stats["sink"]["n_sent"] == n_entities, res2.stats

        results.append(
            {
                "n_metrics": n,
                "n_entities_emitted": n_entities,
                "dry_run_s": round(dry_s, 3),
                "rest_s": round(rest_s, 3),
                "metrics_per_s_dry": round(n / dry_s, 1),
                "metrics_per_s_rest": round(n / rest_s, 1),
                "ref_seconds_midpoint": REF_SECONDS[n],
                "ref_metrics_per_s": round(n / REF_SECONDS[n], 1),
                "speedup_vs_ref_rest": round(REF_SECONDS[n] / rest_s, 1),
            }
        )
        print(json.dumps(results[-1]), flush=True)

    doc = {
        "metric": "layer_a_manifest_ingestion",
        "scales": results,
        "notes": (
            "reference numbers are real-network REST (TESTING_GUIDE.md:"
            "317-327, ~3-4 entities/s, linear); rest mode here uses a "
            "local mock endpoint via the batched driver-side sink, so "
            "the comparison is architectural (batched vs per-entity "
            "synchronous), not a network measurement"
        ),
    }
    json.dump(doc, open(out_path, "w"), indent=1)
    print(f"wrote {out_path}")
    server.shutdown()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
