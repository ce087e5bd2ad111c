"""The three workloads: set-up, one timed operation, correctness checks.

Each workload object is driven by `run.py`:

- `make_inputs()` generates the run's inputs before the Spark session
  starts;
- `setup()` runs after the Spark session starts and counts in `setup_s`
  (warm-up operations, base store builds);
- `prepare(i)` makes operation i's inputs, outside the timed window;
- `op(i)` is the timed operation, with spans around every call into a
  layer of the package; it returns what `after` needs;
- `after(i, result)` checks operation i's outputs, outside the timed
  window, and returns a failure message or None;
- `finish()` runs the end-of-run checks and returns
  (failures, workload-specific per-layer metrics).
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
from dbt_metrics_ingestion_script_spark import pipeline
from dbt_metrics_ingestion_script_spark.operators import dedup, similarity, text
from dbt_metrics_ingestion_script_spark.plans.compiler import MetricCompiler
from dbt_metrics_ingestion_script_spark.plans.sql_oracle import oracle_sql_for
from dbt_metrics_ingestion_script_spark.sinks import signature_index
from dbt_metrics_ingestion_script_spark.sinks.rest import RestSink
from dbt_metrics_ingestion_script_spark.sources import documents, tables
from tests.oracle import _norm_rows


class Workload:
    concurrent = False
    items_per_op = 1
    # a sequential run measures at least this many operations, even
    # when fewer fill --seconds
    min_ops = 1

    spark = None  # set by run.py once the session is up

    def __init__(self, tracer, seed: int, work_dir: str) -> None:
        self.tracer = tracer
        self.seed = seed
        self.work_dir = work_dir

    def action(self, fn):
        """A Spark action the benchmark triggers: the `spark` layer."""
        with self.tracer.span("spark.exec"):
            return fn()

    def make_inputs(self) -> None: ...

    def setup(self) -> None: ...

    def prepare(self, i: int) -> None: ...

    def after(self, i: int, result) -> str | None:
        return None

    def finish(self) -> tuple[list[str], dict[str, float]]:
        return [], {}


# ---------------------------------------------------------------------------
# metric_queries
# ---------------------------------------------------------------------------


def rows_match(a_cols, a_rows, b_cols, b_rows, tol: float = 1e-6) -> str | None:
    """tests/oracle.py's comparison: same column names, same row
    count, order-insensitive rows with floats equal to `tol` and
    date == midnight datetime.  Returns the first difference or None."""
    if sorted(a_cols) != sorted(b_cols):
        return f"columns differ: {a_cols} vs {b_cols}"
    if len(a_rows) != len(b_rows):
        return f"row count differs: {len(a_rows)} vs {len(b_rows)}"
    for ra, rb in zip(_norm_rows(a_cols, a_rows), _norm_rows(b_cols, b_rows)):
        for x, y in zip(ra, rb):
            if isinstance(x, float) and isinstance(y, float):
                if not math.isclose(x, y, rel_tol=tol, abs_tol=tol):
                    return f"{ra} vs {rb}"
            elif str(x).removesuffix(" 00:00:00") != str(y).removesuffix(" 00:00:00"):
                return f"{ra} vs {rb}"
    return None


class MetricQueries(Workload):
    """Closed loop: one client thread per core, each sending its next
    metric request when the previous one returns."""

    concurrent = True

    def make_inputs(self) -> None:
        self.data_dir = os.path.join(self.work_dir, "tables")
        gen.write_fact_tables(self.data_dir, self.seed)

    def setup(self) -> None:
        self.pool = gen.request_pool(self.seed)
        self.sequence = gen.zipf_sequence(100_000)
        self.first: dict[int, tuple[list, list]] = {}
        self.n_results = 0
        self.rows = 0
        self.lock = threading.Lock()
        # warm-up: one request per table compiles the JVM's hot paths
        # and reads every parquet footer once
        for req in self.pool[:: len(gen.TYPES)][: len(gen.MODELS)]:
            self._compile(req).collect()

    def _resolve(self, model: str):
        with self.tracer.span("sources.load_table"):
            return tables.load_table(self.spark, self.data_dir, model)

    def _compile(self, req):
        with self.tracer.span("plans.compile"):
            return MetricCompiler(self._resolve, registry=req.registry).compile(
                req.spec, req.grain
            )

    def op(self, i: int):
        req = self.pool[self.sequence[i]]
        df = self._compile(req)
        if self.tracer.enabled:
            # Catalyst planning, forced before the action so that it
            # gets its own span; collect() reuses the planned query
            with self.tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
        rows = self.action(df.collect)
        return req.key, df.columns, [tuple(r) for r in rows]

    def after(self, i: int, result) -> str | None:
        key, cols, rows = result
        with self.lock:
            self.n_results += 1
            self.rows += len(rows)
            first = self.first.setdefault(key, (cols, rows))
        if first[1] is rows:
            return None
        diff = rows_match(cols, rows, *first)
        return f"request {key} differs from its first answer: {diff}" if diff else None

    def finish(self):
        con = duckdb.connect()
        for t in ("orders", "lineitem", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.data_dir}/{t}.parquet')"
            )
        failures = []
        for key, (cols, rows) in sorted(self.first.items()):
            req = self.pool[key]
            cur = con.execute(oracle_sql_for(req.spec, req.grain, registry=req.registry))
            diff = rows_match(cols, rows, [d[0] for d in cur.description], cur.fetchall())
            if diff:
                failures.append(f"request {key} vs oracle: {diff}")
        con.close()
        n = self.n_results
        return failures, {
            "workload.repeat_share": (n - len(self.first)) / max(n, 1),
            "spark.rows_per_op": self.rows / max(n, 1),
        }


# ---------------------------------------------------------------------------
# manifest_ingest
# ---------------------------------------------------------------------------


class _Endpoint(BaseHTTPRequestHandler):
    """In-process mock of the metadata service's ingest endpoint:
    counts posts and the entities they carry."""

    def do_POST(self):  # noqa: N802
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        n = len(json.loads(body)["proposals"])
        with self.server.lock:
            self.server.posts += 1
            self.server.entities += n
        self.send_response(200)
        self.end_headers()

    def log_message(self, *args):
        pass


class ManifestIngest(Workload):
    items_per_op = gen.MANIFEST_METRICS - gen.MANIFEST_MALFORMED

    # the first ingest of a session takes ~3x a later one (JIT, Python
    # worker start-up, code generation), and the next ones still get
    # faster: after one warm-up manifest, six ingests on a 4-core VM took
    # 5.17, 4.47, 4.11, 3.72, 3.31, 3.11 s, every layer's span shrinking
    # alike.  How far along that curve a run's measured ingests fall
    # varied with the host's speed, and so did their median.  Set-up
    # ingests three manifests, and a run measures at least three, whose
    # median leaves out one slow ingest.
    WARMUP_MANIFESTS = 3
    min_ops = 3

    def make_inputs(self) -> None:
        self.warmup = []
        for i in range(-self.WARMUP_MANIFESTS, 0):
            path = os.path.join(self.work_dir, f"manifest_{i}.json")
            self.warmup.append((path, gen.write_manifest(path, self.seed, i)))

    def setup(self) -> None:
        self.server = ThreadingHTTPServer(("127.0.0.1", 0), _Endpoint)
        self.server.lock = threading.Lock()
        self.server.posts = self.server.entities = 0
        self.server_thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.server_thread.start()
        self.endpoint = f"http://127.0.0.1:{self.server.server_port}/ingest"
        self.sink = RestSink(self.endpoint, batch_size=100)
        # calls made inside ingest_metrics get spans in the traced run
        for attr, span in (("load_manifest", "sources.load_manifest"),
                           ("build_glossary_frames", "pipeline.build_glossary_frames"),
                           ("build_emissions", "pipeline.build_emissions")):
            self.tracer.patch(pipeline, attr, span)
        self.tracer.patch(self.sink, "emit", "sinks.emit")
        self.posts = self.entities = 0
        for i, (self.path, self.facts) in enumerate(self.warmup):
            with self.server.lock:
                self.server.posts = self.server.entities = 0
            failure = self.after(-1, self.op(-1))
            if failure:
                raise RuntimeError(f"warm-up ingest {i} failed: {failure}")
        self.posts = self.entities = 0

    def prepare(self, i: int) -> None:
        self.path = os.path.join(self.work_dir, f"manifest_{i}.json")
        self.facts = gen.write_manifest(self.path, self.seed, i)
        with self.server.lock:
            self.server.posts = self.server.entities = 0

    def op(self, i: int):
        with self.tracer.span("pipeline.ingest_metrics"):
            return pipeline.ingest_metrics(self.spark, self.path, sink=self.sink)

    def after(self, i: int, result) -> str | None:
        os.remove(self.path)
        stats, f = result.stats, self.facts
        with self.server.lock:
            posts, entities = self.server.posts, self.server.entities
        self.posts += posts
        self.entities += entities
        want = f.n_valid + f.n_nodes
        got = (stats.get("n_metrics"), stats.get("n_quarantined"), entities,
               stats.get("sink", {}).get("n_failed"))
        if got != (f.n_valid, f.n_malformed, want, 0):
            return (f"manifest {i}: (n_metrics, n_quarantined, entities received, "
                    f"n_failed) = {got}, expected {(f.n_valid, f.n_malformed, want, 0)}")
        return None

    def finish(self):
        self.server.shutdown()
        self.server.server_close()
        self.server_thread.join(timeout=10)
        return [], {
            "sinks.posts": float(self.posts),
            "sinks.entities_per_post": self.entities / max(self.posts, 1),
        }


# ---------------------------------------------------------------------------
# corpus_ingest
# ---------------------------------------------------------------------------


def _tree_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under `path`, ignoring Spark's markers."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if not name.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size


class CorpusIngest(Workload):
    """One operation = one arriving batch: quality filter, dedup against
    the MinHash index, append to both stores, then serve one query
    batch from the IVF-PQ store."""

    items_per_op = gen.BATCH_DOCS
    # one batch runs ~56 small Spark jobs, and consecutive batches of a
    # run took 9.0-12.5 s on a 4-core VM; a run measures two
    min_ops = 2

    def make_inputs(self) -> None:
        self.corpus = gen.Corpus(self.seed)
        self.index_dir = os.path.join(self.work_dir, "minhash_index")
        self.store_dir = os.path.join(self.work_dir, "ivf_pq_store")
        self.batch_dir = os.path.join(self.work_dir, "batches")
        os.makedirs(self.batch_dir)
        docs, vecs = self.corpus.base()
        self.base_docs = os.path.join(self.work_dir, "base_docs.parquet")
        self.base_emb = os.path.join(self.work_dir, "base_emb.parquet")
        pq.write_table(pa.Table.from_pylist(docs), self.base_docs)
        pq.write_table(gen.embeddings_table([d["doc_id"] for d in docs], vecs), self.base_emb)
        self.input_bytes = os.path.getsize(self.base_docs) + os.path.getsize(self.base_emb)
        self.n_stored = len(docs)
        self.prepare(-1)

    def setup(self) -> None:
        signature_index.write_minhash_index(
            self.spark.read.parquet(self.base_docs), self.index_dir
        )
        similarity.materialize_ivf_pq_index(
            self.spark.read.parquet(self.base_emb), self.store_dir, n_centroids=gen.N_CLUSTERS
        )
        self.planted = self.removed_planted = 0
        self.ingest_s: list[float] = []
        self.ann_query_s: list[float] = []
        # warm-up batch: first-time codegen of every stage's plans
        failure = self.after(-1, self.op(-1))
        if failure:
            raise RuntimeError(f"warm-up batch failed: {failure}")
        self.planted = self.removed_planted = 0
        self.ingest_s.clear()
        self.ann_query_s.clear()

    def prepare(self, i: int) -> None:
        self.batch = self.corpus.batch()
        self.jsonl = os.path.join(self.batch_dir, f"batch_{i}.jsonl")
        self.emb_path = os.path.join(self.batch_dir, f"emb_{i}.parquet")
        with open(self.jsonl, "w") as f:
            f.write(self.batch.jsonl)
        pq.write_table(gen.embeddings_table(self.batch.ids, self.batch.embeddings), self.emb_path)
        self.input_bytes += os.path.getsize(self.jsonl) + os.path.getsize(self.emb_path)
        self.query_path = os.path.join(self.batch_dir, f"queries_{i}.parquet")
        vecs = self.corpus.queries(gen.QUERIES_PER_BATCH)
        table = gen.embeddings_table(list(range(len(vecs))), vecs).rename_columns(
            ["query_id", "embedding"]
        )
        pq.write_table(table, self.query_path)

    def op(self, i: int):
        spark, span = self.spark, self.tracer.span
        t0 = time.perf_counter()
        with span("sources.read_documents_jsonl"):
            good, quarantined = documents.read_documents_jsonl(spark, self.jsonl)
            n_quarantined = self.action(quarantined.count)
        with span("operators.text.quality_filter_survivors"):
            keep = text.quality_filter_survivors(good)
            kept = self.action(lambda: good.join(keep, "doc_id", "left_semi").localCheckpoint())
        with span("operators.dedup.near_dedup_against_corpus_index"):
            banded, shingles = signature_index.read_minhash_index(spark, self.index_dir)
            survivors = self.action(
                lambda: dedup.near_dedup_against_corpus_index(kept, banded, shingles)
                .localCheckpoint()
            )
        with span("sinks.signature_index.write_minhash_index"):
            signature_index.write_minhash_index(survivors, self.index_dir, mode="append")
        with span("operators.similarity.ivf_pq_index_upsert"):
            ids = survivors.select(F.col("doc_id").alias("vec_id"))
            emb = spark.read.parquet(self.emb_path).join(ids, "vec_id", "left_semi")
            similarity.ivf_pq_index_upsert(emb, self.store_dir)
        t1 = time.perf_counter()
        with span("operators.similarity.read_ivf_pq_index"):
            parts = similarity.read_ivf_pq_index(spark, self.store_dir)
        with span("operators.similarity.ivf_pq_batch_serve"):
            df = similarity.ivf_pq_batch_serve(
                parts["assignments"], parts["centroids"], parts["codes"],
                parts["codebooks"], spark.read.parquet(self.query_path),
            )
            served = self.action(df.collect)
        t2 = time.perf_counter()
        self.ingest_s.append(t1 - t0)
        self.ann_query_s.append(t2 - t1)
        return n_quarantined, kept, survivors, served

    def after(self, i: int, result) -> str | None:
        n_quarantined, kept, survivors, self.served = result
        b = self.batch
        kept = {r[0] for r in kept.select("doc_id").collect()}
        survivors = {r[0] for r in survivors.select("doc_id").collect()}
        self.spark.catalog.clearCache()
        removed = kept - survivors
        self.planted += len(b.dup_ids)
        self.removed_planted += len(removed & b.dup_ids)
        self.n_stored += len(survivors)
        problems = []
        if n_quarantined != b.n_malformed:
            problems.append(f"quarantined {n_quarantined} of {b.n_malformed} malformed")
        if kept != b.unique_ids | b.dup_ids:
            problems.append(
                f"quality filter kept {len(kept)}: {len(kept & b.low_ids)} low-quality, "
                f"{len((b.unique_ids | b.dup_ids) - kept)} good documents lost"
            )
        if removed - b.dup_ids:
            problems.append(f"dedup removed {len(removed - b.dup_ids)} unique documents")
        if len(self.served) != 10 * gen.QUERIES_PER_BATCH:
            problems.append("the served query batch did not return 10 results per query")
        return f"batch {i}: " + "; ".join(problems) if problems else None

    def finish(self):
        failures = []
        spark = self.spark
        index_rows = spark.read.parquet(os.path.join(self.index_dir, "shingles")).count()
        parts = similarity.read_ivf_pq_index(spark, self.store_dir)
        store_rows = parts["assignments"].count()
        if index_rows != self.n_stored or store_rows != self.n_stored:
            failures.append(
                f"stores hold {index_rows} / {store_rows} documents, expected {self.n_stored}"
            )
        removed_frac = self.removed_planted / max(self.planted, 1)
        if removed_frac < gen.DEDUP_FLOOR:
            failures.append(f"dedup removed {removed_frac:.3f} of planted duplicates")
        # recall of the last batch's serve: the store has not changed since
        corpus = parts["assignments"].select(
            F.col("id").alias("vec_id"), F.col("vec").alias("embedding")
        )
        exact = similarity.cosine_topk_multi(corpus, spark.read.parquet(self.query_path), k=10)
        truth = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
        served = {(r["query_id"], r["vec_id"]) for r in self.served}
        recall = len(truth & served) / max(len(truth), 1)
        if recall < gen.RECALL_FLOOR:
            failures.append(f"ann_recall_at_10 {recall:.3f} below {gen.RECALL_FLOOR}")
        files = size = 0
        for path in (self.index_dir, self.store_dir):
            f, s = _tree_stats(path)
            files, size = files + f, size + s
        return failures, {
            "operators.dedup.removed_per_planted": removed_frac,
            "corpus.ann_recall_at_10": recall,
            "sinks.store_files": float(files),
            "sinks.store_bytes_per_input_byte": size / self.input_bytes,
            "corpus.ingest_p50_s": statistics.median(self.ingest_s),
            "corpus.ann_query_p50_s": statistics.median(self.ann_query_s),
        }


WORKLOADS = {
    "metric_queries": MetricQueries,
    "manifest_ingest": ManifestIngest,
    "corpus_ingest": CorpusIngest,
}
