"""Seeded input generators for the three benchmark workloads.

Every generator takes the run's seed and returns plain data or writes
files under a directory it is given; the engine only ever sees those
inputs.  The constants next to each generator record the input
properties the workload depends on and why they were chosen.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from dbt_metrics_ingestion_script_spark.plans.metric_spec import (
    MetricFilter,
    MetricSpec,
)

# ---------------------------------------------------------------------------
# metric_queries: fact tables + a Zipf-drawn pool of metric requests
# ---------------------------------------------------------------------------

# Row counts of the sf0.1 test tables (TESTDATA.md): the three fact tables
# total ~15 MB of parquet, so the scans come from the page cache and a
# request's latency is planning, scheduling and aggregation, the part
# of Layer B the engine controls.
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000

# A dashboard refreshes the same few tiles far more often than it asks
# something new: requests are drawn Zipf(s) from a finite pool, so a
# share of them repeats an earlier request (the share is measured per
# run and reported as workload.repeat_share, ~0.6 over a run's ~50
# requests).  The pool is stratified: 4 variants of each (table, metric
# type) shape, with the grain, method, dimension and filter counts
# fixed by position and only their choice drawn from the seed, and the
# Zipf draw of positions is the same for every seed.  So every seed
# gives the same mix of request costs, and runs with different seeds
# compare.
POOL_SIZE = 48
ZIPF_S = 1.1

_DAY_US = 86_400 * 1_000_000


def _epoch_us(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def write_fact_tables(out_dir: str, seed: int) -> None:
    """orders / lineitem / events parquet with the sf0.1 test-table
    schemas (TESTDATA.md), drawn from `seed`."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    lo, hi = _epoch_us(1992, 1, 1) // _DAY_US, _epoch_us(1998, 8, 2) // _DAY_US

    def days(n):
        return pa.array(rng.integers(lo, hi, n) * _DAY_US, pa.timestamp("us"))

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])

    n = N_ORDERS
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(1, 15_000, n)),
            "o_orderstatus": pick(["O", "F", "P"], n),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, n), 2)),
            "o_orderdate": days(n),
            "o_orderpriority": pick(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n
            ),
        }
    )
    n = N_LINEITEM
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, n)),
            "l_partkey": pa.array(rng.integers(1, 20_000, n)),
            "l_suppkey": pa.array(rng.integers(1, 1_000, n)),
            "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pick(["A", "N", "R"], n),
            "l_linestatus": pick(["O", "F"], n),
            "l_shipdate": days(n),
        }
    )
    n = N_EVENTS
    start = _epoch_us(2024, 1, 1)
    events = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(
                np.sort(rng.integers(start, start + 366 * _DAY_US, n)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(1, 5_000, n)),
            "event_type": pick(["view", "click", "purchase", "signup", "error"], n),
            "value": pa.array(np.round(rng.exponential(40.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    for name, table in (("orders", orders), ("lineitem", lineitem), ("events", events)):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


@dataclass(frozen=True)
class _Model:
    table: str
    ts: str
    measures: tuple[str, ...]
    dims: tuple[str, ...]
    filters: tuple[MetricFilter, ...]


# Filters mirror tests/test_spec_hypothesis.py, including templated
# dateadd values (anchored on a literal date so results do not depend
# on the day the benchmark runs).
MODELS = (
    _Model(
        "orders",
        "o_orderdate",
        ("o_totalprice", "o_custkey", "o_totalprice * 0.9"),
        ("o_orderstatus", "o_orderpriority"),
        (
            MetricFilter("o_totalprice", ">", "5000"),
            MetricFilter("o_orderstatus", "in", ["O", "F"]),
            MetricFilter("o_orderdate", ">=", "{{ dbt.dateadd('month', -18, '1997-06-15') }}"),
            MetricFilter("o_orderdate", "<", "1997-01-01"),
        ),
    ),
    _Model(
        "lineitem",
        "l_shipdate",
        ("l_extendedprice", "l_quantity", "l_extendedprice * (1 - l_discount)"),
        ("l_returnflag", "l_linestatus"),
        (
            MetricFilter("l_quantity", "<=", 30),
            MetricFilter("l_returnflag", "!=", "R"),
            MetricFilter("l_discount", ">", 0.02),
            MetricFilter("l_shipdate", ">=", "{{ dbt.dateadd('year', -3, '1998-01-01') }}"),
        ),
    ),
    _Model(
        "events",
        "ts",
        ("value", "user_id"),
        ("event_type",),
        (
            MetricFilter("event_type", "in", ["view", "click", "purchase"]),
            MetricFilter("value", ">", 10),
            MetricFilter("ts", ">=", "{{ dbt.dateadd('day', -90, '2024-12-31') }}"),
        ),
    ),
)

METHODS = ("sum", "count", "count_distinct", "average", "min", "max")
GRAINS = ("day", "week", "month", "quarter", "year")
TYPES = ("simple", "ratio", "derived", "cumulative")


@dataclass(frozen=True)
class Request:
    """One metric request: a spec at a grain (+ the registry a derived
    spec resolves its inputs from)."""

    key: int
    spec: MetricSpec
    grain: str
    registry: dict


def _request(key: int, m: _Model, mtype: str, rng: random.Random) -> Request:
    """Request `key` of shape (m, mtype): counts and grain follow from
    `key`, the concrete columns and filters from `rng`."""
    grains = GRAINS[1:4] if mtype == "cumulative" else GRAINS
    grain = grains[key % len(grains)]
    # day grain x dims multiplies result rows; cap it so collecting a
    # result stays a small part of a request
    max_dims = 1 if grain == "day" else len(m.dims)
    dims = rng.sample(m.dims, key % (max_dims + 1))
    filters = rng.sample(m.filters, key % 3)
    method = METHODS[(key // len(TYPES)) % len(METHODS)]
    common = dict(model=m.table, timestamp=m.ts, dimensions=dims)
    name = f"m{key}"
    registry: dict = {}
    if mtype == "simple":
        spec = MetricSpec(
            name=name, calculation_method=method,
            expression="*" if method == "count" else rng.choice(m.measures),
            filters=filters, **common,
        )
    elif mtype == "ratio":
        spec = MetricSpec(
            name=name, metric_type="ratio", filters=filters[:1],
            numerator=MetricSpec(
                name="num", calculation_method=("sum", "count", "average")[key % 3],
                expression=rng.choice(m.measures), model=m.table,
                filters=filters[1:],
            ),
            denominator=MetricSpec(
                name="den", calculation_method=("sum", "count")[key % 2],
                expression=rng.choice(m.measures), model=m.table,
            ),
            **common,
        )
    elif mtype == "derived":
        a, b = rng.sample(m.measures, 2)
        registry = {
            "ma": MetricSpec(
                name="ma", calculation_method=("sum", "average", "max")[key % 3],
                expression=a, filters=filters, **common,
            ),
            "mb": MetricSpec(
                name="mb", calculation_method=("count", "count_distinct", "min")[key % 3],
                expression=b, **common,
            ),
        }
        spec = MetricSpec(
            name=name, metric_type="derived", expression="ma / (mb + 1)",
            input_metrics=["ma", "mb"], **common,
        )
    else:
        spec = MetricSpec(
            name=name, metric_type="cumulative",
            calculation_method=("sum", "count", "min", "max")[key % 4],
            expression=rng.choice(m.measures), filters=filters,
            reset_grain=(None, "year")[key % 2], **common,
        )
    return Request(key, spec, grain, registry)


def request_pool(seed: int) -> list[Request]:
    """POOL_SIZE requests, variant-major: positions 0-11 hold the first
    variant of each of the 12 (table, type) shapes, and so on."""
    rng = random.Random(seed)
    shapes = [(m, t) for m in MODELS for t in TYPES]
    return [
        _request(k, *shapes[k % len(shapes)], rng) for k in range(POOL_SIZE)
    ]


def zipf_sequence(n: int) -> list[int]:
    """n pool positions drawn Zipf(ZIPF_S): position k has rank k + 1.
    The draw is the same for every seed, so runs with different seeds
    send the same mix of request shapes in the same order."""
    rng = np.random.default_rng(0)
    p = np.arange(1, POOL_SIZE + 1) ** -ZIPF_S
    return [int(i) for i in rng.choice(POOL_SIZE, size=n, p=p / p.sum())]


# ---------------------------------------------------------------------------
# manifest_ingest: fresh dbt manifests with planted malformed metrics
# ---------------------------------------------------------------------------

# A few thousand metrics is a large real dbt project; at this size the
# per-manifest cost is the pipeline's Spark work, not only its fixed
# per-job overhead.  ~1% malformed records exercise the quarantine split
# on every manifest.
MANIFEST_METRICS = 3000
MANIFEST_MALFORMED = MANIFEST_METRICS // 100
CATEGORIES = (None, "Finance/Revenue", "Finance/Costs", "Growth", "Product/Engagement",
              "Operations")
_N_SOURCES = 12
_N_STAGING = 24
_N_MARTS = 40


@dataclass(frozen=True)
class ManifestFacts:
    """What a correct ingest of the generated manifest must report."""

    n_valid: int
    n_malformed: int
    n_nodes: int  # glossary root + distinct categories of valid metrics


def make_manifest(seed: int, index: int) -> tuple[dict, ManifestFacts]:
    """One manifest with the reference's metric-type mix (simple,
    ratio, derived, cumulative) and multi-hop lineage metrics -> marts
    -> staging models -> sources in `parent_map`."""
    rng = random.Random(seed * 1_000_003 + index)
    pkg = "bench"
    sources = {
        f"source.{pkg}.raw.src_{i}": {
            "name": f"src_{i}", "resource_type": "source", "database": "warehouse",
            "schema": "raw", "identifier": f"src_{i}_v{rng.randint(1, 3)}",
        }
        for i in range(_N_SOURCES)
    }
    nodes, parent_map = {}, {}

    def add_models(layer: str, count: int, parents: list[str]) -> list[str]:
        ids = []
        for i in range(count):
            uid = f"model.{pkg}.{layer}_{i}"
            nodes[uid] = {
                "name": f"{layer}_{i}", "resource_type": "model", "package_name": pkg,
                "database": "warehouse", "schema": layer,
                "alias": None if i % 3 else f"{layer}_{i}_final",
                "relation_name": f"warehouse.{layer}.{layer}_{i}",
            }
            parent_map[uid] = rng.sample(parents, rng.randint(1, 3))
            ids.append(uid)
        return ids

    staging = add_models("stg", _N_STAGING, list(sources))
    marts = add_models("fct", _N_MARTS, staging)
    n_malformed = MANIFEST_MALFORMED
    malformed = set(rng.sample(range(MANIFEST_METRICS), n_malformed))
    metrics, categories = {}, set()
    names = [f"metric_{index}_{i}" for i in range(MANIFEST_METRICS)]
    for i, name in enumerate(names):
        uid = f"metric.{pkg}.{name}"
        mtype = rng.choice(["simple", "simple", "ratio", "derived", "cumulative"])
        category = rng.choice(CATEGORIES)
        deps = rng.sample(marts, rng.randint(1, 2))
        # a depends_on id the registry cannot resolve (reference WARN path)
        if rng.random() < 0.02:
            deps.append(f"model.{pkg}.missing_{i}")
        record = {
            "label": f"Metric {i}",
            "description": "" if i % 7 == 0 else f"Synthetic metric {i}",
            "type": mtype,
            "calculation_method": rng.choice(METHODS) if mtype != "derived" else None,
            "expression": "order_total" if mtype != "derived" else "a / b",
            "timestamp": "order_date",
            "time_grains": rng.sample(list(GRAINS), rng.randint(1, 3)),
            "dimensions": rng.sample(["customer_id", "region", "channel"], rng.randint(0, 2)),
            "filters": (
                [{"field": "order_total", "operator": ">", "value": "0"}]
                if rng.random() < 0.3 else []
            ),
            "metrics": rng.sample(names, 2) if mtype in ("ratio", "derived") else [],
            "depends_on": {"nodes": deps, "macros": []},
            "meta": {"owner": f"team_{i % 5}"} | (
                {"datahub_glossary_category": category} if category else {}
            ),
            "tags": ["bench"],
            "package_name": pkg,
            "path": f"metrics/{name}.yml",
        }
        if i in malformed:
            # three malformed shapes the quarantine must catch
            kind = i % 3
            if kind == 1:
                record["name"] = ""
            elif kind == 2:
                record["name"] = None
        else:
            record["name"] = name
            categories.add(category or "Uncategorized")
        metrics[uid] = record
        parent_map[uid] = deps
    manifest = {
        "metadata": {"dbt_version": "1.7.0", "project_name": pkg},
        "metrics": metrics,
        "nodes": nodes,
        "sources": sources,
        "semantic_models": {
            f"semantic_model.{pkg}.sm_{j}": {
                "name": f"sm_{j}", "description": f"model {j}",
                "model": f"ref('fct_{j}')",
                "dimensions": [{"name": "order_date", "type": "time"}],
                "measures": [{"name": "order_total", "agg": "sum"}],
                "entities": [{"name": "order_id", "type": "primary"}],
                "meta": {},
            }
            for j in range(_N_MARTS)
        },
        "parent_map": parent_map,
        "child_map": {},
    }
    facts = ManifestFacts(
        n_valid=MANIFEST_METRICS - n_malformed,
        n_malformed=n_malformed,
        n_nodes=1 + len(categories),
    )
    return manifest, facts


def write_manifest(path: str, seed: int, index: int) -> ManifestFacts:
    manifest, facts = make_manifest(seed, index)
    with open(path, "w") as f:
        json.dump(manifest, f)
    return facts


# ---------------------------------------------------------------------------
# corpus_ingest: JSONL document batches with planted duplicates + noise
# ---------------------------------------------------------------------------

# Base corpus the two stores are built from, and per-batch planted
# rates.  Duplicates copy documents already in the stores (the dedup
# operator checks a batch against the materialized index, not against
# itself), so every planted duplicate is removable; near duplicates
# change one word in ~50, Jaccard ~0.9 on word 3-shingles, well above
# the 0.8 threshold.  Removed / planted must reach DEDUP_FLOOR.
# Building the two base stores is set-up time: 1,000 documents give
# every cluster ~60 members and take ~10 s less to build than 3,000
# on 4 cores, time a run spends on more measured operations instead.
BASE_DOCS = 1000
BATCH_DOCS = 400
EXACT_DUP_RATE = 0.05
NEAR_DUP_RATE = 0.05
LOW_QUALITY_RATE = 0.08
MALFORMED_RATE = 0.02
DEDUP_FLOOR = 0.9
DIM = 64
N_CLUSTERS = 16
CLUSTER_NOISE = 0.15
QUERY_NOISE = 0.02
# One query batch is served after each ingested batch.  Serving 16
# queries takes ~2 s of a ~9 s operation on 4 cores, and the cost
# grows with the number of queries (each probes a quarter of the
# store), so more or larger batches per operation would make a run
# too long for the benchmark's time limit.  Queries
# are stored vectors moved slightly ("more like this"); with the serving
# defaults (4 of 16 cells probed, 8x16 PQ codes, shortlist 30) recall@10
# is ~0.4 on these clusters, and must not fall below RECALL_FLOOR.
QUERIES_PER_BATCH = 16
RECALL_FLOOR = 0.2

# the English marker words of operators.text.LANG_MARKERS: every line
# starts with one, so every good document is identified as English
_STOPWORDS = ("the", "and", "of", "to", "in", "is", "that", "for", "with", "was")
_SYLLABLES = ("ka", "lo", "mi", "ren", "sa", "tor", "vi", "del", "pan", "qu", "ro",
              "ste", "nu", "gal", "fe", "mor", "tin", "bra", "cle", "dus")


def _vocabulary(rng: random.Random, n: int = 3000) -> list[str]:
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 4))))
    return sorted(words)


@dataclass
class Corpus:
    """Seeded document source: a base corpus plus batches drawn with
    the planted rates above.  Keeps the base texts, which duplicates
    copy, and the base vectors, which queries start from."""

    seed: int

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        self.np_rng = np.random.default_rng(self.seed)
        self.vocab = _vocabulary(self.rng)
        centers = self.np_rng.normal(size=(N_CLUSTERS, DIM))
        self.centers = centers / np.linalg.norm(centers, axis=1, keepdims=True)
        self.next_id = 0
        self.base_text: dict[int, str] = {}

    def _text(self) -> str:
        lines = []
        for _ in range(self.rng.randint(3, 5)):
            toks = [self.rng.choice(_STOPWORDS)]
            for _ in range(self.rng.randint(10, 16)):
                if self.rng.random() < 0.3:
                    toks.append(self.rng.choice(_STOPWORDS))
                toks.append(self.rng.choice(self.vocab))
            lines.append(" ".join(toks).capitalize() + ".")
        return "\n".join(lines)

    def _low_quality(self) -> str:
        kind = self.rng.randrange(3)
        if kind == 0:  # repeated boilerplate lines
            line = " ".join(self.rng.choice(self.vocab) for _ in range(6))
            return "\n".join([line] * 8)
        if kind == 1:  # PII in otherwise clean prose
            return self._text() + f" Write to {self.rng.choice(self.vocab)}@example.com now."
        return " ".join("#$%&*@!"[self.rng.randrange(7)] * 4 for _ in range(40))

    def _near_copy(self, text: str) -> str:
        toks = text.split(" ")
        i = self.rng.randrange(len(toks))
        toks[i] = self.rng.choice(self.vocab)
        return " ".join(toks)

    def _embedding(self, n: int) -> np.ndarray:
        c = self.centers[self.np_rng.integers(0, N_CLUSTERS, n)]
        v = c + self.np_rng.normal(scale=CLUSTER_NOISE, size=(n, DIM))
        return v / np.linalg.norm(v, axis=1, keepdims=True)

    def base(self) -> tuple[list[dict], np.ndarray]:
        docs = [self._doc(self._text()) for _ in range(BASE_DOCS)]
        for d in docs:
            self.base_text[d["doc_id"]] = d["text"]
        self.base_vecs = self._embedding(len(docs))
        return docs, self.base_vecs

    def _doc(self, text: str) -> dict:
        doc = {"doc_id": self.next_id, "text": text, "lang": "en", "source": "crawl",
               "n_chars": len(text)}
        self.next_id += 1
        return doc

    def batch(self) -> "Batch":
        """One batch: unique good docs plus planted exact/near
        duplicates, low-quality docs and malformed lines."""
        n = BATCH_DOCS
        base_ids = list(self.base_text)
        kinds = (["exact"] * int(n * EXACT_DUP_RATE) + ["near"] * int(n * NEAR_DUP_RATE)
                 + ["low"] * int(n * LOW_QUALITY_RATE) + ["bad"] * int(n * MALFORMED_RATE))
        kinds += ["unique"] * (n - len(kinds))
        self.rng.shuffle(kinds)
        docs, lines = [], []
        b = Batch()
        for kind in kinds:
            if kind == "bad":
                lines.append('{"doc_id": %d, "text": "unterminated' % self.next_id)
                self.next_id += 1
                b.n_malformed += 1
                continue
            if kind == "exact":
                doc = self._doc(self.base_text[self.rng.choice(base_ids)])
                b.dup_ids.add(doc["doc_id"])
            elif kind == "near":
                doc = self._doc(self._near_copy(self.base_text[self.rng.choice(base_ids)]))
                b.dup_ids.add(doc["doc_id"])
            elif kind == "low":
                doc = self._doc(self._low_quality())
                b.low_ids.add(doc["doc_id"])
            else:
                doc = self._doc(self._text())
                b.unique_ids.add(doc["doc_id"])
            docs.append(doc)
            lines.append(json.dumps(doc))
        b.jsonl = "\n".join(lines) + "\n"
        b.ids = [d["doc_id"] for d in docs]
        b.embeddings = self._embedding(len(docs))
        return b

    def queries(self, n: int) -> np.ndarray:
        """'More like this' queries: base vectors, slightly moved."""
        v = self.base_vecs[self.np_rng.integers(0, len(self.base_vecs), n)]
        v = v + self.np_rng.normal(scale=QUERY_NOISE, size=v.shape)
        return v / np.linalg.norm(v, axis=1, keepdims=True)


@dataclass
class Batch:
    """One generated batch and the planted ids a correct run must sort
    out (`ids` lists the well-formed lines' documents, in order)."""

    jsonl: str = ""
    ids: list[int] = field(default_factory=list)
    embeddings: np.ndarray | None = None
    n_malformed: int = 0
    dup_ids: set[int] = field(default_factory=set)
    low_ids: set[int] = field(default_factory=set)
    unique_ids: set[int] = field(default_factory=set)


def embeddings_table(ids: list[int], vecs: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float64)), pa.list_(pa.float64())),
        }
    )
