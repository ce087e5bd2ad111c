"""Measured scale slope: time the most expensive registry queries at
sf0.1 (1x) and at a re-keyed xN upsample (scripts/
make_scale_upsample.py), and emit per-query tN/t1 slopes as ONE JSON
document -- the evidence class VERDICT r10 item 1 asked for ("nothing
has ever been *measured* above sf0.1").

Usage:
  python scripts/scale_slope.py [base_sf_dir] [xN_dir] [out_json]
         [query ...]

Interpretation bar (written into the JSON): a slope <= ~1.2*N is
linear-plus-overhead at factor N; anything above names a superlinear
constant that plan-shape locks alone cannot see.  Both measurements run
in the SAME session back-to-back, so cross-round host drift (SCALE.md
"bench variance") does not contaminate the ratio.

Beyond wall-time, every measured run records its SHUFFLE READ/WRITE
BYTES, SPILL, and PEAK EXECUTION MEMORY from the Spark UI REST API
(stage-delta attribution: stages completed during the run), and the
JSON carries shuffle-bytes slopes next to the time slopes (VERDICT r11
item 4 -- the r11 1g->24g driver-heap cliff at x10 was discovered by
crash; a bytes curve predicts it).

Query-set rule: since round 12 the upsample re-keys orders on the SAME
offset as lineitem (referential integrity preserved per replica), so
lineitem->orders joins ARE measurable -- the default set includes the
fact-fact TPC-H anchors and dq_referential_integrity.  Queries that
join the VERBATIM-copied dims to upsampled facts remain valid (denser
history per dim row).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# local[32] runs everything in ONE JVM whose default heap is 1g -- fine
# at sf0.1, but the x10 measurement needs the heap a real executor
# fleet would have (the 10x semantic-dedup shuffle killed a 1g driver).
# Must be set before the JVM launches, hence here and not in get_spark.
os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS", "--driver-memory 24g pyspark-shell"
)

from dbt_metrics_ingestion_script_spark.session import get_spark  # noqa: E402
from dbt_metrics_ingestion_script_spark import queries as q  # noqa: E402

# top-of-BENCHFULL cost order (documents/embeddings families), the
# fact-fact join family (measurable since the round-12 orders re-key),
# and scan-bound canaries
DEFAULT_SET = [
    "dedup_semantic_clusters",
    "corpus_semantic_pipeline",
    "dedup_semantic_survivors",
    "dedup_clusters_incremental_vs_corpus",
    "text_bpe_merges",
    "text_bpe_encoded_lengths",
    "dedup_duplicate_clusters",
    "similarity_ivf_pq_batch_topk",
    "similarity_ivf_pq_topk",
    "dedup_embedding_incremental_vs_corpus",
    "dedup_minhash_eval",
    "embeddings_kmeans_convergence",
    # round-10 plan-changed (checkpoint+join-back de-skew)
    "corpus_substring_extents",
    "corpus_substring_dedup_clean",
    # scan-bound canaries: ~pure scan/agg, slope ~= IO slope
    "tpch_q1_pricing_summary",
    "events_daily_anomaly_zscore",
    "text_repetition_signals",
    # fact-fact joins (VERDICT r11 item 1): lineitem->orders rides the
    # shared o_orderkey offset, dims verbatim
    "tpch_q3_shipping_priority",
    "tpch_q8_national_market_share",
    "tpch_q12_shipmode_priority",
    "tpch_q21_suppliers_kept_waiting",
    "dq_referential_integrity",
]


def _stages(spark) -> dict[tuple[int, int], dict]:
    """Completed stages from the UI REST API, keyed (stageId, attempt).
    Returns {} if the UI is unreachable (metrics then read as None)."""
    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete",
            timeout=10,
        ) as r:
            data = json.load(r)
        return {(s["stageId"], s["attemptId"]): s for s in data}
    except Exception:
        return {}


def _delta_metrics(before: dict, after: dict) -> dict:
    new = [s for k, s in after.items() if k not in before]
    g = lambda s, f: s.get(f, 0) or 0  # noqa: E731
    return {
        "shuffle_read_bytes": sum(g(s, "shuffleReadBytes") for s in new),
        "shuffle_write_bytes": sum(g(s, "shuffleWriteBytes") for s in new),
        "spill_bytes": sum(
            g(s, "memoryBytesSpilled") + g(s, "diskBytesSpilled")
            for s in new
        ),
        "peak_execution_memory": max(
            (g(s, "peakExecutionMemory") for s in new), default=0
        ),
    }


def _force_eval(df):
    """Defeat count()'s aggregate-expression pruning: a filter over a
    hash of EVERY output column makes each value load-bearing, so the
    count evaluates the full query instead of its grouping skeleton.
    Without this, `groupBy(k).agg(count_distinct(v)).count()` prunes
    the count_distinct itself (it only needs the distinct k's) -- the
    skew measurements exist precisely for that heavyweight per-group
    state, so they must not measure the pruned plan."""
    from pyspark.sql import functions as F

    return df.where(F.xxhash64(*df.columns) % 2 >= -2)


def _time(fn, spark, sf_dir, iters=1, force=False):
    """min wall-time over iters; stage metrics from the LAST (warm)
    iteration."""
    best = None
    rows = None
    metrics = {}
    for _ in range(iters):
        before = _stages(spark)
        t0 = time.monotonic()
        df = fn(spark, sf_dir)
        if force:
            df = _force_eval(df)
        rows = df.count()
        dt = time.monotonic() - t0
        metrics = _delta_metrics(before, _stages(spark))
        best = dt if best is None else min(best, dt)
    return best, rows, metrics


def main() -> int:
    argv = [a for a in sys.argv[1:] if a != "--force-eval"]
    force = "--force-eval" in sys.argv[1:]
    base = argv[0] if len(argv) > 0 else "/root/testdata/sf0.1"
    x10 = argv[1] if len(argv) > 1 else "/root/repo/scratch_scale/x10"
    out_path = argv[2] if len(argv) > 2 else "SCALING_r12.json"
    names = argv[3:] or DEFAULT_SET
    # upsample factor, for the slope bar and the JSON labels (a x100
    # dir from make_scale_upsample.py gives a second measured decade)
    factor = int(os.environ.get("SPARK_GRAFT_SLOPE_FACTOR", "10"))

    # the harness needs the UI's REST endpoint for stage metrics
    # (get_spark disables it for the query sessions); the listener
    # overhead is identical at both scales, so the RATIO is unbiased
    spark = get_spark(
        app_name="scale_slope",
        shuffle_partitions=32,
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    # full registry (driver-exposed AND driver=False bench rows --
    # text_bpe_* are benchmarked but not driver-registered)
    q.queries()
    registry = {n: d.fn for n, d in q.REGISTRY.items()}
    # bench-only EXTRA entries (unsalted/salted baselines), measurable
    # here too -- the skewed-upsample runs compare the pair
    from dbt_metrics_ingestion_script_spark import queries_ext as _qe

    registry.setdefault("events_daily_agg", _qe.events_daily_agg)
    registry.setdefault("skew_unsalted_count_distinct", _qe.skew_demo_unsalted)
    registry.setdefault("skew_salted_count_distinct", _qe.skew_demo_salted)

    # JVM/codegen warmup so the first measured query is not the one
    # paying JIT cost
    registry["tpch_q1_pricing_summary"](spark, base).count()

    results = {}
    for name in names:
        fn = registry[name]
        t1, rows1, m1 = _time(fn, spark, base, iters=2, force=force)
        t10, rows10, m10 = _time(fn, spark, x10, iters=1, force=force)
        slope = round(t10 / t1, 2) if t1 else None
        sb1 = m1["shuffle_read_bytes"] + m1["shuffle_write_bytes"]
        sbN = m10["shuffle_read_bytes"] + m10["shuffle_write_bytes"]
        results[name] = {
            "t1_sec": round(t1, 3),
            f"t{factor}_sec": round(t10, 3),
            "slope": slope,
            "rows_1x": rows1,
            f"rows_{factor}x": rows10,
            "shuffle_bytes_1x": sb1,
            f"shuffle_bytes_{factor}x": sbN,
            "shuffle_bytes_slope": round(sbN / sb1, 2) if sb1 else None,
            "spill_bytes_1x": m1["spill_bytes"],
            f"spill_bytes_{factor}x": m10["spill_bytes"],
            "peak_exec_mem_1x": m1["peak_execution_memory"],
            f"peak_exec_mem_{factor}x": m10["peak_execution_memory"],
        }
        print(
            f"{name:45s} t1={t1:7.2f}s t{factor}={t10:8.2f}s "
            f"slope={slope:6.2f}x rows {rows1}->{rows10} "
            f"shuf {sb1}->{sbN} spill {m10['spill_bytes']}",
            flush=True,
        )
    spark.stop()

    doc = {
        "base_sf_dir": base,
        "upsample_dir": x10,
        "factor": factor,
        "bar": f"slope <= ~{round(factor * 1.2)}x is "
               f"linear-plus-overhead at factor {factor}",
        "same_session": True,
        "force_eval": force,
        "metrics_note": (
            "shuffle/spill/peak-memory from the Spark UI REST API, "
            "stage-delta attribution, warm iteration; "
            "peak_execution_memory is the max single-stage value"
        ),
        "queries": results,
    }
    Path(out_path).write_text(json.dumps(doc, indent=1) + "\n")
    print(json.dumps({"written": out_path, "n": len(results)}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
