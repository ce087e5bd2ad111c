"""Scale-decade plan audit (VERDICT r12 next-round item 1): capture the
AQE FINAL physical plans of the join-anchor queries at 1x (sf0.1), x10,
and x100, and grade each against the plan you'd want at that scale.

Why this exists: every committed PLANAUDIT_r*.txt locks plans at
sf0.01, but the x10/x100 bytes curves (SCALING_r11/r12) prove AQE picks
DIFFERENT physical plans at scale -- broadcast joins demote to shuffled
joins once the build side outgrows the threshold (tpch_q3 212x bytes at
x10; tpch_q9/q12 at x100).  The sf0.01 locks therefore audit the wrong
plan for the 100x posture.  This script runs each anchor TO COMPLETION
(collect -- AdaptiveSparkPlan mutates to its final form only once the
query executes) and reads the executed plan, not the static one.

Grading (PASS/FAIL per query per decade):
  - NEVER (any scale): BroadcastNestedLoopJoin or CartesianProduct.
  - fact-fact anchors (tpch q3/q8/q9/q12/q21, dq_referential_integrity)
    at x100: the lineitem<->orders edge must be a SHUFFLED join
    (>=1 SortMergeJoin or ShuffledHashJoin in the final plan) -- a
    broadcast of a 100x fact side is the 1000-executor OOM.  Dimension
    joins staying broadcast is correct and expected.  At x10 a
    still-broadcast fact edge is REPORTED (bcast@x10), not failed: the
    decision is AQE's, made from the MEASURED post-filter build size at
    runtime (q3/q12 demote at x10, q9/q21/dq at x100 -- each exactly
    when its build side outgrows the threshold), which is the behavior
    the audit exists to confirm.
  - funnel family (events self-pairing) at x100: same shuffled-join
    requirement if any join exists (the batch funnels are window/agg
    plans with zero joins -- reported as such).
  - SinglePartition exchanges PASS only when the plan line directly
    below each one is a partial HashAggregate (the rows entering the
    exchange are already collapsed to per-task partials); anything
    else fails the query at that decade.

Usage:
  python scripts/plan_audit_scale.py [out_txt]
Writes a table: query x decade -> join strategies + verdict.
"""

from __future__ import annotations

import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# x100 runs need a real executor-fleet-sized heap (scale_slope.py
# precedent); must be set before the JVM launches.
os.environ.setdefault(
    "PYSPARK_SUBMIT_ARGS", "--driver-memory 24g pyspark-shell"
)

from dbt_metrics_ingestion_script_spark.session import get_spark  # noqa: E402
from dbt_metrics_ingestion_script_spark import queries as q  # noqa: E402

# the join-anchor set VERDICT r12 named: the fact-fact TPC-H edges, the
# funnel family, and the referential-integrity check
FACT_FACT = [
    "tpch_q3_shipping_priority",
    "tpch_q8_national_market_share",
    "tpch_q9_product_type_profit",
    "tpch_q12_shipmode_priority",
    "tpch_q21_suppliers_kept_waiting",
    "dq_referential_integrity",
]
FUNNELS = [
    "events_funnel_stages",
    "events_funnel_conversion_window",
]

# Wave 2 (VERDICT r13 next-round item 3): the iterative/EXT families
# whose plans are data-dependent -- exactly where the r12 memory cliff
# hid (a checkpoint-inherited size estimate broadcasting every gram
# occurrence).  Graded at 1x and x10: no BroadcastExchange may carry
# more than BROADCAST_CAP_BYTES (a pair/gram/assignment frame riding a
# broadcast is the 1000-executor OOM; the legitimate broadcasts here --
# centroids, codebooks, thresholds, query batches -- are KB..MB), the
# banded joins must stay equi-joins (no nested-loop/cartesian), and the
# *_served queries must not rescan embeddings (they serve the
# materialized store).  Checkpoint-leaf counts are recorded per decade:
# they are the data-dependent fingerprint component bench suspect
# adjudication treats as incomparable (bench.py adjudicate_suspect).
WAVE2 = [
    "dedup_semantic_survivors",
    "dedup_semantic_clusters_celled",
    "dedup_semantic_survivors_celled",
    "dedup_duplicate_clusters",
    "similarity_ivf_pq_batch_topk",
    "similarity_ivf_pq_batch_topk_served",
    "corpus_training_pipeline",
]
# The banded-LSH semantic rule is audited at 1x/x10 ONLY: its fixed
# (band, key) space -- 8 planes / 3 bands leaves 2-bit keys, 12
# buckets total -- makes candidate volume QUADRATIC in the corpus
# (r15 finding: the x100 run materialized a ~10^10-row candidate
# distinct for 35+ min before being killed).  Widening the signature
# collapses recall at the 0.4-cosine threshold instead, so the x100
# scale path is the SemDeDup celled rule (embedding_near_pairs_celled,
# audited at all three decades); the LSH rule stays for its sf-scale
# oracle and its 1x/x10 rows.
LSH_DECADE_CAPPED = {"dedup_semantic_survivors"}
NO_EMBEDDINGS_RESCAN = {"similarity_ivf_pq_batch_topk_served"}
BROADCAST_CAP_BYTES = 128 * 1024 * 1024
# Batch-ANN scoring IS a cross product -- corpus x query-batch, probe
# selection centroids x queries -- and Spark expresses a broadcast
# cross as BroadcastNestedLoopJoin(BuildRight, Cross).  That node is
# the CORRECT plan when (and only when) the broadcast side is a
# bounded model/query frame: the audit admits it for these queries and
# relies on the RUNTIME broadcast-size cap at both decades to prove
# boundedness (an unbounded side would scale with the corpus and trip
# the 128 MiB cap at x10; the measured sizes are scale-independent).
# A CartesianProduct (both sides shuffled) stays a FAIL everywhere.
BROADCAST_CROSS_OK = {
    "similarity_ivf_pq_batch_topk",
    "similarity_ivf_pq_batch_topk_served",
}

DECADES = [
    ("1x", "/root/testdata/sf0.1"),
    ("x10", "/root/repo/scratch_scale/x10"),
    ("x100", "/root/repo/scratch_scale/x100"),
]
# r15 (VERDICT r14 item 3): wave 2 now audits ALL THREE decades --
# the r12 cliff was invisible at 1x and fatal at x10; x100 is the
# decade the 100 TB posture actually claims.  scratch_scale/x100
# gained documents/embeddings upsamples (same full-salt recipe as
# x10) this round.
WAVE2_DECADES = DECADES

JOIN_NODES = [
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]


def _sql_exec_ids(spark) -> set[int]:
    """Ids of SQL executions the UI has recorded so far; set() if the
    UI is unreachable."""
    import json
    import urllib.request

    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/sql?offset=0&length=100000",
            timeout=10,
        ) as r:
            return {e["id"] for e in json.load(r)}
    except Exception:  # noqa: BLE001
        return set()


_SIZE_UNIT = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3}


def _max_broadcast_bytes(spark, new_ids: set[int]) -> int | None:
    """The largest BroadcastExchange 'data size' metric (bytes) across
    the given SQL executions, measured at RUNTIME from the UI REST API
    -- the quantity the r12 memory cliff hid from static plan locks
    (the planner BELIEVED the gram frame was small; the executed
    broadcast was GBs).  None if the UI is unreachable."""
    import json
    import re as _re
    import urllib.request

    try:
        ui = spark.sparkContext.uiWebUrl
        app = spark.sparkContext.applicationId
        with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/sql"
            "?offset=0&length=100000&details=true",
            timeout=30,
        ) as r:
            data = json.load(r)
    except Exception:  # noqa: BLE001
        return None
    best = 0
    for e in data:
        if e.get("id") not in new_ids:
            continue
        for node in e.get("nodes", []) or []:
            if "BroadcastExchange" not in (node.get("nodeName") or ""):
                continue
            for m in node.get("metrics", []) or []:
                if not (m.get("name") or "").startswith("data size"):
                    continue
                for num, unit in _re.findall(
                    r"([\d.]+)\s*(B|KiB|MiB|GiB)", m.get("value") or ""
                ):
                    best = max(best, int(float(num) * _SIZE_UNIT[unit]))
    return best


def final_plan(df) -> str:
    """Execute the frame's OWN queryExecution and return the adaptive
    FINAL plan string.  collect() runs the Dataset's queryExecution in
    place, so the AdaptiveSparkPlan node it holds is the mutated final
    plan -- a fresh action helper (count) would plan its own tree and
    leave this one initial."""
    df._jdf.queryExecution()  # force analysis before timing
    df.collect()
    mode = (
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode
        .fromString("simple")
    )
    return df._jdf.queryExecution().explainString(mode)


def audit_one(plan: str) -> dict:
    counts = {n: len(re.findall(rf"\b{n}\b", plan)) for n in JOIN_NODES}
    # BroadcastHashJoin lines also contain no other join names, so the
    # counts are disjoint by construction of the node names
    counts["SinglePartition"] = plan.count("SinglePartition")
    counts["AQEShuffleRead"] = plan.count("AQEShuffleRead")
    counts["skewed"] = plan.count("skewed=true")
    counts["isFinal"] = "isFinalPlan=true" in plan
    # checkpoint leaves: the data-dependent fingerprint component
    # (iteration counts vary with input) -- recorded per decade so the
    # bench adjudicator's incomparability rule has committed evidence
    counts["ckpt"] = plan.count("Scan ExistingRDD")
    counts["embeddings_scans"] = plan.count("embeddings.parquet")
    # every SinglePartition exchange must be fed by a partial
    # HashAggregate: the child is the next plan line (tree indentation
    # grows downward), so look one line ahead
    lines = plan.splitlines()
    bad = 0
    for i, ln in enumerate(lines):
        if "SinglePartition" in ln:
            child = lines[i + 1] if i + 1 < len(lines) else ""
            if "HashAggregate" not in child:
                bad += 1
    counts["singlep_unfed"] = bad
    return counts


def verdict(name: str, decade: str, c: dict) -> tuple[str, str]:
    reasons = []
    notes = []
    if c["CartesianProduct"]:
        reasons.append("cartesian (both-sides-shuffled) cross join")
    if c["BroadcastNestedLoopJoin"]:
        if name in BROADCAST_CROSS_OK:
            # the cross is admitted ONLY on the strength of the
            # measured runtime broadcast size; a dead UI probe
            # (max_broadcast_bytes None) means the boundedness proof
            # is MISSING, and a missing proof must not read as PASS
            # (ADVICE r15)
            if c.get("max_broadcast_bytes") is None:
                reasons.append(
                    "broadcast-bounded cross admitted but the runtime "
                    "broadcast-size probe returned nothing -- "
                    "boundedness UNVERIFIED, rerun with the UI "
                    "reachable"
                )
            else:
                notes.append(
                    f"bnl={c['BroadcastNestedLoopJoin']} "
                    "broadcast-bounded cross (query/centroid batch; "
                    "runtime size-capped)"
                )
        else:
            reasons.append("nested-loop join")
    shuffled = c["SortMergeJoin"] + c["ShuffledHashJoin"]
    if name in FACT_FACT and shuffled == 0:
        if decade == "x100":
            reasons.append("fact-fact edge still broadcast at x100")
        elif decade == "x10":
            notes.append("bcast@x10 (AQE-measured build side)")
    if name in FUNNELS and decade == "x100" and (
        c["SortMergeJoin"] + c["ShuffledHashJoin"] + c["BroadcastHashJoin"]
    ) > 0 and shuffled == 0:
        reasons.append("events self-pair still broadcast at x100")
    if c["singlep_unfed"]:
        reasons.append(
            f"{c['singlep_unfed']} SinglePartition exchange(s) not fed "
            "by partial aggregation"
        )
    if name in WAVE2:
        # the r12 memory-cliff shape: a pair/gram/assignment frame
        # riding a broadcast -- graded from the RUNTIME broadcast size,
        # not the planner's estimate (which is what lied in r12)
        bc = c.get("max_broadcast_bytes")
        if bc is not None and bc > BROADCAST_CAP_BYTES:
            reasons.append(
                f"broadcast of {bc / 1024**2:.0f} MiB exceeds the "
                f"{BROADCAST_CAP_BYTES // 1024**2} MiB cap"
            )
        if name in NO_EMBEDDINGS_RESCAN and c["embeddings_scans"]:
            reasons.append(
                "store-serving query rescans embeddings "
                f"x{c['embeddings_scans']}"
            )
    if not c["isFinal"]:
        reasons.append("plan not AQE-final")
    v = "PASS" if not reasons else "FAIL"
    return v, "; ".join(reasons or notes) or ""


def main() -> int:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "PLANAUDIT_scale_r14.txt"
    spark = get_spark(
        app_name="plan_audit_scale",
        shuffle_partitions=32,
        # the UI REST API carries the runtime BroadcastExchange sizes
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    q.queries()
    lines = [
        "Scale-decade AQE-final plan audit (VERDICT r12 item 1; wave 2",
        "EXT/iterative families per VERDICT r13 item 3).",
        "Each query ran TO COMPLETION per decade; join strategies below",
        "are from the executed (isFinalPlan=true) plan, not the static",
        "one the sf0.01 PLANAUDIT locks.  smj=SortMergeJoin,",
        "shj=ShuffledHashJoin, bhj=BroadcastHashJoin, bnl=nested-loop/",
        "cartesian, 1part=SinglePartition exchanges, aqe=AQEShuffleRead",
        "nodes, skew=AQE skew splits, ckpt=checkpoint leaves (the",
        "data-dependent fingerprint component -- bench adjudication",
        "treats ckpt-varying fingerprints as incomparable), maxbc=the",
        "largest RUNTIME BroadcastExchange data size (UI REST metric;",
        "wave-2 queries FAIL past 128 MiB -- the r12 gram-broadcast",
        "memory cliff was exactly a planner size-estimate lie this",
        "runtime measurement cannot miss).",
        "",
        "dedup_semantic_survivors (banded-LSH rule) is audited at",
        "1x/x10 ONLY: its fixed 12-bucket (band, key) space makes",
        "candidate volume quadratic in the corpus (x100 materializes",
        "a ~10^10-row candidate distinct; killed at 35 min in r15).",
        "The x100 semantic-dedup scale path is the SemDeDup celled",
        "rule -- dedup_semantic_{clusters,survivors}_celled below,",
        "k-means cells of ~256 rows, pair work linear in n -- audited",
        "at all three decades.",
        "",
        f"{'query':42s} {'decade':6s} {'smj':>3s} {'shj':>3s} {'bhj':>3s} "
        f"{'bnl':>3s} {'1part':>5s} {'aqe':>3s} {'skew':>4s} {'ckpt':>4s} "
        f"{'maxbc':>9s} {'sec':>7s} verdict",
    ]
    failures = 0
    singlep_details: list[str] = []
    plan_rows = [(n, DECADES) for n in FACT_FACT + FUNNELS]
    plan_rows += [
        (n, DECADES[:2] if n in LSH_DECADE_CAPPED else WAVE2_DECADES)
        for n in WAVE2
    ]

    def flush() -> None:
        # incremental flush after every row (r15): a wave-2 x100 row
        # can run tens of minutes, and an end-only write means a
        # timeout loses the entire audit -- partial evidence with a
        # visible truncation beats none
        with open(out_path, "w") as f:
            f.write("\n".join(lines) + "\n")

    for name, decades in plan_rows:
        fn = q.REGISTRY[name].fn
        for decade, sf_dir in decades:
            ids_before = _sql_exec_ids(spark)
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            plan = final_plan(df)
            dt = time.monotonic() - t0
            new_ids = _sql_exec_ids(spark) - ids_before
            c = audit_one(plan)
            c["max_broadcast_bytes"] = _max_broadcast_bytes(spark, new_ids)
            v, why = verdict(name, decade, c)
            if v == "FAIL":
                failures += 1
            if c["SinglePartition"]:
                # record what feeds each SinglePartition exchange so
                # the grade is justified by the plan text, not by hand
                for m in re.finditer(r"[^\n]*SinglePartition[^\n]*", plan):
                    singlep_details.append(
                        f"{name} {decade}: {m.group(0).strip()[:120]}"
                    )
            bc = c["max_broadcast_bytes"]
            bc_s = "-" if bc is None else (
                f"{bc / 1024**2:.1f}M" if bc >= 1024**2 else f"{bc // 1024}K"
            )
            lines.append(
                f"{name:42s} {decade:6s} {c['SortMergeJoin']:3d} "
                f"{c['ShuffledHashJoin']:3d} {c['BroadcastHashJoin']:3d} "
                f"{c['BroadcastNestedLoopJoin'] + c['CartesianProduct']:3d} "
                f"{c['SinglePartition']:5d} {c['AQEShuffleRead']:3d} "
                f"{c['skewed']:4d} {c['ckpt']:4d} {bc_s:>9s} {dt:7.1f} "
                f"{v} {why}"
            )
            print(lines[-1], file=sys.stderr, flush=True)
            flush()
        lines.append("")
    lines.append(f"failures: {failures}")
    if singlep_details:
        lines.append("")
        lines.append("SinglePartition exchange occurrences (context lines):")
        lines.extend("  " + s for s in singlep_details)
    text = "\n".join(lines) + "\n"
    Path(out_path).write_text(text)
    print(text)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
