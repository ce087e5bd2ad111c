"""The engine's benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload metric_queries --seed 1 --seconds 8 --trace 0

Runs from the root of a source checkout.  Set-up (Spark session start,
warm-up operations, base store builds) is timed as `setup_s`; then the
workload's operations run for `--seconds` seconds; then the outputs
are checked.  The last line of standard output is

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics when `--trace 0` and the per-layer metrics
when `--trace 1`.  The exit code is non-zero when any check fails.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "dbt_metrics_ingestion_script_spark"

E2E_METRICS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "op_p50_s": "s",
    "items_per_s": "1/s",
}

# Spans recorded around calls into each layer (see README.md).  Every
# workload reports every one; a layer a workload does not call reads 0.
SPANS = (
    "op",
    "sources.load_table",
    "plans.compile",
    "spark.plan",
    "spark.exec",
    "sources.load_manifest",
    "pipeline.ingest_metrics",
    "pipeline.build_glossary_frames",
    "pipeline.build_emissions",
    "sinks.emit",
    "sources.read_documents_jsonl",
    "operators.text.quality_filter_survivors",
    "operators.dedup.near_dedup_against_corpus_index",
    "sinks.signature_index.write_minhash_index",
    "operators.similarity.ivf_pq_index_upsert",
    "operators.similarity.read_ivf_pq_index",
    "operators.similarity.ivf_pq_batch_serve",
)
LAYER_METRICS = (
    [f"{name}.s" for name in SPANS]
    + [f"{name}.self_s" for name in SPANS]
    + [
        "sources.load_table.calls_per_op",
        "spark.jobs_per_op",
        "spark.stages_per_op",
        "spark.tasks_per_op",
        "spark.shuffle_bytes_per_op",
        "spark.rows_per_op",
        "sinks.posts_per_op",
        "sinks.entities_per_post",
        "operators.dedup.removed_per_planted",
        "sinks.store_files",
        "sinks.store_bytes_per_input_byte",
        "corpus.ingest_p50_s",
        "corpus.ann_query_p50_s",
        "corpus.ann_recall_at_10",
        "workload.repeat_share",
        "ops_failed_frac",
        "op.samples",
        "trace.overhead_frac",
    ]
)


def _reset_peak_rss() -> None:
    """Restart this process's peak RSS from its current RSS, so that
    input generation, which runs before the session starts, does not
    set `peak_rss_mb`."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus its direct children: the
    JVM that spark-submit execs.  Python workers the JVM forks come
    and go, so they are left out."""
    me = os.getpid()
    pids = [me]
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == me:
                        pids.append(int(entry))
            except (OSError, IndexError, ValueError):
                continue
    mb = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                mb.append(next(int(line.split()[1]) for line in f if line.startswith("VmHWM:")) / 1024)
        except (OSError, StopIteration):
            continue
    print("peak rss: " + ", ".join(f"{m:.0f} MB" for m in mb) + " (python, jvm)", file=sys.stderr)
    return sum(mb)


class Runner:
    """Times a workload's operations for a fixed time, tracing every
    other operation when the run is traced."""

    def __init__(self, workload, tracer, counters, seconds: float) -> None:
        self.wl = workload
        self.tracer = tracer
        self.counters = counters
        self.seconds = seconds
        self.durations: dict[bool, list[float]] = {False: [], True: []}
        self.failures: list[str] = []
        self.attempted = 0
        self.lock = threading.Lock()

    def one(self, i: int) -> float:
        traced = self.tracer.enabled and i % 2 == 0
        group = self.counters.group(i) if traced else None
        t0 = time.perf_counter()
        try:
            with self.tracer.op(i, traced):
                result = self.wl.op(i)
            dur = time.perf_counter() - t0
            failure = self.wl.after(i, result)
        except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
            dur, failure = time.perf_counter() - t0, f"op {i}: {type(exc).__name__}: {exc}"
        if group:
            self.counters.record(group)
            self.wl.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        with self.lock:
            self.attempted += 1
            if failure:
                self.failures.append(failure)
            else:
                self.durations[traced].append(dur)
        return dur

    def sequential(self) -> float:
        """Operations one after another until `seconds` of them have
        run, and at least the workload's `min_ops`.  A traced run runs
        at least two, so that a traced and an untraced operation give
        the tracing overhead."""
        busy, times = 0.0, []
        min_ops = max(self.wl.min_ops, 2 if self.tracer.enabled else 1)
        while busy < self.seconds or len(times) < min_ops:
            self.wl.prepare(len(times))
            # no operation pays for Python garbage an earlier one left
            gc.collect()
            times.append(self.one(len(times)))
            busy += times[-1]
        print("operation seconds: " + " ".join(f"{t:.2f}" for t in times), file=sys.stderr)
        return busy

    def concurrent(self, threads: int) -> float:
        counter = iter(range(10**9))
        next_lock = threading.Lock()
        deadline = time.perf_counter() + self.seconds

        def client():
            while time.perf_counter() < deadline:
                with next_lock:
                    i = next(counter)
                self.one(i)

        t0 = time.perf_counter()
        pool = [threading.Thread(target=client) for _ in range(threads)]
        for t in pool:
            t.start()
        for t in pool:
            t.join()
        return time.perf_counter() - t0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found next to perfbench/; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    try:
        return _run(args, cpus, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _run(args, cpus: int, work: str) -> int:
    import workloads
    from tracing import SparkCounters, Tracer

    from dbt_metrics_ingestion_script_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    tracer = Tracer(enabled=bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](tracer, args.seed, work)
    wl.make_inputs()
    _reset_peak_rss()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # keep the JVM's temp files in the run directory; no
            # hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            ),
        },
    )
    try:
        spark.sparkContext.setLogLevel("ERROR")
        wl.spark = spark
        session_s = time.perf_counter() - t0
        wl.setup()
        setup_s = time.perf_counter() - t0
        counters = SparkCounters(spark) if tracer.enabled else None
        runner = Runner(wl, tracer, counters, args.seconds)
        t1 = time.perf_counter()
        busy = runner.concurrent(cpus) if wl.concurrent else runner.sequential()
        t2 = time.perf_counter()
        # before the checks, whose oracle queries and exact searches
        # are the benchmark's memory, not the engine's
        rss = _peak_rss_mb()
        end_failures, layer = wl.finish()
        print(f"phases: session {session_s:.1f} s, set-up {setup_s - session_s:.1f} s, "
              f"measured {t2 - t1:.1f} s, checks {time.perf_counter() - t2:.1f} s",
              file=sys.stderr)
    finally:
        tracer.unpatch()
        _stop(spark)

    # the end-of-run checks (oracle comparison, store contents, recall)
    # count as one more attempted operation
    attempted = runner.attempted + 1
    failed = len(runner.failures) + bool(end_failures)
    for msg in runner.failures + end_failures:
        print(f"check failed: {msg}", file=sys.stderr)
    durations = runner.durations[False] + runner.durations[True]
    n_ok = len(durations)
    if tracer.enabled:
        traced, plain = runner.durations[True], runner.durations[False]
        layer.update(tracer.summary(len(traced)))
        layer.update(counters.summary())
        layer["sinks.posts_per_op"] = layer.pop("sinks.posts", 0.0) / max(n_ok, 1)
        layer["ops_failed_frac"] = failed / attempted
        layer["op.samples"] = float(n_ok)
        layer["trace.overhead_frac"] = (
            statistics.median(traced) / statistics.median(plain) - 1
            if traced and plain else 0.0
        )
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": _layer_unit(k)}
                   for k in LAYER_METRICS}
    else:
        values = {
            "setup_s": setup_s,
            "peak_rss_mb": rss,
            "op_p50_s": statistics.median(durations) if durations else 0.0,
            "items_per_s": n_ok * wl.items_per_op / busy,
        }
        metrics = {k: {"value": v, "unit": E2E_METRICS[k]} for k, v in values.items()}
    print(f"samples: {n_ok} operations of {runner.attempted} attempted", file=sys.stderr)
    print(json.dumps({
        "correct": not failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 1 if failed else 0


def _stop(spark) -> None:
    """Stop the session and wait for the JVM to exit: spark.stop()
    leaves it running until its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_unit(name: str) -> str:
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_frac") or name in (
        "operators.dedup.removed_per_planted", "corpus.ann_recall_at_10",
        "workload.repeat_share", "sinks.store_bytes_per_input_byte",
    ):
        return "fraction"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
