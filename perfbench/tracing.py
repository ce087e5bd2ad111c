"""In-memory span tracer and per-operation Spark counters.

A span is (name, start, end, parent span, operation id).  Spans are
kept in memory and summarised when the run ends.  Tracing is off
unless the run asks for it: the untraced tracer's `span` is a no-op
context manager, so end-to-end timings carry no tracing cost.

Spans are recorded from the benchmark's own files around the calls it
makes into each layer of the package; `patch` wraps a package function
for the duration of a traced run so that calls made inside a pipeline
(e.g. `pipeline.ingest_metrics` -> `load_manifest`) get their own span.
"""

from __future__ import annotations

import contextlib
import itertools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Spans of the operations run under `op(..., traced=True)`.  A
    traced run interleaves traced and untraced operations, so one run
    gives both the per-layer split and the tracing overhead."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def op(self, op_id: int, traced: bool):
        """Root span of one operation; spans inside it are recorded
        only when `traced`."""
        self._local.active = traced and self.enabled
        self._local.stack = []
        try:
            with self.span("op", op_id):
                yield
        finally:
            self._local.active = False

    @contextlib.contextmanager
    def span(self, name: str, op_id: int | None = None):
        """Record `name` around the block; nested spans on the same
        thread become its children and share its operation id."""
        if not getattr(self._local, "active", False):
            yield
            return
        stack = self._local.stack
        parent = stack[-1] if stack else None
        s = Span(
            next(self._ids),
            name,
            op_id if parent is None else parent.op_id,
            parent.span_id if parent else None,
            time.perf_counter(),
        )
        stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)

    def patch(self, owner: object, attr: str, name: str) -> None:
        """Wrap `owner.attr` in a span named `name` until `unpatch`."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def summary(self, n_ops: int) -> dict[str, float]:
        """Per-layer metrics over the traced operations: `<name>.s` is
        the mean inclusive seconds per operation and `<name>.self_s`
        the mean self time (duration minus the union of its children).
        The spans of an operation nest under its root `op` span, so
        their self times add up to the operation's wall time, and
        `op.self_s` is the part no layer span covers."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        total: dict[str, float] = defaultdict(float)
        self_total: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s in self.spans:
            dur = s.end - s.start
            total[s.name] += dur
            self_total[s.name] += dur - _covered(children[s.span_id])
            calls[s.name] += 1
        n = max(n_ops, 1)
        out: dict[str, float] = {}
        for name in total:
            out[f"{name}.s"] = total[name] / n
            out[f"{name}.self_s"] = self_total[name] / n
            out[f"{name}.calls_per_op"] = calls[name] / n
        return out


def _covered(spans: list[Span]) -> float:
    """Length of the union of the spans' intervals (children may run
    on other threads and overlap)."""
    covered, end = 0.0, float("-inf")
    for s in sorted(spans, key=lambda s: s.start):
        lo = max(s.start, end)
        if s.end > lo:
            covered += s.end - lo
        end = max(end, s.end)
    return covered


class SparkCounters:
    """Jobs, stages, tasks and shuffle bytes of one operation, read
    from the Spark driver's AppStatusStore over py4j after the operation
    ends.  Each operation runs under its own job group, so concurrent
    operations on other threads are not counted.  Used only in the
    traced run: polling between operations perturbs their timings."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.totals: dict[str, float] = defaultdict(float)
        self.n_ops = 0
        self.lock = threading.Lock()  # client threads record concurrently

    def group(self, op_id: int) -> str:
        name = f"bench-op-{op_id}"
        self.sc.setJobGroup(name, name)
        return name

    def record(self, group: str) -> None:
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stages = tasks = shuffle = 0
        for jid in job_ids:
            job = self.store.job(jid)
            tasks += job.numCompletedTasks()
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                stage_id = stage_ids.apply(i)
                for attempt in _stage_attempts(self.store, stage_id):
                    stages += 1
                    shuffle += attempt.shuffleReadBytes() + attempt.shuffleWriteBytes()
        with self.lock:
            self.totals["spark.jobs_per_op"] += len(job_ids)
            self.totals["spark.stages_per_op"] += stages
            self.totals["spark.tasks_per_op"] += tasks
            self.totals["spark.shuffle_bytes_per_op"] += shuffle
            self.n_ops += 1

    def summary(self) -> dict[str, float]:
        n = max(self.n_ops, 1)
        return {k: v / n for k, v in self.totals.items()}


def _stage_attempts(store, stage_id: int) -> list:
    """The stage's attempts that ran; a stage skipped because its
    shuffle output was reused has none."""
    defaults = [getattr(store, f"stageData$default${i}")() for i in (2, 3, 4, 5)]
    try:
        seq = store.stageData(stage_id, *defaults)
    except Exception:  # noqa: BLE001 - py4j raises for evicted/unknown stages
        return []
    attempts = [seq.apply(i) for i in range(seq.size())]
    return [a for a in attempts if a.status().toString() == "COMPLETE"]

