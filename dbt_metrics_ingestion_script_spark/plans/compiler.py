"""Metric compiler: declarative MetricSpec -> Spark DataFrame plan.

This is the engine's one genuinely custom component (SURVEY.md §4): plan
*synthesis*, not plan rewriting.  Each spec compiles to standard
DataFrame operators (`filter -> date_trunc -> groupBy -> agg`, window
functions for cumulative metrics, conditional aggregation for ratio
metrics, key-joins for derived metrics) which Catalyst then optimizes --
predicate pushdown into the parquet scan, map-side partial aggregation,
AQE join selection all come free.

Scale notes (100 TB posture):
- Simple/ratio metrics are one shuffle on (grain, dims).  Ratio metrics
  use conditional aggregation (single pass) instead of two aggregations
  plus a join.
- count_distinct is exact by default; pass approx_distinct=True to swap
  in approx_count_distinct (HLL) -- exact distinct at 100 TB shuffles
  every distinct value.
- Grain rollups are recomputed from base data, never from a finer grain:
  average and count_distinct are not re-aggregable (SURVEY.md §4).
- Cumulative metrics aggregate to the grain first, so the window
  operates on grain-cardinality rows (tiny), partitioned by
  (dims, reset bucket) -- no full-data window scan.

Semantics cited from the reference spec language:
calculation methods /root/reference/README.md:208; filters
/root/reference/test_manifest.json:375-381; grains
/root/reference/test_manifest.json:269-275; ratio
/root/reference/example_dbt_metrics.yml:26-41; cumulative + fiscal-year
reset /root/reference/example_dbt_metrics.yml:78-92; derived
/root/reference/dbt_metrics_to_datahub.py:61.
"""

from __future__ import annotations

import copy
import re
import threading
from collections import OrderedDict
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import tables
from .metric_spec import MetricFilter, MetricSpec

# ---------------------------------------------------------------------------
# filter compilation (P7, F11)
# ---------------------------------------------------------------------------

# Jinja-templated relative dates, e.g.
#   {{ dbt.dateadd('day', -30, 'current_date') }}
# (/root/reference/example_dbt_metrics.yml:56).  Only observed patterns are
# supported; anything else raises loudly (SURVEY.md §7 watch-list 6).
_DATEADD_RE = re.compile(
    r"dateadd\(\s*'?(?P<unit>day|week|month|quarter|year)'?\s*,\s*"
    r"(?P<n>-?\d+)\s*,\s*'?(?P<anchor>[\w().-]+?)'?\s*\)",
    re.IGNORECASE,
)

_DATE_LIT_RE = re.compile(r"^\d{4}-\d{2}-\d{2}$")


def _anchor_column(anchor: str) -> Column:
    anchor = anchor.strip().strip("'\"").rstrip("()")
    if anchor == "current_date":
        return F.current_date()
    if _DATE_LIT_RE.match(anchor):
        return F.to_date(F.lit(anchor))
    raise ValueError(f"unsupported dateadd anchor {anchor!r}")


def _dateadd_column(unit: str, n: int, anchor: Column) -> Column:
    unit = unit.lower()
    if unit == "day":
        return F.date_add(anchor, n)
    if unit == "week":
        return F.date_add(anchor, 7 * n)
    if unit == "month":
        return F.add_months(anchor, n)
    if unit == "quarter":
        return F.add_months(anchor, 3 * n)
    if unit == "year":
        return F.add_months(anchor, 12 * n)
    raise ValueError(f"unsupported dateadd unit {unit!r}")


def _value_column(value) -> Column:
    """Compile a filter value to a Column.

    Handles literals (bool/number/string), numeric strings ("100" in
    /root/reference/test_manifest.json:380), ISO date strings, and
    templated relative dates.
    """
    if isinstance(value, bool) or isinstance(value, (int, float)):
        return F.lit(value)
    if value is None:
        return F.lit(None)
    s = str(value).strip()
    if "{{" in s or "dateadd" in s.lower():
        m = _DATEADD_RE.search(s)
        if not m:
            raise ValueError(f"unsupported templated filter value {value!r}")
        return _dateadd_column(m.group("unit"), int(m.group("n")), _anchor_column(m.group("anchor")))
    low = s.lower()
    if low in ("true", "false"):
        return F.lit(low == "true")
    try:
        return F.lit(int(s))
    except ValueError:
        pass
    try:
        return F.lit(float(s))
    except ValueError:
        pass
    if _DATE_LIT_RE.match(s):
        return F.to_date(F.lit(s))
    return F.lit(s)


def compile_filter(flt: MetricFilter) -> Column:
    """{field, operator, value} -> boolean Column (conjunct)."""
    col = F.expr(flt.field)
    op = flt.operator
    if op in ("in", "not in"):
        vals = flt.value if isinstance(flt.value, (list, tuple)) else [flt.value]
        cond = col.isin(list(vals))
        return ~cond if op == "not in" else cond
    if op in ("is", "is not"):
        is_null = str(flt.value).strip().lower() in ("null", "none", "")
        if not is_null:
            raise ValueError(f"IS operator only supports NULL, got {flt.value!r}")
        return col.isNull() if op == "is" else col.isNotNull()
    val = _value_column(flt.value)
    if op in ("=", "=="):
        return col == val
    if op in ("!=", "<>"):
        return col != val
    if op == ">":
        return col > val
    if op == ">=":
        return col >= val
    if op == "<":
        return col < val
    if op == "<=":
        return col <= val
    raise ValueError(f"unsupported operator {op!r}")


def filters_predicate(filters: list[MetricFilter]) -> Column | None:
    """Conjunction of all filters (reference filters are ANDed)."""
    if not filters:
        return None
    return reduce(lambda a, b: a & b, (compile_filter(f) for f in filters))


# ---------------------------------------------------------------------------
# grain handling (A8, F10)
# ---------------------------------------------------------------------------

TS_COL = "ts"


def grain_column(ts_field: str, grain: str) -> Column:
    """Truncate an event-time column to a grain.

    Cast to date (except hour) so results are engine-portable: Spark
    date_trunc returns timestamp while ANSI engines return date.
    """
    if grain == "hour":
        return F.date_trunc("hour", F.col(ts_field))
    return F.date_trunc(grain, F.col(ts_field)).cast("date")


GRAIN_INTERVAL = {
    "hour": "1 hour",
    "day": "1 day",
    "week": "7 days",  # buckets are Monday-truncated; a 7-day step stays aligned
    "month": "1 month",
    "quarter": "3 months",
    "year": "1 year",
}


def fill_time_gaps(
    metric_df: DataFrame,
    grain: str,
    value_cols: dict[str, float],
    ts_col: str = TS_COL,
    dims: tuple[str, ...] = (),
) -> DataFrame:
    """Calendar-spine zero-fill (the dbt metrics date-spine behavior):
    a compiled metric frame only has rows for buckets with data, but
    dashboards and window math need EVERY calendar bucket -- a missing
    month reads as "no row" instead of "zero revenue", and trailing /
    growth windows silently skip it.  This right-joins the metric onto
    the complete bucket spine from its own min to max ts, filling each
    value column with its declared default.

    The spine is derived ACTION-FREE: a 1-row (min, max) aggregate
    exploded through `sequence(mn, mx, interval <grain step>)` -- no
    driver-side collect, so the plan composes and the bounds ride a
    1-row broadcast.  Bucket starts come from the compiled frame, so
    the stepping is exactly grain-aligned in any engine (week buckets
    are Monday-truncated dates; the 7-day step preserves that).  With
    `dims`, the spine crosses the observed dim combinations (a dim
    value absent from the whole frame cannot be invented).

    An empty metric frame yields an empty fill (NULL bounds -> NULL
    sequence -> zero spine rows) rather than an error -- pinned by the
    oracle, where NULL generate_series bounds also produce no rows.
    """
    if grain not in GRAIN_INTERVAL:
        raise ValueError(f"unsupported spine grain {grain!r}")
    step = GRAIN_INTERVAL[grain]
    bounds = metric_df.agg(
        F.min(ts_col).alias("__mn"), F.max(ts_col).alias("__mx")
    )
    spine = bounds.select(
        F.explode(
            F.expr(f"sequence(__mn, __mx, interval {step})")
        ).alias(ts_col)
    )
    if dims:
        spine = spine.crossJoin(metric_df.select(*dims).distinct())
    filled = [
        F.coalesce(F.col(c), F.lit(default)).alias(c)
        for c, default in value_cols.items()
    ]
    return spine.join(metric_df, [ts_col, *dims], "left").select(
        F.col(ts_col), *[F.col(d) for d in dims], *filled
    )


# ---------------------------------------------------------------------------
# aggregation expressions (A1-A4)
# ---------------------------------------------------------------------------


def _agg_column(
    method: str,
    expression: str,
    cond: Column | None = None,
    approx_distinct: bool = False,
    rsd: float = 0.02,
    percentile: float | None = None,
) -> Column:
    """calculation_method + expression [+ condition] -> aggregate Column.

    `cond` enables single-pass conditional aggregation (used by ratio
    metrics): rows failing the condition contribute NULL, which every
    aggregate here ignores.

    `percentile` is required by (and only by) method "percentile": the
    dbt-metrics `percentile` calculation method (interpolated, the
    quantile_cont definition every ANSI engine shares).  Like average
    and count_distinct, percentiles are NOT re-aggregable across grain
    buckets (SURVEY.md §4) -- compile_all_grains recomputes each grain
    from base.
    """
    if expression in ("*", "", None):
        base = F.lit(1) if method == "count" else None
        if base is None:
            raise ValueError(f"calculation_method {method!r} requires an expression")
    else:
        base = F.expr(expression)
    if cond is not None:
        base = F.when(cond, base)
    if method == "sum":
        return F.sum(base)
    if method == "count":
        return F.count(base)
    if method == "count_distinct":
        if approx_distinct:
            return F.approx_count_distinct(base, rsd)
        return F.countDistinct(base)
    if method == "average":
        return F.avg(base)
    if method == "min":
        return F.min(base)
    if method == "max":
        return F.max(base)
    if method == "median":
        return F.median(base)
    if method == "percentile":
        if percentile is None or not 0.0 <= percentile <= 1.0:
            raise ValueError(
                f"calculation_method 'percentile' needs percentile in [0, 1], "
                f"got {percentile!r}"
            )
        # exact interpolated percentile (Spark `percentile` == ANSI
        # quantile_cont); at 100 TB swap in approx_percentile the same
        # way approx_distinct swaps count_distinct
        return F.percentile(base, F.lit(percentile))
    raise ValueError(f"unsupported calculation_method {method!r}")


# ---------------------------------------------------------------------------
# the plan cache
# ---------------------------------------------------------------------------

# Plans the cache holds: room for a dashboard's pool of repeated
# requests.  An entry costs a JVM plan and, once collected, the shuffle
# files of its stages on local disk.
PLAN_CACHE_BOUND = 64


class PlanCache:
    """Compiled plans of earlier requests, least recently used first.

    A hit returns the very DataFrame an earlier compile returned, so
    collecting it again skips compile, analysis and physical planning,
    and adaptive execution reuses the shuffle stages an earlier collect
    materialized: only the final stage re-runs.  Nothing is persisted
    -- a persisted plan would be substituted into every later plan that
    contains it -- so an entry is only a reference, and an evicted
    plan's shuffle files are freed by Spark's ContextCleaner like those
    of any dropped DataFrame."""

    def __init__(self, bound: int) -> None:
        self.bound = bound
        self._plans: OrderedDict[tuple, DataFrame] = OrderedDict()
        self._lock = threading.Lock()
        self._hits = self._misses = self._evictions = 0

    def get(self, key: tuple) -> DataFrame | None:
        with self._lock:
            df = self._plans.get(key)
            if df is None:
                self._misses += 1
            else:
                self._hits += 1
                self._plans.move_to_end(key)
            return df

    def put(self, key: tuple, df: DataFrame) -> None:
        with self._lock:
            self._plans[key] = df
            self._plans.move_to_end(key)
            while len(self._plans) > self.bound:
                self._plans.popitem(last=False)
                self._evictions += 1

    def clear(self) -> None:
        """Drop every entry; the counters keep counting."""
        with self._lock:
            self._plans.clear()

    def stats(self) -> dict[str, int]:
        with self._lock:
            return {
                "hits": self._hits,
                "misses": self._misses,
                "evictions": self._evictions,
                "entries": len(self._plans),
            }


PLAN_CACHE = PlanCache(PLAN_CACHE_BOUND)


def plan_cache_stats() -> dict[str, int]:
    """Hits, misses and evictions since the process started, and the
    entries held now."""
    return PLAN_CACHE.stats()


def _session_date(spark: SparkSession) -> str:
    """Today in the session time zone: the date `current_date` takes
    when Catalyst folds it into a plan."""
    jvm = spark.sparkContext._jvm
    tz = spark.conf.get("spark.sql.session.timeZone")
    return str(jvm.java.time.LocalDate.now(jvm.java.time.ZoneId.of(tz)))


# ---------------------------------------------------------------------------
# the compiler
# ---------------------------------------------------------------------------


class MetricCompiler:
    """Compiles MetricSpecs into DataFrame plans.

    resolver: model name -> base DataFrame (e.g. a parquet scan).
    registry: metric name -> MetricSpec, consulted by derived metrics.
    """

    def __init__(
        self,
        resolver: Callable[[str], DataFrame],
        registry: dict[str, MetricSpec] | None = None,
        approx_distinct: bool = False,
        rsd: float = 0.02,
    ) -> None:
        self.resolver = resolver
        self.registry = dict(registry or {})
        self.approx_distinct = approx_distinct
        self.rsd = rsd

    def register(self, *specs: MetricSpec) -> None:
        for s in specs:
            self.registry[s.name] = s

    # -- public ------------------------------------------------------------

    def compile(self, spec: MetricSpec, grain: str | None = None) -> DataFrame:
        """Compile one metric at one grain.

        Output schema: [ts (date)] + dims + <metric name>.  grain=None or
        'all_time' drops the time key.

        Each model the spec reads is resolved once.  When every resolved
        frame is a table `sources.tables.load_table` memoized, the
        request goes through PLAN_CACHE, keyed on the canonical spec,
        the grain, the registry specs it reaches, approx_distinct/rsd,
        the session and file snapshot of every table, and the
        session-timezone date when a filter is anchored on
        `current_date`; any other frame (a filtered or in-memory one)
        compiles anew on every call.
        """
        models, reached = self._reach(spec)
        frames = {m: self.resolver(m) for m in sorted(models)}
        resolved = copy.copy(self)
        resolved.resolver = frames.__getitem__
        key = self._plan_key(spec, grain, frames, reached)
        if key is None:
            return resolved._compile(spec, grain, visiting=())
        df = PLAN_CACHE.get(key)
        if df is None:
            df = resolved._compile(spec, grain, visiting=())
            PLAN_CACHE.put(key, df)
        return df

    def compile_all_grains(self, spec: MetricSpec) -> dict[str, DataFrame]:
        """One DataFrame per declared grain.

        Each grain re-aggregates from base data rather than rolling up a
        finer grain: correct for all methods including average and
        count_distinct (which are not re-aggregable), and each is still a
        single shuffle.
        """
        grains = spec.time_grains or ["all_time"]
        return {g: self.compile(spec, g) for g in grains}

    def compile_shared(
        self, specs: list[MetricSpec], grain: str | None = None
    ) -> DataFrame:
        """N simple metrics over ONE model in ONE aggregation pass --
        the multi-metric scan-sharing optimization a metrics platform
        needs when a dashboard asks for twenty metrics of the same
        fact table: each metric's filters become a conditional
        aggregate (`F.when`, the ratio machinery generalized), so the
        fact scans and shuffles once regardless of metric count.

        Constraints, validated eagerly: all specs must be simple
        metrics on the same model and timestamp column; dimensions
        must agree (the group keys are shared).  Per-metric FILTERS
        may differ freely -- that is the point.  A metric whose filter
        matches no rows yields NULL (not 0) for count-like methods
        too, because the WHERE-vs-conditional-aggregate distinction
        matters: COUNT of no rows per group is 0, but a group only
        exists here if ANY metric selected it.
        """
        if not specs:
            raise ValueError("compile_shared needs at least one spec")
        models = {s.model for s in specs}
        if len(models) != 1:
            raise ValueError(f"compile_shared: one model required, got {sorted(models)}")
        ts = {s.timestamp for s in specs}
        if len(ts) != 1:
            raise ValueError(f"compile_shared: one timestamp required, got {sorted(map(str, ts))}")
        dims = {tuple(s.dimensions) for s in specs}
        if len(dims) != 1:
            raise ValueError("compile_shared: dimensions must agree across specs")
        bad = [s.name for s in specs if s.metric_type != "simple"]
        if bad:
            raise ValueError(f"compile_shared handles simple metrics only, got {bad}")
        df = self.resolver(specs[0].model)
        keys = self._group_keys(specs[0], grain)
        aggs = [
            _agg_column(
                s.calculation_method,
                s.expression,
                cond=filters_predicate(s.filters),
                approx_distinct=self.approx_distinct,
                rsd=self.rsd,
                percentile=s.percentile,
            ).alias(s.name)
            for s in specs
        ]
        if keys:
            return df.groupBy(*keys).agg(*aggs)
        return df.agg(*aggs)

    # -- internals ---------------------------------------------------------

    def _reach(self, spec: MetricSpec) -> tuple[set[str], dict[str, MetricSpec]]:
        """The models a compile of `spec` reads, and the registry specs
        it reaches through derived inputs.  Unknown inputs and cycles
        are left for the compile to report."""
        models: set[str] = set()
        reached: dict[str, MetricSpec] = {}
        todo = [spec]
        while todo:
            s = todo.pop()
            if s.metric_type in ("derived", "expression"):
                for m in s.input_metrics:
                    if m in self.registry and m not in reached:
                        reached[m] = self.registry[m]
                        todo.append(reached[m])
            elif s.metric_type == "ratio":
                models.add(s.numerator.model)
            else:
                models.add(s.model)
        return models, reached

    def _plan_key(
        self,
        spec: MetricSpec,
        grain: str | None,
        frames: dict[str, DataFrame],
        reached: dict[str, MetricSpec],
    ) -> tuple | None:
        """PLAN_CACHE's key for this request, or None when a frame is
        not a memoized table."""
        snaps = []
        for model, df in frames.items():
            snap = tables.snapshot_of(df)
            if snap is None:
                return None
            snaps.append((model, df.sparkSession, snap))
        specs = repr(spec), tuple(sorted((n, repr(s)) for n, s in reached.items()))
        today = (
            _session_date(snaps[0][1])
            if snaps and "current_date" in repr(specs)
            else None
        )
        return specs, grain, self.approx_distinct, self.rsd, tuple(snaps), today

    def _compile(self, spec: MetricSpec, grain: str | None, visiting: tuple) -> DataFrame:
        if spec.name in visiting:
            chain = " -> ".join(visiting + (spec.name,))
            raise ValueError(f"derived-metric cycle: {chain}")
        if spec.metric_type == "simple":
            return self._compile_simple(spec, grain)
        if spec.metric_type == "ratio":
            return self._compile_ratio(spec, grain)
        if spec.metric_type == "cumulative":
            return self._compile_cumulative(spec, grain)
        if spec.metric_type == "trailing":
            return self._compile_trailing(spec, grain)
        if spec.metric_type == "growth":
            return self._compile_growth(spec, grain)
        if spec.metric_type in ("derived", "expression"):
            return self._compile_derived(spec, grain, visiting)
        raise ValueError(f"unsupported metric type {spec.metric_type!r}")

    def _base(self, spec: MetricSpec) -> DataFrame:
        df = self.resolver(spec.model)
        pred = filters_predicate(spec.filters)
        if pred is not None:
            df = df.filter(pred)
        return df

    def _group_keys(self, spec: MetricSpec, grain: str | None) -> list[Column]:
        keys: list[Column] = []
        if grain and grain != "all_time":
            if not spec.timestamp:
                raise ValueError(f"metric {spec.name!r} has no timestamp column for grain {grain!r}")
            keys.append(grain_column(spec.timestamp, grain).alias(TS_COL))
        keys.extend(F.col(d) for d in spec.dimensions)
        return keys

    def _aggregate(self, df: DataFrame, keys: list[Column], agg: Column) -> DataFrame:
        if keys:
            return df.groupBy(*keys).agg(agg)
        return df.agg(agg)

    def _compile_simple(self, spec: MetricSpec, grain: str | None) -> DataFrame:
        df = self._base(spec)
        keys = self._group_keys(spec, grain)
        agg = _agg_column(
            spec.calculation_method,
            spec.expression,
            approx_distinct=self.approx_distinct,
            rsd=self.rsd,
            percentile=spec.percentile,
        ).alias(spec.name)
        return self._aggregate(df, keys, agg)

    def _compile_ratio(self, spec: MetricSpec, grain: str | None) -> DataFrame:
        """numerator / denominator in a single aggregation pass.

        Component-level filters become conditional aggregates, so a ratio
        costs exactly one shuffle -- no self-join
        (/root/reference/example_dbt_metrics.yml:26-41 semantics).
        """
        num, den = spec.numerator, spec.denominator
        if num.model != den.model:
            raise ValueError(f"ratio metric {spec.name!r}: components must share a model")
        base = MetricSpec(
            name=spec.name,
            calculation_method="count",
            expression="*",
            model=num.model,
            timestamp=spec.timestamp or num.timestamp,
            dimensions=spec.dimensions,
            filters=spec.filters,
        )
        df = self._base(base)
        keys = self._group_keys(base, grain)
        num_agg = _agg_column(
            num.calculation_method,
            num.expression,
            cond=filters_predicate(num.filters),
            approx_distinct=self.approx_distinct,
            rsd=self.rsd,
        ).alias("__num")
        den_agg = _agg_column(
            den.calculation_method,
            den.expression,
            cond=filters_predicate(den.filters),
            approx_distinct=self.approx_distinct,
            rsd=self.rsd,
        ).alias("__den")
        if keys:
            out = df.groupBy(*keys).agg(num_agg, den_agg)
        else:
            out = df.agg(num_agg, den_agg)
        value = F.when(F.col("__den") != 0, F.col("__num") / F.col("__den")).alias(spec.name)
        return out.select(*[c for c in out.columns if not c.startswith("__")], value)

    def _compile_cumulative(self, spec: MetricSpec, grain: str | None) -> DataFrame:
        """Running total over grain buckets, resetting at reset_grain.

        Aggregate to the grain first (one shuffle over base data), then
        window over the tiny grain-level frame partitioned by
        (dims, reset bucket) -- the window never sees raw rows.
        Only additive methods are meaningful as running totals; distinct
        counts cannot be composed from partials (SURVEY.md §4).
        """
        if spec.calculation_method not in ("sum", "count", "min", "max"):
            raise ValueError(
                f"cumulative metric {spec.name!r}: method {spec.calculation_method!r} "
                "is not re-aggregable across buckets"
            )
        if not grain or grain == "all_time":
            raise ValueError(f"cumulative metric {spec.name!r} requires a time grain")
        base_spec = MetricSpec(
            name="__bucket_value",
            calculation_method=spec.calculation_method,
            expression=spec.expression,
            model=spec.model,
            timestamp=spec.timestamp,
            dimensions=spec.dimensions,
            filters=spec.filters,
        )
        bucketed = self._compile_simple(base_spec, grain)
        parts: list[Column] = [F.col(d) for d in spec.dimensions]
        if spec.reset_grain:
            parts.append(F.date_trunc(spec.reset_grain, F.col(TS_COL)).cast("date"))
        w = (
            Window.partitionBy(*parts).orderBy(F.col(TS_COL))
            if parts
            else Window.partitionBy().orderBy(F.col(TS_COL))
        ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
        acc = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}[
            spec.calculation_method
        ]
        return bucketed.select(
            TS_COL,
            *spec.dimensions,
            acc(F.col("__bucket_value")).over(w).alias(spec.name),
        )

    def _bucketed_with_index(
        self, spec: MetricSpec, grain: str
    ) -> DataFrame:
        """Grain-aggregated base frame plus an integer bucket index
        (consecutive buckets differ by exactly 1) -- the ordering key
        calendar-correct window frames need: a RANGE frame over the
        index consumes window width for MISSING buckets too, where a
        ROWS frame would silently stretch over gaps.  The index
        formulas are plain integer arithmetic replayed verbatim by the
        DuckDB oracles."""
        base_spec = MetricSpec(
            name="__bucket_value",
            calculation_method=spec.calculation_method,
            expression=spec.expression,
            model=spec.model,
            timestamp=spec.timestamp,
            dimensions=spec.dimensions,
            filters=spec.filters,
        )
        bucketed = self._compile_simple(base_spec, grain)
        ts = F.col(TS_COL)
        if grain == "hour":
            idx = F.floor(
                F.unix_micros(ts.cast("timestamp")) / F.lit(3_600_000_000)
            )
        elif grain == "day":
            idx = F.datediff(ts, F.lit("1970-01-01")).cast("long")
        elif grain == "week":
            idx = F.floor(F.datediff(ts, F.lit("1970-01-01")) / F.lit(7))
        elif grain == "month":
            idx = (F.year(ts) * 12 + F.month(ts)).cast("long")
        elif grain == "quarter":
            idx = (F.year(ts) * 4 + F.quarter(ts)).cast("long")
        elif grain == "year":
            idx = F.year(ts).cast("long")
        else:
            raise ValueError(
                f"metric {spec.name!r}: grain {grain!r} has no bucket index"
            )
        return bucketed.withColumn("__idx", idx)

    def _compile_trailing(self, spec: MetricSpec, grain: str | None) -> DataFrame:
        """Trailing-window aggregate over the last `window_buckets`
        grain buckets (e.g. trailing-7-day revenue, per day).

        Same two-stage shape as cumulative: ONE shuffle aggregates base
        data to the grain, then the window runs over the tiny bucket
        frame.  The frame is RANGE over the bucket index, so a missing
        bucket still consumes width (calendar semantics), unlike a ROWS
        frame which would reach further back across gaps.  Only
        re-aggregable methods compose across buckets."""
        if spec.calculation_method not in ("sum", "count", "min", "max"):
            raise ValueError(
                f"trailing metric {spec.name!r}: method "
                f"{spec.calculation_method!r} is not re-aggregable across buckets"
            )
        if not grain or grain == "all_time":
            raise ValueError(f"trailing metric {spec.name!r} requires a time grain")
        bucketed = self._bucketed_with_index(spec, grain)
        w = (
            Window.partitionBy(*[F.col(d) for d in spec.dimensions])
            .orderBy("__idx")
            .rangeBetween(-(spec.window_buckets - 1), 0)
        )
        acc = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}[
            spec.calculation_method
        ]
        return bucketed.select(
            TS_COL,
            *spec.dimensions,
            acc(F.col("__bucket_value")).over(w).alias(spec.name),
        )

    def _compile_growth(self, spec: MetricSpec, grain: str | None) -> DataFrame:
        """Period-over-period growth: (value - prev) / prev against the
        previous CALENDAR bucket (RANGE frame [-1, -1] over the bucket
        index -- a lag() would silently compare against the last
        EXISTING bucket across gaps).  NULL when the previous bucket is
        missing or zero (division semantics diverge across engines at
        zero, so the guard is part of the contract)."""
        if not grain or grain == "all_time":
            raise ValueError(f"growth metric {spec.name!r} requires a time grain")
        bucketed = self._bucketed_with_index(spec, grain)
        w = (
            Window.partitionBy(*[F.col(d) for d in spec.dimensions])
            .orderBy("__idx")
            .rangeBetween(-1, -1)
        )
        prev = F.max("__bucket_value").over(w)
        cur = F.col("__bucket_value")
        return bucketed.select(
            TS_COL,
            *spec.dimensions,
            F.when(prev != 0, (cur - prev) / prev).alias(spec.name),
        )

    def _compile_derived(self, spec: MetricSpec, grain: str | None, visiting: tuple) -> DataFrame:
        """Expression over other metrics.

        Two physical strategies, same semantics:

        - FUSED (preferred): when every input is a simple metric over
          the same model/timestamp/dimensions, all inputs become
          conditional aggregates in ONE pass over ONE scan
          (`_compile_derived_fused`) -- the scan-sharing shape that
          matters at 100 TB, where N independent compilations would be
          N fact scans.
        - JOIN (fallback, below): compile inputs independently,
          equi-join on the shared group keys, evaluate the expression.
          Required for cross-model / non-simple inputs.

        Null-propagation policy (explicit, both paths): inputs are
        effectively FULL-joined, so
        the output keeps the UNION of every input's group keys, and the
        expression evaluates under standard SQL three-valued logic -- a
        bucket where any referenced input is absent yields a NULL metric
        value on a visible row.  Rationale: silently dropping buckets
        (inner join) would let a gap in ONE input erase the other
        inputs' data from the result, the wrong failure mode for
        monitoring-style metrics; NULL-on-visible-row lets the consumer
        distinguish 'no data anywhere' (no row) from 'partially defined'
        (row with NULL value).  Pinned by
        tests/test_metric_compiler.py::test_derived_disjoint_keys_null_policy.

        Input frames are grain-cardinality (already aggregated), so these
        joins are small; at scale AQE broadcast-joins them.  Cycles and
        missing inputs fail loudly (SURVEY.md §7 watch-list 1).
        """
        visiting = visiting + (spec.name,)
        inputs: list[MetricSpec] = []
        for m in spec.input_metrics:
            if m not in self.registry:
                raise ValueError(f"derived metric {spec.name!r}: unknown input metric {m!r}")
            inputs.append(self.registry[m])
        fused = self._compile_derived_fused(spec, inputs, grain)
        if fused is not None:
            return fused
        frames: dict[str, DataFrame] = {
            m.name: self._compile(m, grain, visiting) for m in inputs
        }
        names = list(frames)
        joined = frames[names[0]]
        for m in names[1:]:
            f = frames[m]
            # shared keys recomputed from the JOINED frame each
            # iteration (ADVICE r7): with >=3 inputs at incomparable
            # granularities (dims {a}, {b}, {a,b}) a key introduced by
            # the SECOND input must join the third, or the duplicate
            # column is AMBIGUOUS_REFERENCE downstream
            key_cols = [c for c in joined.columns if c not in names]
            shared = [c for c in key_cols if c in f.columns]
            joined = joined.join(f, on=shared, how="full") if shared else joined.crossJoin(f)
        out_keys = [c for c in joined.columns if c not in names]
        return joined.select(*out_keys, F.expr(spec.expression).alias(spec.name))

    def _compile_derived_fused(
        self, spec: MetricSpec, inputs: list[MetricSpec], grain: str | None
    ) -> DataFrame | None:
        """Shared-scan compilation for derived metrics whose inputs are
        all SIMPLE metrics over the same model / timestamp / dimensions:
        instead of compiling each input independently (N fact scans + a
        FULL join -- at 100 TB an N-input derived metric would re-read
        the fact table N times), route every input through ONE
        conditional-aggregate pass (the `compile_shared` machinery) and
        evaluate the expression over the single aggregated frame:
        one scan, one shuffle, regardless of input count.

        The FULL-join null policy is preserved EXACTLY:

        - group existence: a bucket appears in the joined output iff at
          least one input's filtered frame has it.  Here, when every
          input carries a filter, the scan is pre-filtered with the
          DISJUNCTION of the input predicates, so a group materializes
          iff some input selected at least one row in it (an unfiltered
          input sees every group, so no pre-filter is needed then --
          and the disjunction is a pushdown-friendly scan predicate,
          not a semantic change).
        - per-input NULLs: the FULL join yields NULL for input A on a
          bucket A never selected.  A bare conditional COUNT would
          yield 0 there, so each FILTERED input also aggregates a
          1/NULL match marker (`max(when(cond, 1))`) and the value is
          NULLed when the marker is absent -- which also keeps the
          subtle sub-case where A matched rows but aggregated all-NULL
          expressions (join path: visible 0 for COUNT) identical.

        Returns None (caller falls back to the FULL-join path) for
        cross-model / cross-timestamp / cross-dimension inputs or
        non-simple inputs (nested derived, cumulative, ratio), where
        independent compilation is the only correct shape.
        Equivalence vs the join path is pinned by
        tests/test_metric_compiler.py::test_derived_fusion_*.
        """
        if any(i.metric_type != "simple" for i in inputs):
            return None
        if len({i.model for i in inputs}) != 1:
            return None
        if len({i.timestamp for i in inputs}) != 1:
            return None
        names = {i.name for i in inputs}
        if len(names) != len(inputs):
            return None
        all_dims = {d for i in inputs for d in i.dimensions}
        if names & ({TS_COL} | all_dims):
            return None  # an input named like a key col would collide
        if len({tuple(i.dimensions) for i in inputs}) != 1:
            return self._compile_derived_fused_subset(spec, inputs, grain)
        df = self.resolver(inputs[0].model)
        preds = [filters_predicate(i.filters) for i in inputs]
        if all(p is not None for p in preds):
            df = df.filter(reduce(lambda a, b: a | b, preds))
        keys = self._group_keys(inputs[0], grain)
        aggs: list[Column] = []
        markers: dict[str, str] = {}
        for i, (inp, pred) in enumerate(zip(inputs, preds)):
            aggs.append(
                _agg_column(
                    inp.calculation_method,
                    inp.expression,
                    cond=pred,
                    approx_distinct=self.approx_distinct,
                    rsd=self.rsd,
                    percentile=inp.percentile,
                ).alias(inp.name)
            )
            if pred is not None:
                marker = f"__matched_{i}"
                aggs.append(F.max(F.when(pred, F.lit(1))).alias(marker))
                markers[inp.name] = marker
        agged = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
        out_keys = [c for c in agged.columns if c not in names and not c.startswith("__matched_")]
        values = [
            F.when(F.col(markers[n]) == 1, F.col(n)).alias(n) if n in markers else F.col(n)
            for n in (i.name for i in inputs)
        ]
        resolved = agged.select(*out_keys, *values)
        return resolved.select(*out_keys, F.expr(spec.expression).alias(spec.name))

    def _compile_derived_fused_subset(
        self, spec: MetricSpec, inputs: list[MetricSpec], grain: str | None
    ) -> DataFrame | None:
        """Scan-sharing for derived metrics whose inputs aggregate the
        same model at DIFFERENT granularities, one per dimension-subset
        (the `revenue_per_customer` shape: SUM at (ts, customer) divided
        by COUNT DISTINCT at (ts)): aggregate ONCE at the finest input's
        grouping, then derive each coarser input as a WINDOW over the
        tiny grain-cardinality frame, partitioned by that input's keys.
        One fact scan + one aggregation shuffle (+ one window shuffle on
        the aggregated frame), where independent compilation is N fact
        scans + N shuffles + a join.

        Coarse inputs must be re-derivable from fine partials:
        sum/count/min/max re-aggregate; average = sum-partial over
        count-partial; count_distinct only when its expression IS one of
        the fine grouping dims (each fine group then contributes its key
        value once -- `size(collect_set(...))` over the window, exact).
        Percentile/median are not re-aggregable -> join fallback.

        FILTERED inputs (round 8, r7 stretch): per-input filters become
        conditional partials + 1/NULL match markers (the equal-dims
        technique), PROVIDED at least one input at the FINEST
        granularity is unfiltered.  That anchor guarantees the fused
        row set (all fine buckets) equals the join path's: with every
        fine input filtered, the join path can emit a COARSE-ONLY row
        with NULL fine keys (a coarse filter matching a bucket no fine
        input selected) where this shape would instead fan the coarse
        value across real fine keys -- a genuine multiplicity
        difference, detected here and sent to the join path.
        Equivalence (including the fan-out semantics of joining a
        coarse input onto fine keys, and NULL placement for filtered
        coarse inputs) is pinned by
        tests/test_metric_compiler.py::test_derived_fusion_subset_dims*
        and the randomized differential.
        """
        fine = max(inputs, key=lambda i: len(i.dimensions))
        fine_dims = set(fine.dimensions)
        if any(not set(i.dimensions) <= fine_dims for i in inputs):
            return None  # no unique finest grouping -> join path
        if any(i.filters for i in inputs) and not any(
            not i.filters and set(i.dimensions) == fine_dims for i in inputs
        ):
            return None  # no unfiltered fine anchor -> coarse-only rows possible
        grain_active = bool(grain and grain != "all_time")
        for inp in inputs:
            if set(inp.dimensions) == fine_dims:
                continue
            m = inp.calculation_method
            if m in ("sum", "count", "min", "max", "average"):
                continue
            if m == "count_distinct":
                expr_col = (inp.expression or "").strip()
                if expr_col in fine_dims - set(inp.dimensions):
                    continue
                return None
            return None  # percentile/median: not re-aggregable
        df = self.resolver(fine.model)
        keys = self._group_keys(fine, grain)
        base_aggs: list[Column] = []
        # (spec, value/sum partial, count partial, marker col)
        finals: list[tuple[MetricSpec, str | None, str | None, str | None]] = []
        for idx, inp in enumerate(inputs):
            pred = filters_predicate(inp.filters)
            marker = None
            # coarse averages need no marker: when(cnt > 0) already
            # yields the join path's NULL for no-match buckets
            needs_marker = pred is not None and not (
                set(inp.dimensions) != fine_dims
                and inp.calculation_method == "average"
            )
            if needs_marker:
                marker = f"__mk_{idx}"
                base_aggs.append(F.max(F.when(pred, F.lit(1))).alias(marker))
            if set(inp.dimensions) == fine_dims:
                base_aggs.append(
                    _agg_column(
                        inp.calculation_method,
                        inp.expression,
                        cond=pred,
                        approx_distinct=self.approx_distinct,
                        rsd=self.rsd,
                        percentile=inp.percentile,
                    ).alias(inp.name)
                )
                finals.append((inp, None, None, marker))
            elif inp.calculation_method == "average":
                s, c = f"__ps_{idx}", f"__pc_{idx}"
                e = F.expr(inp.expression)
                e = F.when(pred, e) if pred is not None else e
                base_aggs.append(F.sum(e).alias(s))
                base_aggs.append(F.count(e).alias(c))
                finals.append((inp, s, c, marker))
            elif inp.calculation_method == "count_distinct":
                finals.append((inp, None, None, marker))
            else:
                p = f"__ps_{idx}"
                base_aggs.append(
                    _agg_column(
                        inp.calculation_method, inp.expression, cond=pred
                    ).alias(p)
                )
                finals.append((inp, p, None, marker))
        base = df.groupBy(*keys).agg(*base_aggs) if keys else df.agg(*base_aggs)
        out_cols: list[Column] = []
        for inp, partial, count_partial, marker in finals:
            if set(inp.dimensions) == fine_dims:
                val = F.col(inp.name)
                if marker is not None:
                    val = F.when(F.col(marker) == 1, val)
                out_cols.append(val.alias(inp.name))
                continue
            parts = ([TS_COL] if grain_active else []) + list(inp.dimensions)
            w = Window.partitionBy(*parts)
            if inp.calculation_method == "count_distinct":
                expr_col = inp.expression.strip()
                # filtered: only fine buckets with a matched row
                # contribute their key value to the distinct set
                key_val = (
                    F.when(F.col(marker) == 1, F.col(expr_col))
                    if marker is not None
                    else F.col(expr_col)
                )
                if self.approx_distinct:
                    val = F.approx_count_distinct(key_val, self.rsd).over(w)
                else:
                    val = F.size(F.collect_set(key_val).over(w))
            elif inp.calculation_method == "average":
                total = F.sum(F.col(partial)).over(w)
                cnt = F.sum(F.col(count_partial)).over(w)
                val = F.when(cnt > 0, total / cnt)
            else:
                acc = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}[
                    inp.calculation_method
                ]
                val = acc(F.col(partial)).over(w)
            if marker is not None and inp.calculation_method != "average":
                # join-path parity: a coarse bucket the filter never
                # matched is NULL (absent from that input's frame), not
                # a visible 0 from the conditional partials
                val = F.when(F.max(F.col(marker)).over(w) == 1, val)
            out_cols.append(val.alias(inp.name))
        out_keys = ([TS_COL] if grain_active else []) + list(fine.dimensions)
        resolved = base.select(*out_keys, *out_cols)
        return resolved.select(*out_keys, F.expr(spec.expression).alias(spec.name))
