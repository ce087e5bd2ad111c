"""Per-query optimization profiler (round 15): for each named query,
split wall time into frame build (Python + analysis), Catalyst
optimization (explain), and execution (noop sink per guide §1.4), and
count the Spark jobs/stages the execution schedules.  Optionally dumps
`explain("formatted")` to plans/r15/<name>_<tag>.txt.

Usage:
  python scripts/profile_query.py [--plans TAG] [--iters N] name [name ...]

Numbers here are DIAGNOSTIC (single session, noop sink); the committed
bench methodology (min-of-3 count()) is unchanged.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, "/root/repo")

from dbt_metrics_ingestion_script_spark import queries as q  # noqa: E402
from dbt_metrics_ingestion_script_spark.plans.compiler import PLAN_CACHE  # noqa: E402
from dbt_metrics_ingestion_script_spark.session import get_spark  # noqa: E402
from dbt_metrics_ingestion_script_spark.sources import tables  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    args = sys.argv[1:]
    plans_tag = None
    iters = 1
    while args and args[0].startswith("--"):
        if args[0] == "--plans":
            plans_tag = args[1]
            args = args[2:]
        elif args[0] == "--iters":
            iters = int(args[1])
            args = args[2:]
        else:
            raise SystemExit(f"unknown flag {args[0]}")
    names = args
    spark = get_spark(
        app_name="profile",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    q.queries()
    from bench import EXTRA  # noqa: E402

    by_name = {n: d.fn for n, d in q.REGISTRY.items()}
    by_name.update(EXTRA)

    sc = spark.sparkContext

    def job_count() -> int:
        st = sc.statusTracker()
        ids = st.getJobIdsForGroup(None)
        return len(ids)

    # warm the JVM/parquet footers like the bench does
    by_name[names[0]](spark, SF_DIR).count()

    for name in names:
        fn = by_name[name]
        best = None
        for it in range(iters):
            # every iteration builds its frames anew, as the first did
            tables.clear_memo()
            PLAN_CACHE.clear()
            sc.setJobGroup(f"profile-{name}", name)
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            plan = df._jdf.queryExecution().explainString(
                df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            t2 = time.perf_counter()
            j0 = job_count()
            df.write.format("noop").mode("overwrite").save()
            t3 = time.perf_counter()
            j1 = job_count()
            rec = {
                "build": t1 - t0,
                "optimize": t2 - t1,
                "execute": t3 - t2,
                "total": t3 - t0,
                "jobs": j1 - j0,
                "plan_chars": len(plan),
            }
            if best is None or rec["total"] < best["total"]:
                best = rec
                best_plan = plan
        print(
            f"{name:45s} build {best['build']:6.2f}s  opt {best['optimize']:6.2f}s  "
            f"exec {best['execute']:6.2f}s  total {best['total']:6.2f}s  "
            f"jobs {best['jobs']:3d}  plan {best['plan_chars'] / 1000:.0f}k"
        )
        if plans_tag:
            rdir = os.environ.get("SPARK_GRAFT_PLANS_DIR", "plans/r16")
            os.makedirs(rdir, exist_ok=True)
            with open(f"{rdir}/{name}_{plans_tag}.txt", "w") as f:
                f.write(best_plan)
    spark.stop()


if __name__ == "__main__":
    main()
