"""SparkSession factory tuned for the engine.

Local testing runs a single JVM (local[N]); the config below is chosen so
the same code scales to a multi-executor cluster: AQE on (runtime join
selection + skew-join splitting), partition-size targets that keep shuffle
partitions in executor memory at large SF, Arrow for any pandas interop,
UTC session timezone for deterministic date_trunc semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "dbt-metrics-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalescing of shuffle partitions, broadcast-join
        # demotion/promotion, skew-join splitting -- all critical at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # Keep scan partitions bounded so one task's input fits in memory
        # regardless of file sizes.
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Arrow for pandas_udf / toPandas paths (EXT operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic time semantics across engines (oracle parity).
        .config("spark.sql.session.timeZone", "UTC")
        # parquet TIMESTAMP(NANOS) reads as a long, which
        # sources.tables rebuilds into a timestamp; set once here rather
        # than by every table load on the shared session conf
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark records the Python call site of every Column and
        # DataFrame call (about five py4j calls and a stack walk each):
        # over half the py4j calls of a Layer A ingest.  Off, an
        # analysis error loses its `== DataFrame ==` call-site block;
        # the Python traceback still names the line.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
    )
    # NOTE: spark.driver.memory must be set BEFORE the JVM launches
    # (spark-submit / PYSPARK_SUBMIT_ARGS); setting it via builder.config
    # from a plain python process is silently ignored, so it is
    # deliberately NOT configured here.  For local runs needing a larger
    # driver heap: PYSPARK_SUBMIT_ARGS="--driver-memory 8g pyspark-shell".
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
