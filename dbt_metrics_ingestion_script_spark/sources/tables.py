"""Fact/dimension table registry over the driver's parquet test data.

Mirrors the reference's fact-table scan surface (SURVEY.md S7; model
`relation_name` at /root/reference/test_manifest.json:161) as plain
parquet DataFrame reads.  Column pruning and predicate pushdown are left
to Catalyst -- callers express filters/projections declaratively and the
parquet scan receives PushedFilters/ReadSchema automatically.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Tiny dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = {"region", "nation", "supplier"}


# load_table's memo: (session, path) -> (snapshot, frame), least
# recently used first.  A table whose files change gets a fresh frame:
# a parquet relation keeps the file listing and schema it was built
# with, so an old frame would silently read the old files.
_MEMO_BOUND = 64
_memo: OrderedDict[tuple[SparkSession, str], tuple[tuple, DataFrame]] = OrderedDict()
_memo_lock = threading.Lock()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The table's DataFrame, the same object on every call while the
    table's files are unchanged (see `snapshot_of`)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    snap = _file_snapshot(path)
    key = (spark, path)
    with _memo_lock:
        hit = _memo.get(key)
        if hit is not None and hit[0] == snap:
            _memo.move_to_end(key)
            return hit[1]
    df = _load_events(spark, path) if name == "events" else spark.read.parquet(path)
    with _memo_lock:
        _memo[key] = (snap, df)
        _memo.move_to_end(key)
        while len(_memo) > _MEMO_BOUND:
            _memo.popitem(last=False)
    return df


def snapshot_of(df: DataFrame) -> tuple | None:
    """The file snapshot `load_table` memoized `df` under (see
    `_file_snapshot`), or None when `df` is not a memoized table frame
    (a derived frame, an in-memory frame, or one superseded because its
    files changed)."""
    with _memo_lock:
        for snap, memo_df in _memo.values():
            if memo_df is df:
                return snap
    return None


def clear_memo() -> None:
    """Forget every memoized table frame."""
    with _memo_lock:
        _memo.clear()


def _file_snapshot(path: str) -> tuple:
    """(path, ((relative file, size, st_mtime_ns, inode), ...)) over
    the data files of a parquet file or directory; Spark skips names
    starting with `_` or `.`, and so does this.  A missing path has no
    files, and its read raises Spark's own PATH_NOT_FOUND."""
    if os.path.isfile(path):
        found = [path]
    else:
        found = []
        for d, dirs, names in os.walk(path):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            found += [os.path.join(d, n) for n in names if not n.startswith(("_", "."))]
    stats = ((os.path.relpath(p, path), os.stat(p)) for p in found)
    return path, tuple(
        sorted((rel, st.st_size, st.st_mtime_ns, st.st_ino) for rel, st in stats)
    )


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """events.parquet stores ts as TIMESTAMP(NANOS), which Spark's
    parquet reader rejects by default.  Read nanos as long (the
    `spark.sql.legacy.parquet.nanosAsLong` setting `session.get_spark`
    makes) and rebuild a timestamp_ntz via an epoch-anchored
    timestampadd -- micros-truncating exactly like engines that read
    NANOS natively, and independent of the session timezone."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, "
                "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so Spark SQL text queries work."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
