"""Guard the events fixture's timestamp precision (round-2 verdict item 3).

``sources/tables.py:_load_events`` truncates the parquet TIMESTAMP(NANOS)
column to microseconds (``ts div 1000``) while the DuckDB oracles read
the same parquet natively at nanosecond precision.  Today every fixture
timestamp is micro-aligned so the two views agree; if the testdata were
ever regenerated with real nanosecond tails, sessionization min/max and
gap comparisons would silently diverge.  This test makes that drift loud
instead of silent.
"""

from __future__ import annotations

import os

import duckdb
import pytest

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


@pytest.mark.parametrize(
    "sf_dir", [d for d in SF_DIRS if os.path.exists(f"{d}/events.parquet")]
)
def test_events_ts_is_micro_aligned(sf_dir):
    con = duckdb.connect()
    n_bad, n_total = con.execute(
        "SELECT count(*) FILTER (WHERE epoch_ns(ts) % 1000 <> 0), count(*) "
        f"FROM read_parquet('{sf_dir}/events.parquet')"
    ).fetchone()
    con.close()
    assert n_total > 0
    assert n_bad == 0, (
        f"{sf_dir}/events.parquet has {n_bad}/{n_total} timestamps with "
        f"sub-microsecond precision; the Spark loader truncates nanos to "
        f"micros (sources/tables.py:_load_events) so the DuckDB oracles "
        f"(which read nanos natively) would diverge — either regenerate "
        f"micro-aligned data or truncate in the oracles' events CTEs"
    )


@pytest.mark.parametrize(
    "sf_dir", [d for d in SF_DIRS if os.path.exists(f"{d}/events.parquet")]
)
def test_events_ts_parquet_type_is_pinned(sf_dir):
    """Pin the physical parquet type of events.ts (round-3 verdict item 1).

    The fixture was regenerated between rounds 2 and 3 from
    TIMESTAMP(NANOS) to timestamp[us], silently flipping Spark's inferred
    type from bigint (nanosAsLong) to TIMESTAMP_NTZ.  The loader now
    handles bigint, timestamp_ntz, and timestamp — but any OTHER type a
    future regeneration produces must fail loudly here, not downstream
    in a type error.
    """
    import pyarrow.parquet as pq

    t = pq.read_schema(f"{sf_dir}/events.parquet").field("ts").type
    assert str(t) in {"timestamp[us]", "timestamp[us, tz=UTC]", "timestamp[ns]"}, (
        f"{sf_dir}/events.parquet ts is {t}; the Spark loader "
        f"(sources/tables.py:_load_events) only handles nanos-as-long, "
        f"timestamp_ntz and timestamp — extend it before accepting this "
        f"fixture shape"
    )
