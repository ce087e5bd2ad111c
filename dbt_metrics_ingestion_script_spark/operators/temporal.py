"""Changelog replay: point-in-time snapshots (EXT).

The lakehouse temporal primitives on top of an append-only changelog:
given a stream of keyed upsert/delete records, reconstruct the table
state AS OF any timestamp.  The same replay semantics power the SCD2
builder (operators/sessions.py's interval frames) and the metric-store
MERGE loop (operators/merge.py) -- this module is the read side: no
mutable store needed, any historical state is a query over the log.
The registered snapshot diff (``events_snapshot_diff_single_scan``)
folds both states into one aggregate over the same log.

Scale shape (100 TB changelog):

- ``snapshot_at`` is ONE partial-aggregated shuffle: `max_by` over a
  (ts, seq) ordering struct combines map-side, so each partition ships
  one candidate row per key it saw -- never the full log -- and the
  reduce side keeps one row per key.  No window sort, no per-key
  re-scan.  (A window row_number formulation would shuffle every log
  row to sort it; the aggregate form ships only per-partition winners.)
- Time-travel pruning: a changelog laid out by date (the usual
  ingestion partitioning) lets the ``ts <= as_of`` predicate prune
  whole partitions before the aggregate -- pinned by the pushdown
  lock in tests/test_plan_shape.py.

Replay semantics (one definition, used by every snapshot):

- records are keyed by ``key_col``; the latest record per key wins,
  "latest" ordered by (ts, seq) so co-timestamped records resolve
  deterministically by the monotone sequence column;
- a record whose op column matches ``delete_op`` is a tombstone: if
  the latest record for a key is a tombstone, the key is absent from
  the snapshot (classic compacted-topic / MERGE semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def latest_records(
    log: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    seq_col: str,
    op_col: str,
    value_cols: list[str],
    as_of: str | Column | None = None,
) -> DataFrame:
    """Latest record per key (tombstones INCLUDED), optionally bounded
    by ``as_of`` (inclusive): (key, state_ts, state_seq, state_op,
    *value_cols).  NULL ts rows carry no position and are ignored.

    Latest-wins over the (ts, seq) order is ASSOCIATIVE and
    COMMUTATIVE, so this fold can run over any partition of the log --
    per shard, per batch -- and re-fold its own outputs to the same
    result as one pass over the union.  Tombstones must stay in the
    folded state for that to hold: a tombstone dropped early could be
    resurrected by a LATE record with an EARLIER timestamp arriving in
    a later batch.
    """
    cond = F.col(ts_col).isNotNull()
    if as_of is not None:
        as_of_c = (
            F.lit(as_of).cast("timestamp") if isinstance(as_of, str) else as_of
        )
        cond = cond & (F.col(ts_col) <= as_of_c)
    payload = F.struct(
        F.col(ts_col).alias("state_ts"),
        F.col(seq_col).alias("state_seq"),
        F.col(op_col).alias("state_op"),
        *[F.col(c) for c in value_cols],
    )
    order = F.struct(F.col(ts_col), F.col(seq_col))
    return (
        log.where(cond)
        .groupBy(F.col(key_col))
        .agg(F.max_by(payload, order).alias("__s"))
        .select(
            key_col,
            F.col("__s.state_ts").alias("state_ts"),
            F.col("__s.state_seq").alias("state_seq"),
            F.col("__s.state_op").alias("state_op"),
            *[F.col(f"__s.{c}").alias(c) for c in value_cols],
        )
    )


def live_view(snapshot: DataFrame, *, op_col: str = "state_op", delete_op: str = "del") -> DataFrame:
    """The readable face of a tombstone-keeping state frame: live keys
    only."""
    return snapshot.where(F.col(op_col) != F.lit(delete_op))


def snapshot_at(
    log: DataFrame,
    *,
    key_col: str,
    ts_col: str,
    seq_col: str,
    op_col: str,
    delete_op: str,
    value_cols: list[str],
    as_of: str | Column,
) -> DataFrame:
    """Reconstruct the keyed table state as of ``as_of`` (inclusive).

    Output: one row per live key -- (key, state_ts, state_seq,
    state_op, *value_cols); tombstoned keys are absent.  NULL ts rows
    carry no position in the log and are ignored.
    """
    return live_view(
        latest_records(
            log,
            key_col=key_col,
            ts_col=ts_col,
            seq_col=seq_col,
            op_col=op_col,
            value_cols=value_cols,
            as_of=as_of,
        ),
        delete_op=delete_op,
    )
