"""Z-order data-layout keys (EXT): multi-dimensional clustering for
scan locality.

A 100 TB table laid out by one column serves range scans on that
column only; interleaving the bits of TWO dimensions (Morton / Z-order
curve -- the key behind Delta's OPTIMIZE ZORDER and Hudi clustering)
yields a single sort key whose contiguous ranges cover small
rectangles in (dim1, dim2) space, so min/max file statistics prune
scans filtered on EITHER dimension.

Everything here is integer arithmetic end to end:

1. each dimension is scaled to `bits` bits by an integer affine map
   ((x - min) * (2^bits - 1)) DIV max(max - min, 1) -- the (min, max)
   bounds ride a 1-row broadcast, the corpus never shuffles;
2. the two bucket values interleave bit-by-bit into the z key.

The interleave is generated from one shared BIT PLAN (a list of
(source, source_bit, dest_bit) moves) rendered to each engine's
dialect -- Spark's shiftleft/shiftright functions, DuckDB's << >>
operators -- so the operator and its oracle cannot drift: both render
the same plan.  Computing the key is map-side; the one shuffle in a
real layout job is the final repartitionByRange(zkey) write, which is
exactly the shuffle the layout exists to pay once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def zorder_bit_plan(bits: int) -> list[tuple[str, int, int]]:
    """(source, source_bit, dest_bit) moves interleaving two `bits`-bit
    values: dim a's bit i lands at 2i+1, dim b's at 2i (a = high)."""
    plan = []
    for i in range(bits):
        plan.append(("a", i, 2 * i + 1))
        plan.append(("b", i, 2 * i))
    return plan


def render_interleave_sql(a_expr: str, b_expr: str, bits: int) -> str:
    """DuckDB-dialect rendering of the bit plan (<< >> & | operators)."""
    src = {"a": a_expr, "b": b_expr}
    terms = [
        f"((({src[s]} >> {sb}) & 1) << {db})"
        for s, sb, db in zorder_bit_plan(bits)
    ]
    return "(" + " | ".join(terms) + ")"


def _interleave_col(a, b, bits: int):
    """Spark-dialect rendering of the same bit plan."""
    src = {"a": a, "b": b}
    out = None
    for s, sb, db in zorder_bit_plan(bits):
        term = F.shiftleft(F.shiftright(src[s], sb).bitwiseAND(F.lit(1)), db)
        out = term if out is None else out.bitwiseOR(term)
    return out


def zorder_key(
    df: DataFrame,
    dim_a: str,
    dim_b: str,
    id_col: str,
    bits: int = 8,
    n_shards: int = 64,
) -> DataFrame:
    """(id, zkey, shard) for every row with non-NULL dimensions: zkey
    is the Morton interleave of the two `bits`-bit scaled dimensions,
    shard its top log2(n_shards) bits -- the file a layout writer
    would route the row to (`df.repartitionByRange(shard/zkey)` +
    sortWithinPartitions(zkey) materializes the layout; returning the
    key frame keeps the operator differentially testable).

    NULL dimension values have no position on the curve and are
    dropped (a real writer routes them to a dedicated NULL shard);
    pinned by the oracle's WHERE.
    """
    if bits < 1 or bits > 31:
        raise ValueError("bits must be in [1, 31]")
    if n_shards < 1 or n_shards & (n_shards - 1):
        raise ValueError("n_shards must be a power of two")
    shard_shift = 2 * bits - (n_shards.bit_length() - 1)
    base = df.where(
        F.col(dim_a).isNotNull() & F.col(dim_b).isNotNull()
    ).select(
        F.col(id_col),
        F.col(dim_a).cast("long").alias("__a"),
        F.col(dim_b).cast("long").alias("__b"),
    )
    bounds = base.agg(
        F.min("__a").alias("__amn"),
        F.max("__a").alias("__amx"),
        F.min("__b").alias("__bmn"),
        F.max("__b").alias("__bmx"),
    )
    top = (1 << bits) - 1
    scaled = base.crossJoin(F.broadcast(bounds)).selectExpr(
        id_col,
        f"((__a - __amn) * {top}) DIV greatest(__amx - __amn, 1) AS __ab",
        f"((__b - __bmn) * {top}) DIV greatest(__bmx - __bmn, 1) AS __bb",
    )
    zkey = _interleave_col(F.col("__ab"), F.col("__bb"), bits)
    return scaled.select(
        F.col(id_col),
        zkey.alias("zkey"),
    ).withColumn("shard", F.shiftright(F.col("zkey"), shard_shift))


def write_zordered(
    df: DataFrame,
    out_dir: str,
    dim_a: str,
    dim_b: str,
    id_col: str,
    bits: int = 8,
    n_files: int = 8,
) -> None:
    """Materialize the Z-order layout: rows route to `n_files` output
    files by RANGE of zkey (repartitionByRange) and sort by zkey
    within each file, so every file owns a CONTIGUOUS zkey interval --
    which is exactly what lets min/max file statistics prune a scan
    filtered on either interleaved dimension.  The disjointness of
    per-file [min(zkey), max(zkey)] ranges is the testable layout
    property (tests read the written footers back).

    The one shuffle here is the range partitioning -- the shuffle a
    layout job exists to pay once so that every later scan pays less.
    """
    keyed = zorder_key(
        df, dim_a=dim_a, dim_b=dim_b, id_col=id_col, bits=bits
    ).join(df, id_col)
    (
        keyed.repartitionByRange(n_files, "zkey")
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .parquet(out_dir)
    )


# ---------------------------------------------------------------------------
# Hilbert-curve layout keys (the better-locality sibling of Z-order)
# ---------------------------------------------------------------------------
#
# Morton interleave is one bit-shuffle, but its curve JUMPS: consecutive
# keys can sit in distant cells, so file boundaries cut across space and
# min/max pruning admits wider rectangles.  The Hilbert curve visits
# every cell of the 2^bits x 2^bits grid with CONSECUTIVE KEYS ALWAYS IN
# ADJACENT CELLS (unit Manhattan steps -- pinned by test), which is why
# Delta's OPTIMIZE moved from ZORDER to Hilbert for liquid clustering.
#
# The classic xy2d walk (quadrant accumulate + rotate, e.g. Hamilton's
# compact Hilbert indices / the canonical public-domain formulation)
# is stateful per level, so instead of a static bit plan it renders as
# `bits` STAGED projections -- each level's (x, y, d) are named columns
# computed from the previous level's, in both dialects, so the operator
# and its oracle run the identical integer recurrence (the
# lambda-re-evaluation discipline: stage, never inline, or the
# expression tree grows 4^bits).

def _hilbert_level(s: int, n: int, x, y, d):
    """One xy2d level over Spark columns: returns (x', y', d')."""
    rx = F.when(x.bitwiseAND(F.lit(s)) != 0, F.lit(1)).otherwise(F.lit(0))
    ry = F.when(y.bitwiseAND(F.lit(s)) != 0, F.lit(1)).otherwise(F.lit(0))
    d2 = d + F.lit(s * s) * (F.lit(3) * rx).bitwiseXOR(ry)
    fx = F.when(rx == 1, F.lit(n - 1) - x).otherwise(x)
    fy = F.when(rx == 1, F.lit(n - 1) - y).otherwise(y)
    x2 = F.when(ry == 0, fy).otherwise(x)
    y2 = F.when(ry == 0, fx).otherwise(y)
    return x2, y2, d2


def hilbert_stages(df: DataFrame, bits: int, passthrough: list[str]) -> DataFrame:
    """Run the xy2d recurrence over staged projections: df must carry
    integer columns __hx, __hy in [0, 2^bits); adds __hd."""
    n = 1 << bits
    out = df.withColumn("__hd", F.lit(0).cast("bigint"))
    for lvl in range(bits):
        s = 1 << (bits - 1 - lvl)
        x2, y2, d2 = _hilbert_level(
            s, n, F.col("__hx"), F.col("__hy"), F.col("__hd")
        )
        out = out.select(
            *passthrough,
            x2.alias("__hx"),
            y2.alias("__hy"),
            d2.alias("__hd"),
        )
    return out


def render_hilbert_sql(inner: str, bits: int, passthrough: str) -> str:
    """DuckDB rendering of the same staged recurrence: `inner` must
    select `passthrough` columns plus hx, hy; yields hd beside them."""
    n = 1 << bits
    q = f"SELECT {passthrough}, hx, hy, CAST(0 AS BIGINT) AS hd FROM ({inner})"
    for lvl in range(bits):
        s = 1 << (bits - 1 - lvl)
        rx = f"(CASE WHEN (hx & {s}) <> 0 THEN 1 ELSE 0 END)"
        ry = f"(CASE WHEN (hy & {s}) <> 0 THEN 1 ELSE 0 END)"
        fx = f"(CASE WHEN {rx} = 1 THEN {n - 1} - hx ELSE hx END)"
        fy = f"(CASE WHEN {rx} = 1 THEN {n - 1} - hy ELSE hy END)"
        q = (
            f"SELECT {passthrough}, "
            f"CASE WHEN {ry} = 0 THEN {fy} ELSE hx END AS hx, "
            f"CASE WHEN {ry} = 0 THEN {fx} ELSE hy END AS hy, "
            f"hd + {s * s} * xor(3 * {rx}, {ry}) AS hd "
            f"FROM ({q})"
        )
    return q


def hilbert_key(
    df: DataFrame,
    id_col: str,
    dim_a: str,
    dim_b: str,
    bits: int = 8,
    shards: int = 64,
) -> DataFrame:
    """(id, hkey, shard) for every row with non-NULL dimensions --
    the Hilbert twin of `zorder_key`: same integer affine bucketing
    off a 1-row broadcast bounds frame, then the staged xy2d walk.
    Key computation is map-side; the one shuffle in a real layout job
    is the final repartitionByRange(hkey) write."""
    top = (1 << bits) - 1
    e = df.where(F.col(dim_a).isNotNull() & F.col(dim_b).isNotNull())
    bounds = e.agg(
        F.min(dim_a).alias("amn"),
        F.max(dim_a).alias("amx"),
        F.min(dim_b).alias("bmn"),
        F.max(dim_b).alias("bmx"),
    )
    scaled = e.crossJoin(F.broadcast(bounds)).select(
        F.col(id_col),
        F.expr(
            f"(({dim_a} - amn) * {top}) DIV GREATEST(amx - amn, 1)"
        ).alias("__hx"),
        F.expr(
            f"(({dim_b} - bmn) * {top}) DIV GREATEST(bmx - bmn, 1)"
        ).alias("__hy"),
    )
    walked = hilbert_stages(scaled, bits, [id_col])
    shift = 2 * bits - (shards.bit_length() - 1)
    return walked.select(
        id_col,
        F.col("__hd").alias("hkey"),
        F.shiftright(F.col("__hd"), shift).alias("shard"),
    )
