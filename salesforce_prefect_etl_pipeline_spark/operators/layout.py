"""Data-layout operators: multi-dimensional clustering keys.

At 100 TB the dominant cost of a selective query is how much data the
scan can SKIP. Partitioning prunes on one column; a Z-order
(Morton-curve) key extends that to several: interleaving the bits of
two dimensions gives a single sort key under which rows close in BOTH
dimensions land in the same files, so min/max file statistics prune
range predicates on EITHER column. This is the same technique Delta's
``OPTIMIZE ZORDER BY`` and Iceberg's sort orders apply; here it is a
pure Column expression feeding ``repartitionByRange(zkey)`` +
``sortWithinPartitions(zkey)`` before a parquet write.

The key is exact bit arithmetic (shifts, masks, adds) on the low
``bits`` bits of each dimension — order-independent, engine-independent,
and SQL-replayable, so the layout derivation itself is oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def zorder_key(
    x: Column, y: Column, bits: int = 16, check_bounds: bool = True
) -> Column:
    """Morton interleave of the low ``bits`` bits of two non-negative
    integer dimensions: bit i of x lands at position 2i, bit i of y at
    2i+1. 2 x 16 bits fits comfortably in a long. Callers bucket
    continuous dimensions first (e.g. ``F.floor(value)`` or an epoch
    hour) — the curve needs bounded integer coordinates.

    A coordinate outside [0, 2^bits) would have its high bits silently
    discarded, aliasing distant rows onto the same curve position —
    min/max pruning on that dimension then quietly stops working while
    every value-hash still matches. With ``check_bounds`` (the default)
    an out-of-range coordinate raises instead: a per-row comparison
    against two literals, negligible next to the interleave itself.
    Disable only for inputs bounded by construction."""
    xs = x.cast("long")
    ys = y.cast("long")
    key = F.lit(0).cast("long")
    for i in range(bits):
        key = key + F.shiftright(xs, i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * i)
        )
        key = key + F.shiftright(ys, i).bitwiseAND(F.lit(1)) * F.lit(
            1 << (2 * i + 1)
        )
    if check_bounds:
        bound = F.lit(1 << bits).cast("long")
        oob = (xs < 0) | (xs >= bound) | (ys < 0) | (ys >= bound)
        key = F.when(
            oob,
            F.raise_error(
                F.concat(
                    F.lit(
                        f"zorder_key: coordinate out of [0, {1 << bits})"
                        f" for bits={bits}: x="
                    ),
                    xs.cast("string"),
                    F.lit(" y="),
                    ys.cast("string"),
                    F.lit(" — widen bits or range-bucket the dimension"),
                )
            ).cast("long"),
        ).otherwise(key)
    return key


def zorder_key_sql(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`zorder_key` — the identical shift/mask sum."""
    terms = []
    for i in range(bits):
        terms.append(f"((({x_expr}) >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"((({y_expr}) >> {i}) & 1) * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"

