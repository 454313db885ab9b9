"""Spatial blocked joins: the grid-cell instance of the bucketed-join
family (interval buckets for time, LSH buckets for vectors, grid cells
for space). Integer-plane geometry keeps every predicate exact int64
arithmetic; the same cell decomposition applies to lat/lon with
degree-sized cells and a haversine residual.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def grid_radius_join(
    left: DataFrame,
    right: DataFrame,
    radius: int,
    left_cols: tuple[str, str, str] = ("id_l", "xl", "yl"),
    right_cols: tuple[str, str, str] = ("id_r", "xr", "yr"),
) -> DataFrame:
    """All (left, right) pairs with squared Euclidean distance
    ≤ radius² on integer coordinates. Returns
    ``(id_l, xl, yl, id_r, xr, yr, dist2)``.

    Scale shape: the RIGHT side buckets once into radius-sized grid
    cells (map-only); only the LEFT side replicates ×9 into its cell's
    3×3 neighborhood. A radius-R disc centered anywhere in an R-sized
    cell cannot leave that 3×3 patch, so the candidate set is provably
    complete; the join is a plain shuffled EQUI join on the cell key
    plus an exact int64 residual filter. Candidate volume is
    Σ (left cell occupancy × right 3×3 occupancy) — never
    |left|×|right| — and a hot cell is an ordinary skewed equi key
    (AQE splits it)."""
    il, xl, yl = left_cols
    ir, xr, yr = right_cols

    def gcell(col: str):
        # FLOOR division (Spark DIV truncates toward zero, which would
        # merge cells -1 and 0 for negative coordinates): subtract the
        # always-non-negative pmod first, then the exact DIV is floor.
        return F.expr(f"(({col}) - pmod({col}, {radius})) DIV {radius}")

    r9 = right.select(
        ir, xr, yr, gcell(xr).alias("gx"), gcell(yr).alias("gy")
    )
    neighbors = F.array(
        *[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in (-1, 0, 1)
            for dy in (-1, 0, 1)
        ]
    )
    l9 = left.select(il, xl, yl, F.explode(neighbors).alias("nb")).select(
        il, xl, yl,
        (gcell(xl) + F.col("nb.dx")).alias("gx"),
        (gcell(yl) + F.col("nb.dy")).alias("gy"),
    )
    # Squares in LONG regardless of input width: int32 coordinates with
    # ~1e5 spread overflow at dx*dx (ANSI mode: job-killing
    # ARITHMETIC_OVERFLOW; legacy mode: silent wraparound and wrong
    # pairs) — the docstring's "exact int64 arithmetic" claim only
    # holds if the cast happens before the multiply (review r8).
    dx = (F.col(xl) - F.col(xr)).cast("long")
    dy = (F.col(yl) - F.col(yr)).cast("long")
    d2 = dx * dx + dy * dy
    return (
        l9.join(r9, ["gx", "gy"])
        .filter(d2 <= F.lit(int(radius) * int(radius)))
        .select(il, xl, yl, ir, xr, yr, d2.cast("long").alias("dist2"))
    )
