"""Two-level "cell" rank: a global (or per-partition) rank or running sum
that never sorts the data in one task.

A bare `Window.orderBy(...)` row_number funnels every row through ONE
task — a non-starter at 10^10 rows — and a window keyed by a skewed
group (a hot host, a mass of tied scores) is the same hazard at group
scale: one unbounded hot cell sets the wall time of the whole stage
(DS2, ICDE 2021). The rank is therefore decomposed:

  * the caller maps each row to a CELL — a tuple of columns whose
    ascending order (Spark's: nulls first) is a monotone coarsening of
    the full order, so every row of an earlier cell outranks every row
    of a later cell;
  * per-cell sizes (counts, or weight sums) are running-summed over the
    metadata-sized cell frame (`cell_offsets`);
  * the offsets join back to the rows and a window partitioned by the
    cell re-sorts by the FULL order, so ties and the coarsening never
    change the result: rank = cell offset + in-cell rank.

Cells must be bounded for the decomposition to pay: `quantize` maps a
value range onto at most CELLS cells, and a caller splits a cell by a
second key only under a single first-key value (otherwise the split
would interleave first-key values out of order). This module is the
only place in the library where a partition-less `Window` over data
may appear, and it only ever runs over the cell frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# cells per quantized key: ≤ CELLS^2 rows in a two-key offsets frame
CELLS = 256


def quantize(x: str, lo: str, hi: str) -> Column:
    """Integer cell of SQL expression `x` in [lo, hi], at most CELLS
    cells (ceil-width ranges; trunc-div by a positive width is monotone)."""
    return F.expr(f"({x} - {lo}) div (({hi} - {lo} + {CELLS}) div {CELLS})")


def desc_cell(c: str) -> Column:
    """Ascending cell of a key that sorts DESC: the negation, with NULL
    (last under DESC) mapped to the last cell."""
    return F.coalesce(-F.col(c).cast("long"), F.lit((1 << 63) - 1))


def cell_offsets(size: str, cells, part=()) -> Column:
    """Exclusive running sum of `size` in ascending cell order, within
    `part` — evaluate it over the cell frame, never over data."""
    w = (
        Window.partitionBy(*part)
        .orderBy(*cells)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return F.coalesce(F.sum(size).over(w), F.lit(0))


def cell_rank(
    df: DataFrame, cells, order, *, part=(), weight: str | None = None
) -> DataFrame:
    """`df` plus `_off` (rows — or `weight` — in earlier cells of the
    same `part`) and `_rank`: the 1-based row_number, or the inclusive
    running `weight` sum, in `order` within `part`. `order` must be the
    full order; the cell columns only coarsen it.

    The offsets join is null-safe, so a NULL cell key is a cell like any
    other; it broadcasts only without `part`, the one case where the
    number of cells is bounded by construction. `_off` sits in the
    in-cell window's partition spec so a caller's `_off < k` filter is
    pushed to the cell frame, before the join and the window."""
    keys = [*part, *cells]
    size = F.count("*") if weight is None else F.sum(weight)
    offsets = (
        df.groupBy(*keys)
        .agg(size.alias("_n"))
        .select(
            *[F.col(c).alias(f"_k{i}") for i, c in enumerate(keys)],
            cell_offsets("_n", cells, part).alias("_off"),
        )
    )
    if not part:
        offsets = F.broadcast(offsets)
    on = [F.col(c).eqNullSafe(F.col(f"_k{i}")) for i, c in enumerate(keys)]
    w = Window.partitionBy(*keys, "_off").orderBy(*order)
    if weight is None:
        step = F.row_number().over(w)
    else:
        step = F.sum(weight).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        df.join(offsets, on)
        .drop(*[f"_k{i}" for i in range(len(keys))])
        .withColumn("_rank", F.col("_off") + step)
    )
