"""Z-order (Morton) clustering for multi-dimensional data skipping.

A 100 TB table pruned by ONE sort key skips files only for predicates
on that key.  Interleaving the bits of two (or more) bucketized keys
into a Morton code and range-partitioning + sorting by it gives every
file a TIGHT min/max envelope in EVERY interleaved dimension, so
parquet footer stats prune scans for predicates on any of them --
the layout trick behind Delta/Iceberg OPTIMIZE ZORDER, built here from
plain Spark primitives:

    df.repartitionByRange(N, zval).sortWithinPartitions(zval)

Bucketization maps each dimension to a fixed-width integer grid
(bits per dim), clamped to the grid edge; the z-value interleaves the
bit planes.  Everything is pure integer arithmetic on row values --
deterministic across engines, so the layout-quality query carries a
DuckDB oracle that replays the identical interleave.

Design notes for scale:
 - The grid needs each dimension's (lo, hi) -- table-level constants
   (catalog statistics at 100 TB, one cheap min/max aggregate here).
 - repartitionByRange samples the z-value to pick balanced boundaries;
   the sort is per-partition, never global single-task.
 - 16 bits/dim (65536 cells/dim) is plenty: file-level skipping needs
   file-count resolution, not row resolution.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_BITS = 16


def grid_expr(col: Column, lo: float, hi: float, bits: int = DEFAULT_BITS) -> Column:
    """Map a numeric column onto the [0, 2^bits) integer grid.
    Clamps to the edges; constant range (hi == lo) collapses to cell 0."""
    cells = 1 << bits
    width = (hi - lo) / cells or 1.0
    cell = F.floor((col - F.lit(lo)) / F.lit(width)).cast("long")
    return F.greatest(F.lit(0), F.least(F.lit(cells - 1), cell))


def interleave_expr(a: Column, b: Column, bits: int = DEFAULT_BITS) -> Column:
    """Morton code of two grid cells: bit i of `a` lands at 2i+1, bit i
    of `b` at 2i.  A chain of shift/mask terms -- whole-stage codegen
    folds it into straight-line integer ops (no UDF)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (z
             + (a.bitwiseAND(F.lit(1 << i)) * F.lit(1 << (i + 1)))
             + (b.bitwiseAND(F.lit(1 << i)) * F.lit(1 << i)))
    return z


def interleave_sql(a: str, b: str, bits: int = DEFAULT_BITS) -> str:
    """The identical Morton code in portable SQL (DuckDB oracle)."""
    terms = []
    for i in range(bits):
        terms.append(f"(({a} & {1 << i}) * {1 << (i + 1)})")
        terms.append(f"(({b} & {1 << i}) * {1 << i})")
    return "(" + " + ".join(terms) + ")"
