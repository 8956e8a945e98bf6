"""Data-layout keys: Z-order (Morton) interleaving for multi-
dimensional scan pruning.

The Delta OPTIMIZE ZORDER BY / Iceberg sort-order move: a table that
is range-laid-out by ``morton(x, y)`` clusters rows that are close in
BOTH dimensions into the same files/row groups, so a min/max-pruning
reader (parquet row-group stats, Iceberg file bounds) skips most of
the table for a 2-D box predicate — where a single-key sort only
prunes on its leading column. At the 10^12-row design point layout IS
the difference between a selective query reading gigabytes or reading
everything; COVERAGE.md records the measured row-group-pruning
evidence on real parquet footers.

The key is pure integer bit-interleaving (no UDF, no float), identical
in Spark and DuckDB, so the registered query oracles bit-for-bit.
Negative or over-range inputs are clamped into the ``bits``-wide box —
layout keys order data, they never need to be injective.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: default per-dimension resolution: 16 bits -> 32-bit morton key
MORTON_BITS = 16


def _clamp(c: Column, bits: int) -> Column:
    hi = (1 << bits) - 1
    return F.least(F.greatest(c.cast("bigint"), F.lit(0)), F.lit(hi))


def morton_key_expr(x: Column, y: Column, bits: int = MORTON_BITS) -> Column:
    """Interleave the low ``bits`` bits of two non-negative ints:
    bit ``i`` of x lands at position ``2i``, bit ``i`` of y at
    ``2i + 1``. Plain shift/mask expression tree (map-only, codegen'd;
    2*bits terms)."""
    if not 1 <= bits <= 31:
        raise ValueError("bits must be in [1, 31]")
    cx, cy = _clamp(x, bits), _clamp(y, bits)
    terms = []
    for i in range(bits):
        terms.append(
            F.shiftleft(F.shiftright(cx, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        terms.append(
            F.shiftleft(F.shiftright(cy, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out.cast("bigint")


def morton_key_sql(x: str, y: str, bits: int = MORTON_BITS) -> str:
    """DuckDB replay of :func:`morton_key_expr` (same clamp, same
    interleave)."""
    hi = (1 << bits) - 1
    cx = f"least(greatest(CAST({x} AS BIGINT), 0), {hi})"
    cy = f"least(greatest(CAST({y} AS BIGINT), 0), {hi})"
    terms = []
    for i in range(bits):
        terms.append(f"((({cx} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({cy} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")::BIGINT"


def zorder_layout(
    df: DataFrame,
    x_col: str,
    y_col: str,
    *,
    bits: int = MORTON_BITS,
    n_files: int | None = None,
    key_col: str = "zkey",
) -> DataFrame:
    """Tag rows with the morton key and (optionally) range-partition by
    it — the write-side layout step: ``zorder_layout(df, "a", "b",
    n_files=64).write.parquet(...)`` produces files whose (a, b)
    bounding boxes are small, which is what min/max pruning consumes.
    """
    out = df.withColumn(
        key_col, morton_key_expr(F.col(x_col), F.col(y_col), bits)
    )
    if n_files is not None:
        out = out.repartitionByRange(n_files, key_col)
    return out
