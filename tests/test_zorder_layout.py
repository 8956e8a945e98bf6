"""Z-order layout keys (functions/layout.py): bit-interleave
correctness vs an independent Python reference, clamping, and the
locality property pruning relies on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from operator_zoo.functions.layout import (
    morton_key_expr,
    zorder_layout,
)


def _ref_morton(x: int, y: int, bits: int = 16) -> int:
    x = min(max(x, 0), (1 << bits) - 1)
    y = min(max(y, 0), (1 << bits) - 1)
    out = 0
    for i in range(bits):
        out |= ((x >> i) & 1) << (2 * i)
        out |= ((y >> i) & 1) << (2 * i + 1)
    return out


def test_morton_matches_reference(spark):
    pts = [
        (0, 0), (1, 0), (0, 1), (1, 1), (3, 5), (5, 3),
        (65535, 65535), (65535, 0), (12345, 54321), (-7, 4), (99999, 2),
    ]
    df = spark.createDataFrame(pts, "x long, y long")
    got = df.select(
        "x", "y", morton_key_expr(F.col("x"), F.col("y")).alias("k")
    ).collect()
    for r in got:
        assert r["k"] == _ref_morton(r["x"], r["y"]), (r["x"], r["y"])


def test_morton_validation_and_layout(spark):
    with pytest.raises(ValueError, match="bits"):
        morton_key_expr(F.lit(1), F.lit(1), bits=0)
    df = spark.createDataFrame(
        [(i, i % 7, (i * 3) % 11) for i in range(100)], "id long, x long, y long"
    )
    out = zorder_layout(df, "x", "y", n_files=4)
    assert out.rdd.getNumPartitions() == 4
    rows = out.collect()
    assert len(rows) == 100
    for r in rows:
        assert r["zkey"] == _ref_morton(r["x"], r["y"])


def test_morton_locality(spark):
    """Points in a small 2-D box land in a bounded morton range —
    the property min/max pruning exploits. The [4,7]x[4,7] quadrant
    is exactly morton range [_ref(4,4), _ref(7,7)]."""
    df = spark.createDataFrame(
        [(x, y) for x in range(16) for y in range(16)], "x long, y long"
    )
    got = df.select(
        "x", "y", morton_key_expr(F.col("x"), F.col("y")).alias("k")
    ).collect()
    lo, hi = _ref_morton(4, 4), _ref_morton(7, 7)
    for r in got:
        inside = 4 <= r["x"] <= 7 and 4 <= r["y"] <= 7
        if inside:
            assert lo <= r["k"] <= hi
