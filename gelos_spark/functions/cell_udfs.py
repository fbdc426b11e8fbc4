"""Spark column expressions for the cell-index kernels.

No Python UDF lives here (input_hint: "no per-row Python"): lon/lat
-> cell encoding and everything hierarchical (parent/prefix
arithmetic is bit-shifting) are pure column expressions that stay
JVM-side in whole-stage codegen, bit-identical to the NumPy kernels
in functions/cells.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


_SPREAD_STEPS = (
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


def _spread_col(v: Column) -> Column:
    for sh, m in _SPREAD_STEPS:
        v = v.bitwiseOR(F.shiftleft(v, sh)).bitwiseAND(F.lit(m))
    return v


def cell_encode_col(lon: Column, lat: Column, res: int) -> Column:
    """(lon, lat) -> int64 Morton cell id as a PURE column expression —
    the hot-path encoder. The bit-spread chain is shifts/masks that stay
    JVM-side inside whole-stage codegen (no Python worker), producing
    bit-identical ids to functions/cells.cell_encode (same IEEE floor
    sequence, same masks; verified in tests/test_cells.py)."""
    n = 1 << res
    lon_n = F.pmod(lon + F.lit(180.0), F.lit(360.0)) - F.lit(180.0)
    x = F.floor((lon_n + F.lit(180.0)) / F.lit(360.0) * F.lit(float(n)))
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(float(n)))
    x = F.greatest(F.lit(0), F.least(F.lit(n - 1), x))
    y = F.greatest(F.lit(0), F.least(F.lit(n - 1), y))
    return _spread_col(x).bitwiseOR(F.shiftleft(_spread_col(y), 1))


def cell_parent_col(cell: Column, res: int, parent_res: int) -> Column:
    """Ancestor prefix as a pure column expression (no UDF): the
    quadtree makes 'covering cell at res R' a right-shift."""
    return F.shiftrightunsigned(cell, 2 * (res - parent_res))


def cell_child_pos_col(cell: Column) -> Column:
    """Quad position (0..3) within the parent: bit0=x, bit1=y."""
    return cell.bitwiseAND(F.lit(3))
