"""Planar + spherical geometry kernels: ray-cast PIP, haversine.

Point-in-polygon uses the classic even-odd crossing test with the
half-open edge rule ((y1 > p) != (y2 > p) and the strict x
comparison), which is deterministic for points on edges/vertices —
required for the exact-output-match criterion (SURVEY.md §7.3).
``points_in_rings`` is the NumPy kernel (points x edges, summed over
an outer ring and its holes); ``pip_sql`` writes the same test as SQL
for DuckDB oracles, and pip_join's crossing count evaluates it as a
JVM array aggregate.

Haversine exists in two forms with identical results:
  - ``haversine_col``: a pure Spark column expression (JVM-side,
    whole-stage codegen — the fast path for the kNN secondary sort);
  - ``haversine_np``: the NumPy twin used by oracle tests.
Both compute the identical formula in float64.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

EARTH_RADIUS_KM = 6371.0088


def points_in_rings(px: np.ndarray, py: np.ndarray, rings: list) -> np.ndarray:
    """Even-odd containment for a multi-ring polygon (outer ring +
    holes): crossings are summed across ALL rings, odd total = inside.
    Each ring is closed independently (no spurious edge between the
    outer ring's last vertex and a hole's first). With a single ring
    this equals the single-ring oracle in tests/oracles.py exactly."""
    total = np.zeros(len(np.asarray(px)), dtype=np.int64)
    for ring in rings:
        ring = np.asarray(ring, dtype=np.float64)
        if len(ring) >= 2 and ring[0, 0] == ring[-1, 0] and ring[0, 1] == ring[-1, 1]:
            ring = ring[:-1]
        x1, y1 = ring[:, 0], ring[:, 1]
        x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
        pxa = np.asarray(px, dtype=np.float64)
        pya = np.asarray(py, dtype=np.float64)
        cond = (y1[None, :] > pya[:, None]) != (y2[None, :] > pya[:, None])
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x2 - x1)[None, :] * (pya[:, None] - y1[None, :]) / (y2 - y1)[
                None, :
            ] + x1[None, :]
        total += (cond & (pxa[:, None] < xint)).sum(axis=1)
    return (total % 2).astype(bool)


def haversine_np(
    lon1: np.ndarray, lat1: np.ndarray, lon2: np.ndarray, lat2: np.ndarray
) -> np.ndarray:
    """Great-circle distance in km (float64, sphere R=6371.0088)."""
    lon1 = np.radians(np.asarray(lon1, dtype=np.float64))
    lat1 = np.radians(np.asarray(lat1, dtype=np.float64))
    lon2 = np.radians(np.asarray(lon2, dtype=np.float64))
    lat2 = np.radians(np.asarray(lat2, dtype=np.float64))
    a = (
        np.sin((lat2 - lat1) / 2.0) ** 2
        + np.cos(lat1) * np.cos(lat2) * np.sin((lon2 - lon1) / 2.0) ** 2
    )
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


def haversine_col(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Haversine as a pure column expression (no UDF — SURVEY.md §2.6
    G8). Same formula/order of operations as ``haversine_np``."""
    rlon1, rlat1 = F.radians(lon1), F.radians(lat1)
    rlon2, rlat2 = F.radians(lon2), F.radians(lat2)
    a = F.pow(F.sin((rlat2 - rlat1) / 2.0), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(
        F.sin((rlon2 - rlon1) / 2.0), 2
    )
    return 2.0 * F.lit(EARTH_RADIUS_KM) * F.asin(F.sqrt(a))


def haversine_sql(lon1: str, lat1: str, lon2: str, lat2: str) -> str:
    """The identical formula as ANSI SQL text, for DuckDB oracles."""
    r = "radians"
    return (
        f"2.0 * {EARTH_RADIUS_KM} * asin(sqrt("
        f"pow(sin(({r}({lat2}) - {r}({lat1})) / 2.0), 2) + "
        f"cos({r}({lat1})) * cos({r}({lat2})) * "
        f"pow(sin(({r}({lon2}) - {r}({lon1})) / 2.0), 2)))"
    )


def pip_sql(lon_expr: str, lat_expr: str, ring: "np.ndarray | list") -> str:
    """Codegen the even-odd crossing test for a LITERAL polygon as an
    ANSI-SQL boolean expression (for DuckDB PIP oracles). Uses only
    +,-,*,/ and comparisons — IEEE-deterministic, so DuckDB and Spark
    produce bit-identical booleans for the same points."""
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) >= 2 and ring[0, 0] == ring[-1, 0] and ring[0, 1] == ring[-1, 1]:
        ring = ring[:-1]
    terms = []
    v = len(ring)
    for i in range(v):
        x1, y1 = float(ring[i, 0]), float(ring[i, 1])
        x2, y2 = float(ring[(i + 1) % v, 0]), float(ring[(i + 1) % v, 1])
        if y1 == y2:
            continue  # horizontal edge never crosses under the half-open rule
        terms.append(
            f"(CASE WHEN (({y1!r} > {lat_expr}) != ({y2!r} > {lat_expr})) AND "
            f"({lon_expr} < ({x2!r} - {x1!r}) * ({lat_expr} - {y1!r}) / ({y2!r} - {y1!r}) + {x1!r}) "
            f"THEN 1 ELSE 0 END)"
        )
    if not terms:
        return "FALSE"
    return f"(({' + '.join(terms)}) % 2 = 1)"
