"""Point-in-polygon spatial join: cell-prefix coarse join + exact
ray-cast refinement (SURVEY.md §2.3 J4; north rule: "point-in-polygon
assignment of tile centroids to AOI polygons via cell-prefix hash
join with ray-casting refinement").

Three-phase plan, designed for the 10^12-tile scale:

  1. COARSE: each AOI polygon is covered by quadtree cells at an
     adaptive resolution, each cover cell classified INTERIOR (whole
     cell provably inside) or boundary
     (functions/cells.polygon_cover_classified). The exploded
     (aoi_id, cover_cell, interior) table is tiny relative to tiles,
     so the join `tiles JOIN cover ON tile_cell_prefix = cover_cell`
     always broadcasts — the tile table is NEVER shuffled; each tile
     partition streams against the broadcast map. The cover is built
     as a pandas frame on the driver, so any cover that fits there
     fits a broadcast.
  2. INTERIOR SHORTCUT: tiles in interior cells are contained by
     construction — the bulk of a large AOI's area never reaches the
     refinement at all.
  3. REFINE (boundary cells only): exact even-odd ray casting. Each
     boundary cover row carries its OWN edge list — only the AOI edges
     whose latitude span overlaps the cell's row band (plus a tiny
     slack) — in the one cover broadcast, and the crossing count is a
     per-row array aggregate with the same IEEE float64 expression as
     the NumPy ray-cast oracle (tests/oracles.py): ONE scan, ONE
     broadcast join, ZERO shuffles, zero Python. A dropped edge lies
     wholly above or below every point the cell can hold, so its
     ``(y1 > lat) != (y2 > lat)`` term is false and the count is
     unchanged; interior rows carry an empty list.
     Only (lon, lat, aoi_id) columns flow through the join — the
     image payload stays out of the shuffle entirely and is
     re-attached by image_id afterwards if the caller needs it
     (SURVEY.md §3.3 design rule).

Determinism: cover affects only performance (refinement is exact and
the interior shortcut only covers cells where ray-cast would return
true for every point); output is `orderBy(aoi_id, image_id)` with no
floating-point reductions, so results are identical at any
parallelism level and match the NumPy brute-force oracles
(tests/test_pip_join.py).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gelos_spark.functions import cells
from gelos_spark.functions.cell_udfs import cell_encode_col, cell_parent_col

TILE_RES = 16  # fine tile cell resolution (~600 m cells); prefix-shifts to any coarser res
_EDGE_FIELDS = ("x1", "y1", "x2", "y2")  # one edge; order of _aoi_edges' columns


def pick_cover_res(aois: list[dict]) -> int:
    """Adaptive covering resolution: fine enough to prune, coarse
    enough that no AOI explodes into more than ~2048 cells."""
    max_extent = 1e-9
    for p in aois:
        ring, _ = cells.unwrap_ring(np.asarray(p["ring"], dtype=np.float64))
        max_extent = max(
            max_extent,
            float(ring[:, 0].max() - ring[:, 0].min()),
            float(ring[:, 1].max() - ring[:, 1].min()),
        )
    # cell height at res r is 180/2^r deg; want ~sqrt(2048)/2 cells across
    import math

    target = 180.0 / (max_extent / (math.sqrt(2048) / 2.0))
    res = int(np.clip(math.floor(math.log2(max(target, 1.0))), 3, TILE_RES))
    return res


def build_cover_df(spark: SparkSession, aois: list[dict], cover_res: int) -> DataFrame:
    """Exploded (aoi_id, cover_cell, interior, wrapped, edges) DataFrame.
    Cover generation is driver-side NumPy: the AOI set is the engine's
    small dimension (SURVEY.md §2.6 G6); at scale with millions of AOIs
    this same construction runs inside mapInArrow over an AOI DataFrame.

    ``interior`` marks cells provably fully inside their polygon —
    tiles landing there skip ray-cast refinement (the bulk of a large
    AOI's area never reaches the crossing count). A boundary row's
    ``edges`` (array<struct<x1, y1, x2, y2>>) holds the AOI's edges
    that can cross a point of the cell's row band (_cell_edges);
    ``wrapped`` marks antimeridian AOIs, whose edge lons are unwrapped.
    The frame is built in pandas with array<double> columns so it goes
    through Arrow; the structs are zipped JVM-side."""
    parts = []
    for p in aois:
        cover, interior = cells.polygon_cover_classified(
            np.asarray(p["ring"], dtype=np.float64), cover_res, holes=p.get("holes")
        )
        edges, wrapped = _aoi_edges(p)
        kept = [edges[keep] for keep in _cell_edges(edges, cover, interior, cover_res)]
        parts.append(pd.DataFrame({
            "aoi_id": np.full(len(cover), p["aoi_id"], dtype=np.int64),
            "cover_cell": cover,
            "interior": interior,
            "wrapped": wrapped,
            **{k: [e[:, j] for e in kept] for j, k in enumerate(_EDGE_FIELDS)},
        }))
    cover_df = spark.createDataFrame(
        pd.concat(parts, ignore_index=True) if parts
        else pd.DataFrame(columns=["aoi_id", "cover_cell", "interior", "wrapped", *_EDGE_FIELDS]),
        schema="aoi_id long, cover_cell long, interior boolean, wrapped boolean, "
        "x1 array<double>, y1 array<double>, x2 array<double>, y2 array<double>",
    )
    return cover_df.select(
        "aoi_id", "cover_cell", "interior", "wrapped",
        F.arrays_zip(*_EDGE_FIELDS).alias("edges"),
    )


def _dedup_close(ring: np.ndarray) -> np.ndarray:
    if len(ring) >= 2 and ring[0, 0] == ring[-1, 0] and ring[0, 1] == ring[-1, 1]:
        return ring[:-1]
    return ring


def _aoi_edges(p: dict) -> tuple[np.ndarray, bool]:
    """(n, 4) float64 [x1, y1, x2, y2] edges of every ring of an AOI
    (outer + holes, frame-consistently unwrapped, each closed on
    itself), plus its wrapped flag. Horizontal edges are dropped — they
    never cross under the half-open rule (same as the NumPy kernel,
    where (y1 > p) != (y2 > p) is always false for y1 == y2).
    Antimeridian rings carry UNWRAPPED edge lons (+360 on the west
    side); candidates shift their lon the same way before the crossing
    test. Hole edges sit in the same array (multi-ring even-odd
    parity)."""
    outer, hs, wrapped = cells.unwrap_rings(
        np.asarray(p["ring"], dtype=np.float64), p.get("holes")
    )
    rings = [_dedup_close(r) for r in [outer] + hs]
    e = np.concatenate([np.concatenate([r, np.roll(r, -1, axis=0)], axis=1) for r in rings])
    return e[e[:, 1] != e[:, 3]], wrapped


def _cell_edges(
    edges: np.ndarray, cover: np.ndarray, interior: np.ndarray, cover_res: int
) -> np.ndarray:
    """(cells, edges) keep-mask: an edge stays on a boundary cell's row
    iff its latitude span overlaps the cell's row band, padded by a
    slack far above the rounding of the tile-cell encoder. Any other
    edge lies wholly above or below every point the cell can hold, so
    its crossing term is false. The grid's top and bottom rows stay
    unbounded (the encoder clamps out-of-range latitudes into them);
    interior cells keep no edges (they are never ray-cast)."""
    n = 1 << cover_res
    h = 180.0 / n
    _, y = cells.cell_to_xy(cover)
    lo = np.where(y == 0, -np.inf, -90.0 + y * h - 1e-6 * h)
    hi = np.where(y == n - 1, np.inf, -90.0 + (y + 1) * h + 1e-6 * h)
    ymin = np.minimum(edges[:, 1], edges[:, 3])
    ymax = np.maximum(edges[:, 1], edges[:, 3])
    return (ymax >= lo[:, None]) & (ymin <= hi[:, None]) & ~interior[:, None]


def crossing_count_expr(edges: F.Column, lon: F.Column, lat: F.Column) -> F.Column:
    """Even-odd crossing count as a pure array-aggregate expression —
    the same IEEE float64 arithmetic as the NumPy ray-cast oracle,
    evaluated JVM-side per row with NO join and NO shuffle."""
    def step(acc: F.Column, e: F.Column) -> F.Column:
        crossing = ((e["y1"] > lat) != (e["y2"] > lat)) & (
            lon < (e["x2"] - e["x1"]) * (lat - e["y1"]) / (e["y2"] - e["y1"]) + e["x1"]
        )
        return acc + F.when(crossing, F.lit(1)).otherwise(F.lit(0))

    return F.aggregate(edges, F.lit(0), step)


def pip_join(
    spark: SparkSession,
    tiles: DataFrame,
    aois: list[dict],
    cover_res: int | None = None,
    tile_cell_col: str | None = None,
    ordered: bool = True,
) -> DataFrame:
    """Assign every tile centroid to each AOI polygon containing it.

    tiles: DataFrame with (image_id, lon, lat [, cell]) — pass
    ``tile_cell_col`` naming a precomputed res-TILE_RES cell column to
    skip re-encoding (the base table stores one; SURVEY.md §1.4).
    Returns (aoi_id, image_id, lon, lat), one row per containment,
    ordered (aoi_id, image_id) when ``ordered`` (the comparable-output
    contract); pass ordered=False for pipeline sinks where row-SET
    equality is what's verified — a global sort of the assignment
    table is wasted shuffle at 10^12-tile scale.
    """
    cover_res = cover_res or pick_cover_res(aois)
    cover = F.broadcast(build_cover_df(spark, aois, cover_res))

    if tile_cell_col is None:
        # pure JVM column expression — the coarse phase runs entirely in
        # whole-stage codegen
        tiles = tiles.withColumn("_cell", cell_encode_col(F.col("lon"), F.col("lat"), TILE_RES))
        tile_cell_col = "_cell"
    pts = tiles.select(
        "image_id",
        "lon",
        "lat",
        cell_parent_col(F.col(tile_cell_col), TILE_RES, cover_res).alias("cover_cell"),
    )
    # interior cells are provably contained; only boundary-cell tiles
    # pay the exact ray cast over their cover row's edge list (the
    # crossing count is a per-row array aggregate)
    lon_adj = F.when(
        F.col("wrapped") & (F.col("lon") < 0.0), F.col("lon") + 360.0
    ).otherwise(F.col("lon"))
    out = (
        pts.join(cover, "cover_cell")
        .where(
            F.col("interior")
            | (crossing_count_expr(F.col("edges"), lon_adj, F.col("lat")) % 2 == 1)
        )
        .select("aoi_id", "image_id", "lon", "lat")
    )
    return out.orderBy("aoi_id", "image_id") if ordered else out
