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
     broadcasts — the tile table is NEVER shuffled; each tile
     partition streams against the broadcast map. With a huge AOI set
     the same plan degrades gracefully to a shuffled hash join on
     cover_cell (drop the broadcast hint) — still keyed on cell id,
     as the north rule requires.
  2. INTERIOR SHORTCUT: tiles in interior cells are contained by
     construction — the bulk of a large AOI's area never reaches the
     refinement at all.
  3. REFINE (boundary cells only): exact even-odd ray casting. Each
     AOI's edge array rides in a broadcast and the crossing count is a
     per-row array aggregate with the same IEEE float64 expression as
     the NumPy kernel (geometry.points_in_polygon): ONE scan, ONE
     broadcast join, ZERO shuffles, zero Python; whole-stage codegen
     end to end.
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


def pick_cover_res(aois: list[dict], max_cells_per_aoi: int = 2048) -> int:
    """Adaptive covering resolution: fine enough to prune, coarse
    enough that no AOI explodes into more than ~max_cells."""
    max_extent = 1e-9
    for p in aois:
        ring, _ = cells.unwrap_ring(np.asarray(p["ring"], dtype=np.float64))
        max_extent = max(
            max_extent,
            float(ring[:, 0].max() - ring[:, 0].min()),
            float(ring[:, 1].max() - ring[:, 1].min()),
        )
    # cell height at res r is 180/2^r deg; want ~sqrt(max_cells)/2 cells across
    import math

    target = 180.0 / (max_extent / (math.sqrt(max_cells_per_aoi) / 2.0))
    res = int(np.clip(math.floor(math.log2(max(target, 1.0))), 3, TILE_RES))
    return res


def classify_covers(aois: list[dict], cover_res: int) -> list[tuple]:
    """One ``polygon_cover_classified`` result per AOI — factored out
    so a caller needing both the cover DataFrame and the Morton scan
    ranges (pip_join_pruned) computes the covers exactly once."""
    return [
        cells.polygon_cover_classified(
            np.asarray(p["ring"], dtype=np.float64), cover_res, holes=p.get("holes")
        )
        for p in aois
    ]


def build_cover_df(
    spark: SparkSession,
    aois: list[dict],
    cover_res: int,
    classified: list[tuple] | None = None,
) -> DataFrame:
    """Exploded (aoi_id, cover_cell, interior) DataFrame. Cover
    generation is driver-side NumPy: the AOI set is the engine's small
    dimension (SURVEY.md §2.6 G6); at scale with millions of AOIs this
    same construction runs inside mapInArrow over an AOI DataFrame.

    ``interior`` marks cells provably fully inside their polygon —
    tiles landing there skip ray-cast refinement (the bulk of a large
    AOI's area never reaches the crossing count)."""
    if classified is None:
        classified = classify_covers(aois, cover_res)
    elif len(classified) != len(aois):
        # zip would silently drop trailing AOIs from the cover —
        # misuse (a stale precomputed list) must be loud
        raise ValueError(
            f"build_cover_df: classified has {len(classified)} entries "
            f"for {len(aois)} aois"
        )
    ids, cels, ints = [], [], []
    for p, (cover, interior) in zip(aois, classified):
        ids.append(np.full(len(cover), p["aoi_id"], dtype=np.int64))
        cels.append(cover)
        ints.append(interior)
    pdf = pd.DataFrame(
        {
            "aoi_id": np.concatenate(ids) if ids else np.asarray([], dtype=np.int64),
            "cover_cell": np.concatenate(cels) if cels else np.asarray([], dtype=np.int64),
            "interior": np.concatenate(ints) if ints else np.asarray([], dtype=bool),
        }
    )
    return spark.createDataFrame(pdf, schema="aoi_id long, cover_cell long, interior boolean")


def aoi_cell_ranges(
    aois: list[dict],
    cover_res: int | None = None,
    tile_res: int = TILE_RES,
    classified: list[tuple] | None = None,
) -> list[tuple[int, int]]:
    """Merged tile-cell [lo, hi] ranges of the AOI set's union cover —
    the spatial predicate a snapshot table consumes for manifest file
    pruning (``SnapshotTable.read(where={"cell": ranges})``).

    The cover is a superset of every contained tile by construction
    (polygon_cover keeps any cell that may touch the polygon), so a
    PIP join over the pruned read returns exactly the assignments of a
    full-table scan — only the files whose Morton range can't hold an
    AOI tile are never opened. At 10^12-tile scale this is the step
    that turns a city-sized query against a planet-sized table into a
    city-sized scan."""
    cover_res = cover_res or pick_cover_res(aois)
    if classified is None:
        classified = classify_covers(aois, cover_res)
    elif len(classified) != len(aois):
        # short list ⇒ ranges MISS the dropped AOIs' files ⇒ a pruned
        # read would silently lose their assignments
        raise ValueError(
            f"aoi_cell_ranges: classified has {len(classified)} entries "
            f"for {len(aois)} aois"
        )
    covers = [cover for cover, _interior in classified]
    if not covers:
        return []
    union = np.concatenate(covers)
    return [tuple(map(int, r)) for r in cells.cell_ranges(union, cover_res, tile_res)]


def pip_join_pruned(
    spark: SparkSession,
    table,
    aois: list[dict],
    cover_res: int | None = None,
    cell_col: str = "cell",
    **pip_kwargs,
) -> DataFrame:
    """PIP join straight off a snapshot table with spatial pushdown:
    plan the scan from the AOIs' merged Morton ranges (file-granularity
    superset — pip_join's cover join applies the exact predicate), then
    join. Row-identical to ``pip_join(spark, table.read(spark), aois)``
    while opening only the data files whose cell range can intersect an
    AOI; ``table.last_scan`` reports the file counts.

    ``table`` is a SnapshotTable (or anything with the same
    ``read(spark, where=..., residual=...)`` surface) whose rows carry
    a res-TILE_RES ``cell_col``."""
    cover_res = cover_res or pick_cover_res(aois)
    # the covers feed BOTH the scan ranges and the join's cover side —
    # classify once (cover generation is the expensive planning step)
    classified = classify_covers(aois, cover_res)
    ranges = aoi_cell_ranges(aois, cover_res, classified=classified)
    tiles = table.read(spark, where={cell_col: ranges}, residual=False)
    return pip_join(
        spark,
        tiles,
        aois,
        cover_res=cover_res,
        tile_cell_col=cell_col,
        classified_cover=classified,
        **pip_kwargs,
    )


def _dedup_close(ring: np.ndarray) -> np.ndarray:
    if len(ring) >= 2 and ring[0, 0] == ring[-1, 0] and ring[0, 1] == ring[-1, 1]:
        return ring[:-1]
    return ring


def _aoi_rings(p: dict) -> list[tuple[np.ndarray, bool]]:
    """Every ring of an AOI (outer + holes), frame-consistently
    unwrapped and de-closed, each tagged with the shared wrapped flag."""
    outer, hs, wrapped = cells.unwrap_rings(
        np.asarray(p["ring"], dtype=np.float64), p.get("holes")
    )
    return [(_dedup_close(r), wrapped) for r in [outer] + hs]


def build_aoi_edges_df(spark: SparkSession, aois: list[dict]) -> DataFrame:
    """(aoi_id, edges: array<struct<x1,y1,x2,y2>>, wrapped) — one row
    per AOI, edges as an array so the whole polygon rides inside the
    broadcast and the crossing count becomes a map-side array
    aggregate. Horizontal edges are dropped — they never cross under
    the half-open rule (same as the NumPy kernel, where
    (y1 > p) != (y2 > p) is always false for y1 == y2). Antimeridian
    rings carry UNWRAPPED edge lons (+360 on the west side) with
    wrapped=true; candidates shift their lon the same way before the
    crossing test. Hole edges ride the same array (multi-ring even-odd
    parity)."""
    rows = []
    for p in aois:
        es = []
        wrapped = False
        for ring, wrapped in _aoi_rings(p):
            v = len(ring)
            for i in range(v):
                x1, y1 = float(ring[i, 0]), float(ring[i, 1])
                x2, y2 = float(ring[(i + 1) % v, 0]), float(ring[(i + 1) % v, 1])
                if y1 != y2:
                    es.append({"x1": x1, "y1": y1, "x2": x2, "y2": y2})
        rows.append((int(p["aoi_id"]), es, wrapped))
    return spark.createDataFrame(
        rows,
        "aoi_id long, edges array<struct<x1 double, y1 double, x2 double, y2 double>>, "
        "wrapped boolean",
    )


def crossing_count_expr(edges: F.Column, lon: F.Column, lat: F.Column) -> F.Column:
    """Even-odd crossing count as a pure array-aggregate expression —
    the same IEEE float64 arithmetic as geometry.points_in_polygon,
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
    broadcast_cover: bool = True,
    ordered: bool = True,
    classified_cover: list[tuple] | None = None,
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
    cover = build_cover_df(spark, aois, cover_res, classified=classified_cover)
    if broadcast_cover:
        cover = F.broadcast(cover)

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
    coarse = pts.join(cover, "cover_cell")
    # interior cells are provably contained; only boundary-cell tiles
    # pay the exact ray cast (each AOI's edge array rides in the
    # broadcast; the crossing count is a per-row array aggregate)
    aoi_edges = F.broadcast(build_aoi_edges_df(spark, aois))
    lon_adj = F.when(
        F.col("wrapped") & (F.col("lon") < 0.0), F.col("lon") + 360.0
    ).otherwise(F.col("lon"))
    out = (
        coarse.join(aoi_edges, "aoi_id")
        .where(
            F.col("interior")
            | (crossing_count_expr(F.col("edges"), lon_adj, F.col("lat")) % 2 == 1)
        )
        .select("aoi_id", "image_id", "lon", "lat")
    )
    return out.orderBy("aoi_id", "image_id") if ordered else out
