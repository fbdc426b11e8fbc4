"""Hierarchical quadtree cell index over WGS84 lon/lat — pure NumPy.

The engine's "geo -> code" primitive (the role the reference's
LocationEncoder plays for model inputs, models/prithvi_eo_v2.py:
203-229): a deterministic, vectorized mapping from (lon, lat) to a
64-bit cell id at a resolution ``res``. Design per SURVEY.md §7.0: an
S2/H3-style hierarchical index implemented as a Morton (Z-order)
quadtree on the equirectangular lon/lat grid.

  - res r splits the world into 2^r x 2^r cells
    (x over lon [-180, 180), y over lat [-90, 90]).
  - cell id  = bit-interleave(x, y)  (x in even bits), 2r bits total.
  - parent   = id >> 2      -- trivial prefix hierarchy, so a join on
    "covering cell at res R" is `child_id >> 2*(res-R)` — a pure
    column expression, no UDF, usable as a partition/bucket key.
  - neighbors/rings are grid arithmetic (wrap in x, clamp in y).

MAX_RES = 26 keeps ids in the positive int64 range (52 bits); at
res 26 a cell is ~0.6m x 0.3m at the equator — far below tile size
at 10^12-image scale, so the hierarchy covers every zoom the pyramid
(operators/pyramid.py) needs.

All kernels take/return NumPy arrays and run on the driver or inside
the operators' vectorized UDFs; none contain per-row Python.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 26
# conservative km per degree of latitude (minimum over the WGS84 meridian)
KM_PER_DEG_LAT_MIN = 110.567


def _spread_bits(v: np.ndarray) -> np.ndarray:
    """Interleave zeros between the low 26 bits of v (uint64 in/out)."""
    v = v.astype(np.uint64)
    v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
    v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
    return v


def _compact_bits(v: np.ndarray) -> np.ndarray:
    v = v.astype(np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def lonlat_to_xy(lon: np.ndarray, lat: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    n = 1 << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    # normalize lon into [-180, 180)
    lon = ((lon + 180.0) % 360.0) - 180.0
    x = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    y = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    np.clip(x, 0, n - 1, out=x)
    np.clip(y, 0, n - 1, out=y)
    return x, y


def xy_to_cell(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return (_spread_bits(np.asarray(x)) | (_spread_bits(np.asarray(y)) << np.uint64(1))).astype(
        np.int64
    )


def cell_to_xy(cell: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    c = np.asarray(cell).astype(np.uint64)
    return _compact_bits(c).astype(np.int64), _compact_bits(c >> np.uint64(1)).astype(np.int64)


def cell_encode(lon: np.ndarray, lat: np.ndarray, res: int) -> np.ndarray:
    """(lon, lat) -> int64 Morton cell id at resolution ``res``."""
    if not 0 <= res <= MAX_RES:
        raise ValueError(f"res must be in [0, {MAX_RES}]")
    x, y = lonlat_to_xy(lon, lat, res)
    return xy_to_cell(x, y)


def _range_offsets(r0: int, r1: int) -> np.ndarray:
    """(dx, dy) offsets with Chebyshev distance in (r0, r1] — the
    shell between two square rings (r0 = -1 includes the center)."""
    side = np.arange(-r1, r1 + 1)
    dx, dy = np.meshgrid(side, side)
    cheb = np.maximum(np.abs(dx), np.abs(dy))
    keep = (cheb > r0) & (cheb <= r1)
    return np.stack([dx[keep], dy[keep]], axis=1)


def cell_shell_batch(
    cells_arr: np.ndarray, res: int, r0: int, r1: int
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized shell expansion for many cells: all cells with grid
    Chebyshev distance in (r0, r1] of each input (r0=-1 -> full disk
    of radius r1). Returns (row_index, cell) pairs, x wrapped, y
    clamped out. The kNN geometric-growth loop consumes these."""
    n = 1 << res
    x, y = cell_to_xy(np.asarray(cells_arr))
    off = _range_offsets(r0, r1)
    xs = (x[:, None] + off[None, :, 0]) % n
    ys = y[:, None] + off[None, :, 1]
    keep = (ys >= 0) & (ys < n)
    # when the shell wraps the whole globe in x (2*r1+1 > n), offsets
    # alias the same cell; the kNN loops never expand that far (they
    # switch to an exact pass first)
    idx = np.broadcast_to(np.arange(len(x))[:, None], xs.shape)[keep]
    return idx, xy_to_cell(xs[keep], ys[keep])


def unwrap_ring(ring: np.ndarray) -> tuple[np.ndarray, bool]:
    """Antimeridian normalization: a ring whose consecutive vertices
    jump more than 180 deg in longitude crosses the +-180 meridian;
    unwrap it into the continuous [0, 360) frame (negative lons +360)
    so bbox/cover/ray-cast math sees one contiguous polygon. Returns
    (ring, False) unchanged for non-crossing rings. Points test
    against an unwrapped ring with the SAME shift (lon < 0 -> +360)."""
    ring = np.asarray(ring, dtype=np.float64)
    dlon = np.abs(np.diff(np.concatenate([ring[:, 0], ring[:1, 0]])))
    if not (dlon > 180.0).any():
        return ring, False
    out = ring.copy()
    out[:, 0] = np.where(out[:, 0] < 0.0, out[:, 0] + 360.0, out[:, 0])
    if float(out[:, 0].max() - out[:, 0].min()) > 180.0:
        raise ValueError("ring spans more than 180 deg of longitude after unwrap")
    return out, True


def _cover_grid(
    lon_min: float, lat_min: float, lon_max: float, lat_max: float, res: int
) -> tuple[np.ndarray, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]]:
    """Cells + their UNWRAPPED rect bounds for a (possibly lon>180)
    bbox. x indices wrap modulo n into cell ids; the returned bounds
    stay in the continuous frame so polygon classification math is
    consistent with an unwrapped ring."""
    n = 1 << res
    x0 = int(max(np.floor((lon_min + 180.0) / 360.0 * n), 0))
    x1 = int(np.floor((lon_max + 180.0) / 360.0 * n))
    x1 = min(x1, x0 + n - 1)  # never cover the globe twice
    y0 = int(np.clip(np.floor((lat_min + 90.0) / 180.0 * n), 0, n - 1))
    y1 = int(np.clip(np.floor((lat_max + 90.0) / 180.0 * n), 0, n - 1))
    xs, ys = np.meshgrid(np.arange(x0, x1 + 1), np.arange(y0, y1 + 1))
    xs, ys = xs.ravel(), ys.ravel()
    cells = xy_to_cell(xs % n, ys)
    w, h = 360.0 / n, 180.0 / n
    lon0 = -180.0 + xs * w  # unwrapped (continuous) bounds
    lat0 = -90.0 + ys * h
    return cells, (lon0, lat0, lon0 + w, lat0 + h)


def unwrap_rings(
    ring: np.ndarray, holes: list | None
) -> tuple[np.ndarray, list[np.ndarray], bool]:
    """Frame-consistent unwrap for a polygon with holes: the outer
    ring decides whether the polygon crosses the antimeridian; when it
    does, EVERY ring (holes included) gets the same lon<0 -> +360
    shift — a hole sitting entirely on one side of +-180 never
    triggers the per-ring jump detection on its own, so it must
    inherit the outer's frame."""
    outer, wrapped = unwrap_ring(np.asarray(ring, dtype=np.float64))
    hs = [np.asarray(h, dtype=np.float64) for h in (holes or [])]
    if wrapped:
        shifted = []
        for h in hs:
            h = h.copy()
            h[:, 0] = np.where(h[:, 0] < 0.0, h[:, 0] + 360.0, h[:, 0])
            shifted.append(h)
        hs = shifted
    return outer, hs, wrapped


def polygon_cover_classified(
    ring: np.ndarray, res: int, holes: list | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Polygon cover with an INTERIOR flag per cell (SURVEY.md §2.6 G6).

    Returns (cells, interior): the cells at ``res`` whose rectangle may
    intersect the polygon — the bbox cover minus the cells that
    provably do not touch it (bboxes of <= 4 cells are kept whole). A
    cell is interior when all four of its corners are inside the
    polygon AND no polygon edge's bbox overlaps the cell rect — every
    point of such a cell is provably inside, so the PIP join can skip
    ray-cast refinement for its tiles (the bulk of any large AOI's
    area). Cells kept but not interior are boundary cells (no polygon
    vertex inside, no corner inside, no overlapping edge -> dropped
    entirely).

    ``holes``: optional inner rings. Containment is multi-ring
    even-odd parity, and vertex/edge tests run over every ring — so a
    cell strictly inside a hole is dropped, a cell straddling a hole
    edge stays boundary, and interior cells are provably inside the
    polygon-with-holes."""
    from gelos_spark.functions.geometry import points_in_rings

    # antimeridian-crossing rings unwrap into the continuous frame;
    # the cover grid wraps x back into real cell ids while the rect
    # bounds stay unwrapped, so every test below is frame-consistent
    outer, hs, _ = unwrap_rings(np.asarray(ring, dtype=np.float64), holes)
    rings = [outer] + hs
    cells, (lon0, lat0, lon1, lat1) = _cover_grid(
        outer[:, 0].min(), outer[:, 1].min(), outer[:, 0].max(), outer[:, 1].max(), res
    )
    # the encoder's float rounding can put a point a few ulps outside
    # its cell's exact rect (lat -1e-20 lands in the row starting at 0),
    # so every test below runs on the rect padded by a slack far above
    # that rounding: kept cells and interior claims hold for the points
    # the encoder actually maps to the cell
    n = 1 << res
    sx, sy = 1e-6 * 360.0 / n, 1e-6 * 180.0 / n
    lon0, lon1, lat0, lat1 = lon0 - sx, lon1 + sx, lat0 - sy, lat1 + sy
    # (a) any ring vertex inside the cell rect
    vx = np.concatenate([r[:, 0] for r in rings])
    vy = np.concatenate([r[:, 1] for r in rings])
    has_vertex = (
        (vx[None, :] >= lon0[:, None])
        & (vx[None, :] < lon1[:, None])
        & (vy[None, :] >= lat0[:, None])
        & (vy[None, :] < lat1[:, None])
    ).any(axis=1)
    # (b) cell corners inside the polygon (multi-ring parity)
    corners_lon = np.stack([lon0, lon1, lon0, lon1], axis=1).ravel()
    corners_lat = np.stack([lat0, lat0, lat1, lat1], axis=1).ravel()
    corner_in = points_in_rings(corners_lon, corners_lat, rings).reshape(-1, 4)
    any_corner_in = corner_in.any(axis=1)
    all_corners_in = corner_in.all(axis=1)
    # (c) any ring edge's bbox overlapping the cell rect (each ring's
    # edges close within that ring — no spurious outer->hole edge)
    ex0 = np.concatenate([r[:, 0] for r in rings])
    ey0 = np.concatenate([r[:, 1] for r in rings])
    ex1 = np.concatenate([np.roll(r[:, 0], -1) for r in rings])
    ey1 = np.concatenate([np.roll(r[:, 1], -1) for r in rings])
    emin_x, emax_x = np.minimum(ex0, ex1), np.maximum(ex0, ex1)
    emin_y, emax_y = np.minimum(ey0, ey1), np.maximum(ey0, ey1)
    overlap = (
        (emin_x[None, :] <= lon1[:, None])
        & (emax_x[None, :] >= lon0[:, None])
        & (emin_y[None, :] <= lat1[:, None])
        & (emax_y[None, :] >= lat0[:, None])
    ).any(axis=1)
    interior = all_corners_in & ~overlap & ~has_vertex
    if len(cells) <= 4:
        return cells, interior
    keep = has_vertex | any_corner_in | overlap
    return cells[keep], interior[keep]
