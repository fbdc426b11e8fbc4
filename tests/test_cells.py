"""Cell index kernels vs brute-force per-point references
(SURVEY.md §7.1 M1)."""

import numpy as np

from gelos_spark.functions import cells

import oracles


def _brute_encode(lon, lat, res):
    n = 1 << res
    lon = ((lon + 180.0) % 360.0) - 180.0
    x = min(max(int(np.floor((lon + 180.0) / 360.0 * n)), 0), n - 1)
    y = min(max(int(np.floor((lat + 90.0) / 180.0 * n)), 0), n - 1)
    out = 0
    for b in range(res):
        out |= ((x >> b) & 1) << (2 * b)
        out |= ((y >> b) & 1) << (2 * b + 1)
    return out


def test_encode_matches_bruteforce():
    rng = np.random.default_rng(42)
    lon = rng.uniform(-180, 180, 500)
    lat = rng.uniform(-90, 90, 500)
    for res in (0, 1, 5, 12, 20, 26):
        got = cells.cell_encode(lon, lat, res)
        exp = np.asarray([_brute_encode(a, b, res) for a, b in zip(lon, lat)])
        np.testing.assert_array_equal(got, exp)


def test_roundtrip_center_reencodes_to_same_cell():
    rng = np.random.default_rng(1)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-90, 90, 200)
    for res in (4, 10, 18):
        c = cells.cell_encode(lon, lat, res)
        clon, clat = oracles.cell_to_lonlat(c, res)
        np.testing.assert_array_equal(cells.cell_encode(clon, clat, res), c)


def test_parent_is_prefix():
    rng = np.random.default_rng(2)
    lon = rng.uniform(-180, 180, 200)
    lat = rng.uniform(-90, 90, 200)
    fine = cells.cell_encode(lon, lat, 15)
    coarse = cells.cell_encode(lon, lat, 9)
    np.testing.assert_array_equal(oracles.cell_parent(fine, 15, 9), coarse)


def _ring(cell: int, res: int, r: int) -> np.ndarray:
    """Cells at Chebyshev distance exactly r: the (r-1, r] shell."""
    _, shell = cells.cell_shell_batch(np.asarray([cell]), res, r - 1, r)
    return np.sort(shell)


def test_ring_counts_and_disjoint():
    c = int(cells.cell_encode(np.asarray([10.0]), np.asarray([20.0]), 10)[0])
    seen = set()
    for r in range(4):
        ring = _ring(c, 10, r)
        assert len(ring) == (1 if r == 0 else 8 * r)
        assert not (set(ring.tolist()) & seen)
        seen |= set(ring.tolist())
    # all ring members are within Chebyshev distance exactly r
    x0, y0 = cells.cell_to_xy(np.asarray([c]))
    for r in (1, 3):
        xs, ys = cells.cell_to_xy(_ring(c, 10, r))
        cheb = np.maximum(np.abs(xs - x0[0]), np.abs(ys - y0[0]))
        np.testing.assert_array_equal(cheb, np.full_like(cheb, r))


def test_ring_wraps_antimeridian_and_clamps_pole():
    res = 6
    n = 1 << res
    # cell at x=0 (lon=-180 edge): ring must wrap to x=n-1, not go negative
    c = int(cells.xy_to_cell(np.asarray([0]), np.asarray([n // 2]))[0])
    ring = _ring(c, res, 1)
    xs, _ = cells.cell_to_xy(ring)
    assert (n - 1) in xs.tolist() and len(ring) == 8
    # cell at y=n-1 (north edge): rows past the pole are dropped
    c2 = int(cells.xy_to_cell(np.asarray([5]), np.asarray([n - 1]))[0])
    ring2 = _ring(c2, res, 1)
    assert len(ring2) == 5


def test_disk_batch_matches_single_rings():
    """A batch of cells expands to the same per-row shells as a
    brute-force scan of the grid by Chebyshev distance (x wraps)."""
    rng = np.random.default_rng(3)
    lon = rng.uniform(-170, 170, 20)
    lat = rng.uniform(-80, 80, 20)
    res = 9
    n = 1 << res
    cs = cells.cell_encode(lon, lat, res)
    for r in (0, 1, 2):
        idx, shell = cells.cell_shell_batch(cs, res, r - 1, r)
        for i, c in enumerate(cs):
            (x0,), (y0,) = cells.cell_to_xy(np.asarray([c]))
            dx = np.arange(-r, r + 1)
            gx, gy = np.meshgrid((x0 + dx) % n, y0 + dx)
            ring = np.maximum(*np.abs(np.meshgrid(dx, dx))) == r
            want = np.sort(cells.xy_to_cell(gx[ring], gy[ring]))
            np.testing.assert_array_equal(np.sort(shell[idx == i]), want)


def test_cover_bbox_contains_all_inner_points():
    """The cover of a rectangle holds the cell of every point inside it."""
    res = 8
    rect = np.asarray([[-10.0, 20.0], [-2.0, 20.0], [-2.0, 31.0], [-10.0, 31.0]])
    cover = set(cells.polygon_cover_classified(rect, res)[0].tolist())
    rng = np.random.default_rng(4)
    lon = rng.uniform(-10, -2, 300)
    lat = rng.uniform(20, 31, 300)
    for c in cells.cell_encode(lon, lat, res):
        assert int(c) in cover


def test_polygon_cover_superset_of_inside_cells():
    ring = np.asarray([[0.0, 0.0], [4.0, 1.0], [5.0, 5.0], [1.0, 4.0]])
    res = 9
    cover = set(cells.polygon_cover_classified(ring, res)[0].tolist())
    rng = np.random.default_rng(5)
    lon = rng.uniform(-1, 6, 2000)
    lat = rng.uniform(-1, 6, 2000)
    from oracles import points_in_polygon

    inside = points_in_polygon(lon, lat, ring)
    for c in cells.cell_encode(lon[inside], lat[inside], res):
        assert int(c) in cover
    # pruning actually prunes vs the plain bbox
    bbox = np.asarray([[0.0, 0.0], [5.0, 0.0], [5.0, 5.0], [0.0, 5.0]])
    assert len(cover) < len(cells.polygon_cover_classified(bbox, res)[0])


def test_cell_encode_col_matches_numpy_kernel(spark):
    """The JVM column-expression encoder must be bit-identical to the
    NumPy kernel at several resolutions, including edge coordinates.
    It is the encoder the ``cell_encode`` and ``pyramid_rollup`` entry
    queries run; plans/shapes.json pins their plans with no Python
    evaluation node (tests/test_plan_shapes.py)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from gelos_spark.functions import cells
    from gelos_spark.functions.cell_udfs import cell_encode_col

    rng = np.random.default_rng(7)
    lon = np.concatenate(
        [rng.uniform(-180, 180, 500), [-180.0, 179.999999, 0.0, -0.0, 180.0, 359.5]]
    )
    lat = np.concatenate(
        [rng.uniform(-90, 90, 500), [-90.0, 89.999999, 0.0, -0.0, 90.0, -89.999999]]
    )
    df = spark.createDataFrame(pd.DataFrame({"lon": lon, "lat": lat}))
    for res in (1, 7, 16, 26):
        got = np.array(
            [
                r.c
                for r in df.select(
                    cell_encode_col(F.col("lon"), F.col("lat"), res).alias("c")
                ).collect()
            ]
        )
        want = cells.cell_encode(lon, lat, res)
        assert (got == want).all(), f"mismatch at res {res}"
