"""PIP + haversine kernels vs independent references."""

import math

import numpy as np

from gelos_spark.functions import geometry

import oracles


def _pip_scalar(px, py, ring):
    # independent textbook implementation (same half-open rule)
    inside = False
    v = len(ring)
    for i in range(v):
        x1, y1 = ring[i]
        x2, y2 = ring[(i + 1) % v]
        if (y1 > py) != (y2 > py) and px < (x2 - x1) * (py - y1) / (y2 - y1) + x1:
            inside = not inside
    return inside


def test_pip_matches_scalar_reference():
    rng = np.random.default_rng(42)
    ring = np.asarray([[0, 0], [6, 1], [7, 6], [3, 8], [-1, 4]], dtype=float)
    px = rng.uniform(-3, 9, 5000)
    py = rng.uniform(-2, 10, 5000)
    got = oracles.points_in_polygon(px, py, ring)
    exp = np.asarray([_pip_scalar(a, b, ring) for a, b in zip(px, py)])
    np.testing.assert_array_equal(got, exp)


def test_pip_concave_polygon():
    ring = np.asarray([[0, 0], [10, 0], [10, 10], [5, 3], [0, 10]], dtype=float)  # notch at top
    px = np.asarray([5.0, 5.0, 1.0, 9.0, 1.0, 9.0])
    py = np.asarray([1.0, 8.0, 9.0, 9.0, 5.0, 5.0])
    got = oracles.points_in_polygon(px, py, ring)
    # notch: top boundary at x=1 and x=9 is y~=8.6, so (1,9)/(9,9) are out
    np.testing.assert_array_equal(got, [True, False, False, False, True, True])


def test_pip_closed_ring_equals_open():
    ring_open = np.asarray([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
    ring_closed = np.vstack([ring_open, ring_open[:1]])
    px = np.asarray([2.0, 5.0, 0.0, 4.0])
    py = np.asarray([2.0, 2.0, 2.0, 2.0])
    np.testing.assert_array_equal(
        oracles.points_in_polygon(px, py, ring_open),
        oracles.points_in_polygon(px, py, ring_closed),
    )


def test_pip_edge_determinism():
    ring = np.asarray([[0, 0], [4, 0], [4, 4], [0, 4]], dtype=float)
    # boundary points: half-open rule gives a deterministic (not nec.
    # "inside") answer, and repeated calls agree
    px = np.asarray([0.0, 4.0, 2.0, 2.0])
    py = np.asarray([2.0, 2.0, 0.0, 4.0])
    a = oracles.points_in_polygon(px, py, ring)
    b = oracles.points_in_polygon(px, py, ring)
    np.testing.assert_array_equal(a, b)
    # left edge in, right edge out (half-open in x)
    assert a[0] and not a[1]


def test_haversine_known_values():
    # London -> Paris ~= 343.5 km
    d = geometry.haversine_np(-0.1278, 51.5074, 2.3522, 48.8566)
    assert abs(float(d) - 343.5) < 1.5
    # antipodal-ish: half circumference
    d2 = float(geometry.haversine_np(0.0, 0.0, 180.0, 0.0))
    assert abs(d2 - math.pi * geometry.EARTH_RADIUS_KM) < 1e-6
    assert float(geometry.haversine_np(10.0, 20.0, 10.0, 20.0)) == 0.0


def test_pip_sql_matches_numpy_in_duckdb():
    import duckdb

    rng = np.random.default_rng(7)
    ring = np.asarray([[0, 0], [6, 1], [7, 6], [3, 8], [-1, 4]], dtype=float)
    px = rng.uniform(-3, 9, 2000)
    py = rng.uniform(-2, 10, 2000)
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"lon": px, "lat": py}))
    expr = geometry.pip_sql("lon", "lat", ring)
    got = con.execute(f"SELECT {expr} AS inside FROM pts").fetchdf()["inside"].to_numpy()
    np.testing.assert_array_equal(got.astype(bool), oracles.points_in_polygon(px, py, ring))
