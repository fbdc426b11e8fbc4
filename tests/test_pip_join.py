"""PIP join vs all-pairs brute-force NumPy oracle (FIXTURES.md §6)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gelos_spark.functions.cell_udfs import cell_encode_col
from gelos_spark.operators.pip_join import TILE_RES, pip_join, pick_cover_res
from gelos_spark.plans.checkpoint import Pipeline
from gelos_spark.sources import synth

from oracles import points_in_polygon


def _brute_pip(tracker: pd.DataFrame, aois: list[dict]) -> set[tuple[int, str]]:
    out = set()
    lon = tracker["lon"].to_numpy()
    lat = tracker["lat"].to_numpy()
    ids = tracker["image_id"].to_numpy()
    for p in aois:
        inside = points_in_polygon(lon, lat, p["ring"])
        for i in np.nonzero(inside)[0]:
            out.add((p["aoi_id"], ids[i]))
    return out


@pytest.mark.parametrize("n,m,seed", [(500, 8, 42), (3000, 24, 7)])
def test_pip_join_exact_match(spark, n, m, seed):
    tracker = synth.tracker_df(spark, n, seed=seed)
    aois = synth.aoi_polygons(m, seed=seed)
    got = pip_join(spark, tracker, aois).toPandas()
    exp = _brute_pip(tracker.toPandas(), aois)
    got_set = set(zip(got["aoi_id"].tolist(), got["image_id"].tolist()))
    assert got_set == exp
    # ordered deterministically
    assert got[["aoi_id", "image_id"]].values.tolist() == sorted(
        got[["aoi_id", "image_id"]].values.tolist()
    )


def test_pip_join_parallelism_invariant(spark):
    """Same result at different partition layouts (north rule's
    two-cluster-size exactness, correctness half)."""
    aois = synth.aoi_polygons(8, seed=3)
    t1 = synth.tracker_df(spark, 800, seed=3, parts=2)
    t2 = synth.tracker_df(spark, 800, seed=3, parts=16)
    a = pip_join(spark, t1, aois).toPandas()
    b = pip_join(spark, t2, aois).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_pick_cover_res_bounds():
    aois = synth.aoi_polygons(16, seed=42)
    res = pick_cover_res(aois)
    assert 3 <= res <= 16


# ------------------------------------------------- antimeridian AOIs


def _am_aois():
    """AOIs straddling +-180: a quad and a pentagon whose rings jump
    between +17x and -17x longitudes."""
    return [
        {"aoi_id": 0, "name": "am_quad",
         "ring": [(175.0, -10.0), (-175.0, -10.0), (-175.0, 12.0), (175.0, 12.0)]},
        {"aoi_id": 1, "name": "am_pent",
         "ring": [(172.0, 20.0), (-178.0, 18.0), (-174.0, 30.0),
                  (178.0, 36.0), (170.0, 28.0)]},
    ]


def _am_points(spark, n=3000, seed=11):
    """Deterministic points concentrated around the antimeridian on
    both sides, in the engine's canonical [-180, 180) frame."""
    rng = np.random.default_rng(seed)
    lon = ((rng.uniform(160.0, 200.0, n) + 180.0) % 360.0) - 180.0
    lat = rng.uniform(-25.0, 45.0, n)
    pdf = pd.DataFrame(
        {"image_id": [f"am{i:06d}" for i in range(n)], "lon": lon, "lat": lat}
    )
    return spark.createDataFrame(pdf), pdf


def _brute_pip_am(pdf: pd.DataFrame, aois: list[dict]) -> set[tuple[int, str]]:
    from gelos_spark.functions.cells import unwrap_ring

    out = set()
    lon = pdf["lon"].to_numpy()
    lat = pdf["lat"].to_numpy()
    ids = pdf["image_id"].to_numpy()
    for p in aois:
        ring, wrapped = unwrap_ring(np.asarray(p["ring"], dtype=np.float64))
        x = np.where(lon < 0.0, lon + 360.0, lon) if wrapped else lon
        inside = points_in_polygon(x, lat, ring)
        for i in np.nonzero(inside)[0]:
            out.add((p["aoi_id"], ids[i]))
    return out


def test_pip_join_antimeridian(spark):
    aois = _am_aois()
    tiles, pdf = _am_points(spark)
    got = pip_join(spark, tiles, aois).toPandas()
    exp = _brute_pip_am(pdf, aois)
    assert set(zip(got["aoi_id"].tolist(), got["image_id"].tolist())) == exp
    # sanity: the AOIs really get hits on BOTH sides of +-180
    assert (got["lon"] > 170).any() and (got["lon"] < -170).any()


def test_pip_join_mixed_wrapped_and_plain(spark):
    """Wrapped and ordinary AOIs coexist in one join."""
    aois = _am_aois() + [
        {"aoi_id": 2, "name": "plain",
         "ring": [(-10.0, -5.0), (10.0, -5.0), (10.0, 15.0), (-10.0, 15.0)]}
    ]
    rng = np.random.default_rng(5)
    pdf = pd.DataFrame(
        {
            "image_id": [f"mx{i:05d}" for i in range(2000)],
            "lon": ((rng.uniform(-30.0, 210.0, 2000) + 180.0) % 360.0) - 180.0,
            "lat": rng.uniform(-25.0, 45.0, 2000),
        }
    )
    got = pip_join(spark, spark.createDataFrame(pdf), aois).toPandas()
    exp = _brute_pip_am(pdf, aois)
    assert set(zip(got["aoi_id"].tolist(), got["image_id"].tolist())) == exp
    assert (got["aoi_id"] == 2).any()


def test_unwrap_ring_contract():
    from gelos_spark.functions.cells import unwrap_ring

    plain = np.asarray([(-10.0, 0.0), (10.0, 0.0), (0.0, 10.0)])
    r, w = unwrap_ring(plain)
    assert not w and np.array_equal(r, plain)
    am = np.asarray([(175.0, 0.0), (-175.0, 0.0), (180.0, 10.0)])
    r, w = unwrap_ring(am)
    assert w and r[:, 0].tolist() == [175.0, 185.0, 180.0]
    with pytest.raises(ValueError, match="180 deg"):
        unwrap_ring(np.asarray([(170.0, 0.0), (-170.0, 0.0), (-10.0, 5.0), (60.0, 5.0)]))


# ------------------------------------------------ polygons with holes


def _donut_aois():
    return [
        # square donut: outer 20x20, square hole 8x8 in the middle
        {"aoi_id": 0, "name": "donut",
         "ring": [(-10.0, -10.0), (10.0, -10.0), (10.0, 10.0), (-10.0, 10.0)],
         "holes": [[(-4.0, -4.0), (4.0, -4.0), (4.0, 4.0), (-4.0, 4.0)]]},
        # plain AOI alongside, to prove mixing works
        {"aoi_id": 1, "name": "plain",
         "ring": [(20.0, -5.0), (34.0, -5.0), (34.0, 9.0), (20.0, 9.0)]},
    ]


def _brute_pip_rings(pdf: pd.DataFrame, aois: list[dict]) -> set[tuple[int, str]]:
    from gelos_spark.functions.cells import unwrap_rings
    from gelos_spark.functions.geometry import points_in_rings

    out = set()
    lon = pdf["lon"].to_numpy()
    lat = pdf["lat"].to_numpy()
    ids = pdf["image_id"].to_numpy()
    for p in aois:
        outer, hs, wrapped = unwrap_rings(
            np.asarray(p["ring"], dtype=np.float64), p.get("holes")
        )
        x = np.where(lon < 0.0, lon + 360.0, lon) if wrapped else lon
        inside = points_in_rings(x, lat, [outer] + hs)
        for i in np.nonzero(inside)[0]:
            out.add((p["aoi_id"], ids[i]))
    return out


def test_pip_join_with_holes(spark):
    aois = _donut_aois()
    rng = np.random.default_rng(21)
    pdf = pd.DataFrame(
        {
            "image_id": [f"h{i:05d}" for i in range(3000)],
            "lon": rng.uniform(-15.0, 40.0, 3000),
            "lat": rng.uniform(-15.0, 15.0, 3000),
        }
    )
    got = pip_join(spark, spark.createDataFrame(pdf), aois).toPandas()
    exp = _brute_pip_rings(pdf, aois)
    assert set(zip(got["aoi_id"].tolist(), got["image_id"].tolist())) == exp
    # points strictly inside the hole are excluded
    in_hole = pdf[(pdf.lon.abs() < 4) & (pdf.lat.abs() < 4)]["image_id"]
    assert not any((0, i) in exp for i in in_hole)
    assert len(in_hole) > 0
    # the donut ring itself has hits
    assert any(a == 0 for a, _ in exp)


def test_pip_join_antimeridian_donut(spark):
    """Hole inheritance of the outer ring's unwrap frame: a donut
    straddling +-180 whose hole sits entirely on the west side."""
    aois = [
        {"aoi_id": 0, "name": "am_donut",
         "ring": [(172.0, -8.0), (-172.0, -8.0), (-172.0, 8.0), (172.0, 8.0)],
         "holes": [[(-178.0, -3.0), (-174.0, -3.0), (-174.0, 3.0), (-178.0, 3.0)]]},
    ]
    rng = np.random.default_rng(9)
    pdf = pd.DataFrame(
        {
            "image_id": [f"ad{i:05d}" for i in range(2500)],
            "lon": ((rng.uniform(165.0, 195.0, 2500) + 180.0) % 360.0) - 180.0,
            "lat": rng.uniform(-12.0, 12.0, 2500),
        }
    )
    got = pip_join(spark, spark.createDataFrame(pdf), aois).toPandas()
    exp = _brute_pip_rings(pdf, aois)
    assert set(zip(got["aoi_id"].tolist(), got["image_id"].tolist())) == exp
    # hole exclusion really engaged (points in the hole exist)
    in_hole = pdf[(pdf.lon > -178) & (pdf.lon < -174) & (pdf.lat.abs() < 3)]
    assert len(in_hole) > 0
    assert not any((0, i) in exp for i in in_hole["image_id"])
    # hits on both sides of the antimeridian
    assert (got["lon"] > 170).any() and (got["lon"] < -170).any()


def test_points_in_rings_single_ring_equals_polygon():
    from gelos_spark.functions.geometry import points_in_rings

    ring = np.asarray([(-5.0, -5.0), (5.0, -5.0), (0.0, 6.0)])
    rng = np.random.default_rng(3)
    px, py = rng.uniform(-8, 8, 500), rng.uniform(-8, 8, 500)
    assert (points_in_rings(px, py, [ring]) == points_in_polygon(px, py, ring)).all()


# ------------------------------- per-cell edge lists: exactness probes

_H8 = 180.0 / (1 << 8)  # cover-cell row height at cover_res 8


def _edge_probe_aois():
    """AOIs whose vertices and horizontal edges sit on cover-cell row
    boundaries (multiples of the res-8 row height), an antimeridian one,
    a holed one, and one with an edge ending 1e-25 below the equator
    row boundary (an edge the row band must keep)."""
    h = _H8
    return [
        {"aoi_id": 0, "name": "stairs",
         "ring": [(0.0, 0.0), (8 * h, 0.0), (8 * h, 3 * h), (5 * h, 3 * h), (5 * h, 6 * h),
                  (2 * h, 6 * h), (2 * h, 9 * h), (0.0, 9 * h)]},
        {"aoi_id": 1, "name": "slanted",
         "ring": [(-20.0, -40 * h), (-12.0, -36 * h), (-13.0, -30 * h),
                  (-17.5, -27 * h), (-22.0, -33 * h)]},
        {"aoi_id": 2, "name": "am_steps",
         "ring": [(175.0, -7 * h), (-175.0, -7 * h), (-175.0, 5 * h), (-178.0, 5 * h),
                  (-178.0, 9 * h), (175.0, 9 * h)]},
        {"aoi_id": 3, "name": "donut",
         "ring": [(30.0, 10 * h), (40.0, 10 * h), (40.0, 24 * h), (30.0, 24 * h)],
         "holes": [[(33.0, 14 * h), (37.0, 14 * h), (37.0, 19 * h), (33.0, 19 * h)]]},
        {"aoi_id": 4, "name": "below_equator",
         "ring": [(-5.0, -5.0), (5.0, -5.0), (5.0, -1e-25), (2.0, -1e-25),
                  (2.0, 3.0), (-5.0, 3.0)]},
    ]


def _edge_probe_points(aois: list[dict], resolutions: list[int]) -> pd.DataFrame:
    """Points exactly on every vertex, along every horizontal edge, and
    on every cover-cell row boundary an AOI spans (at each resolution),
    plus their one-ulp neighbours in latitude."""
    from gelos_spark.functions.cells import unwrap_rings

    def canon(x):  # unwrapped frame -> [-180, 180)
        return np.where(x >= 180.0, x - 360.0, x)

    lon, lat = [], []
    for p in aois:
        outer, hs, _ = unwrap_rings(np.asarray(p["ring"], dtype=np.float64), p.get("holes"))
        for orig, ring in zip([p["ring"]] + list(p.get("holes") or []), [outer] + hs):
            orig = np.asarray(orig, dtype=np.float64)
            lon.append(orig[:, 0])
            lat.append(orig[:, 1])
            nxt = np.roll(ring, -1, axis=0)
            flat = ring[:, 1] == nxt[:, 1]
            for t in (0.25, 0.5, 0.75):
                lon.append(canon(ring[flat, 0] + t * (nxt[flat, 0] - ring[flat, 0])))
                lat.append(ring[flat, 1])
        xs = np.concatenate([np.linspace(outer[:, 0].min() - 1, outer[:, 0].max() + 1, 37),
                             outer[:, 0]])
        for res in resolutions:
            h = 180.0 / (1 << res)
            y0 = int(np.floor((outer[:, 1].min() + 90.0) / h)) - 1
            y1 = int(np.floor((outer[:, 1].max() + 90.0) / h)) + 2
            for b in -90.0 + np.arange(y0, y1) * h:
                lon.append(canon(xs))
                lat.append(np.full(len(xs), b))
    lon, lat = np.concatenate(lon), np.concatenate(lat)
    lon = np.concatenate([lon, lon, lon, [0.5, 0.5, -3.0]])
    lat = np.concatenate([lat, np.nextafter(lat, -np.inf), np.nextafter(lat, np.inf),
                          [-1e-20, -1e-30, -1e-20]])
    return pd.DataFrame(
        {"image_id": [f"e{i:06d}" for i in range(len(lon))], "lon": lon, "lat": lat}
    )


@pytest.mark.parametrize("cover_res", [8, None])
def test_edge_pruned_refine_exact_on_boundaries(spark, cover_res):
    """Points on cover-cell row boundaries, on polygon vertices and on
    horizontal edges — wrapped and holed AOIs included — get exactly
    the NumPy ray-cast oracle's assignments."""
    aois = _edge_probe_aois()
    pdf = _edge_probe_points(aois, [8, pick_cover_res(aois)])
    got = pip_join(spark, spark.createDataFrame(pdf), aois, cover_res=cover_res).toPandas()
    exp = _brute_pip_rings(pdf, aois)
    assert set(zip(got["aoi_id"].tolist(), got["image_id"].tolist())) == exp
    assert {a for a, _ in exp} == {0, 1, 2, 3, 4}
    # the edge that ends 1e-25 below the equator crosses these points
    probe = pdf[pdf.lat == -1e-20]["image_id"].tolist()
    assert {(4, i) for i in probe} <= exp
    # plain single-ring AOIs agree with the single-ring oracle too
    plain = [a for a in aois if a["aoi_id"] in (0, 1, 4)]
    assert {(a, i) for a, i in exp if a in (0, 1, 4)} == _brute_pip(pdf, plain)


def test_cover_rows_carry_only_their_row_band_edges(spark):
    """Interior cover rows carry no edges; boundary rows carry a subset
    of the AOI's non-horizontal edges, strictly smaller for most."""
    from gelos_spark.operators.pip_join import build_cover_df

    aois = synth.aoi_polygons(4, seed=42, vertices=48)
    cover = build_cover_df(spark, aois, pick_cover_res(aois)).toPandas()
    n_edges = cover.groupby("aoi_id")["edges"].apply(lambda s: max(len(e) for e in s))
    sizes = cover["edges"].map(len)
    assert (sizes[cover["interior"]] == 0).all()
    boundary = ~cover["interior"]
    assert (sizes[boundary] > 0).all()
    assert (sizes[boundary] < cover.loc[boundary, "aoi_id"].map(n_edges)).mean() > 0.5
    assert (n_edges <= 48).all()


def test_pip_join_empty_aoi_list(spark):
    out = pip_join(spark, synth.tracker_df(spark, 200, seed=1), [])
    assert out.schema.simpleString() == (
        "struct<aoi_id:bigint,image_id:string,lon:double,lat:double>"
    )
    assert out.count() == 0


def test_staged_assign_driver_action_budget(spark, tmp_path, jobs_launched):
    """The staged tiles -> cells -> assign pipeline spends at most 4
    Spark jobs on its assign stage (pip_join fused into the commit),
    as the benchmark's tiles workload traces; an added count() or
    collect() fails here."""
    synth.tracker_df(spark, 4000, seed=101).write.parquet(f"{tmp_path}/tiles")
    aois = synth.aoi_polygons(8, seed=101, vertices=96)
    pipe = Pipeline(spark, f"{tmp_path}/staged", "budget")
    pipe.stage("tiles", lambda sp: sp.read.parquet(f"{tmp_path}/tiles"))
    pipe.stage("cells", lambda sp: pipe.output("tiles").withColumn(
        "cell", cell_encode_col(F.col("lon"), F.col("lat"), TILE_RES)))
    jobs = jobs_launched("pip_budget", lambda: pipe.stage("assign", lambda sp: pip_join(
        sp, pipe.output("cells"), aois, tile_cell_col="cell", ordered=False)))
    assert jobs <= 4, f"assign stage launched {jobs} Spark jobs (budget 4)"
    got = pipe.output("assign").toPandas()
    tracker = spark.read.parquet(f"{tmp_path}/tiles").toPandas()
    assert set(zip(got.aoi_id, got.image_id)) == _brute_pip(tracker, aois)
