"""Raster + vector pyramiding (SURVEY.md §2.4 A7): quadtree zoom
rollup via grouped applyInPandas, cogrouped merge, and the fused
vector rollup's equivalence with per-level recomputation."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gelos_spark.functions import cells, codec
from gelos_spark.functions.cell_udfs import cell_encode_col
from gelos_spark.operators import pyramid


def _leaf_df(spark, res=4, n=12, seed=3):
    rng = np.random.default_rng(seed)
    cell_ids = rng.choice(1 << (2 * res), size=n, replace=False).astype(np.int64)
    rows = []
    for i, c in enumerate(cell_ids):
        px = rng.integers(0, 256, size=(8, 8, 3)).astype(np.uint8)
        rows.append(
            {
                "cell": int(c),
                "bytes": codec.encode(px, "raw"),
                "w": 8,
                "h": 8,
                "fmt": "raw",
                "caption": f"tile{i}",
            }
        )
    return spark.createDataFrame(
        pd.DataFrame(rows),
        "cell long, bytes binary, w int, h int, fmt string, caption string",
    )


def test_raster_pyramid_levels_and_counts(spark):
    res = 4
    leaves = _leaf_df(spark, res=res, n=12)
    levels = {res: leaves.withColumn("n_leaves", F.lit(1).cast("long"))}
    for r in (4, 3):
        levels[r - 1] = pyramid.pyramid_level_up(levels[r], r)
    assert set(levels) == {4, 3, 2}
    # leaf count conservation: n_leaves sums to the leaf count at every level
    for r in (3, 2):
        rows = levels[r].collect()
        assert sum(x.n_leaves for x in rows) == 12
        # every parent cell is the prefix of some leaf
        leaf_cells = {x.cell for x in leaves.collect()}
        parents = {int(c) >> 2 * (res - r) for c in leaf_cells}
        assert {x.cell for x in rows} == parents
        for x in rows:
            assert (x.w, x.h) == (8, 8)
            assert codec.decode(bytes(x.bytes), x.fmt, x.w, x.h).shape == (8, 8, 3)


def test_raster_parent_pixels_are_quadrant_means(spark):
    # one parent with a single child at quad pos 0 (x=0,y=0 -> bottom-left):
    # parent = downsample of canvas with child in bottom-left quadrant
    px = np.arange(8 * 8 * 3, dtype=np.uint8).reshape(8, 8, 3)
    leaf = spark.createDataFrame(
        pd.DataFrame(
            [{"cell": 4, "bytes": codec.encode(px, "raw"), "w": 8, "h": 8,
              "fmt": "raw", "caption": "c"}]
        ),
        "cell long, bytes binary, w int, h int, fmt string, caption string",
    )
    out = pyramid.pyramid_level_up(
        leaf.withColumn("n_leaves", F.lit(1).cast("long")), 2
    ).collect()
    assert len(out) == 1
    got = codec.decode(bytes(out[0].bytes), out[0].fmt, 8, 8)
    canvas = np.zeros((16, 16, 3), dtype=np.uint8)
    canvas[8:16, 0:8] = px  # pos 0 => x-half 0, y-half 0 (south) => bottom-left
    want = pyramid.downsample2x2(canvas)
    assert (got == want).all()


def test_merge_pyramids_averages_common_cells(spark):
    a = _leaf_df(spark, res=3, n=6, seed=1).withColumn("n_leaves", F.lit(1).cast("long"))
    b = _leaf_df(spark, res=3, n=6, seed=1).withColumn("n_leaves", F.lit(1).cast("long"))
    merged = pyramid.merge_pyramids(a, b).collect()
    assert len(merged) == 6
    pa_ = {r.cell: r for r in a.collect()}
    for r in merged:
        assert r.n_leaves == 2
        orig = codec.decode(bytes(pa_[r.cell].bytes), "raw", 8, 8)
        got = codec.decode(bytes(r.bytes), r.fmt, r.w, r.h)
        assert (got == orig).all()  # avg of identical tiles = the tile


def test_vector_pyramid_matches_per_level_recompute(spark):
    rng = np.random.default_rng(9)
    n = 4000
    pdf = pd.DataFrame(
        {
            "k": np.arange(n),
            "lon": rng.uniform(-60, 60, n),
            "lat": rng.uniform(-50, 50, n),
            "cat": rng.choice(list("abcde"), n),
        }
    )
    df = spark.createDataFrame(pdf)
    # 12 -> 3 is a deep pyramid (ten levels over 4^12 leaf cells): the
    # ancestor explode is largest there relative to the leaf pair table
    for leaf_res, min_res in ((7, 3), (12, 3)):
        enc = df.withColumn("cell", cell_encode_col(F.col("lon"), F.col("lat"), leaf_res))
        out = pyramid.vector_pyramid(enc, leaf_res, min_res, cat_col="cat").collect()
        got = {(r.res, r.cell): (r.n_tiles, r.n_cat) for r in out}
        # NumPy oracle per level
        cell_leaf = cells.cell_encode(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), leaf_res)
        levels = range(leaf_res, min_res - 1, -1)
        for res in levels:
            parents = cell_leaf >> (2 * (leaf_res - res))
            for c in np.unique(parents):
                m = parents == c
                want = (int(m.sum()), len(set(pdf["cat"][m])))
                assert got[(res, int(c))] == want
        assert len(got) == sum(
            len(np.unique(cell_leaf >> (2 * (leaf_res - r)))) for r in levels
        )


def test_vector_pyramid_rejects_min_res_above_leaf(spark):
    """An empty level range would roll up to an empty frame with an
    untyped ``cell`` column."""
    tiles = spark.createDataFrame([(5, "a")], "cell long, lulc string")
    with pytest.raises(ValueError, match="min_res"):
        pyramid.vector_pyramid(tiles, 4, 6)
