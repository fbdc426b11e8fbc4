"""Raster <-> vector tile pyramiding: zoom-level re-aggregation
(SURVEY.md §2.4 A7; north rule: "raster<->vector tile pyramiding
(zoom-level reaggregation with mergeInPandas)").

The quadtree cell hierarchy IS the pyramid: a tile at zoom z lives in
cell c (res z); its parent tile at z-1 is cell c >> 2, assembled from
<= 4 children whose quad position is c & 3 (bit0 = x-half, bit1 =
y-half). The reference's analog is the patchify/unpatchify grid
arithmetic of models/prithvi_eo_v2.py:653-696 (tile = patch, zoom =
grid resolution).

RASTER path — one zoom step:
  groupBy(parent_cell) -> applyInPandas (grouped map; Spark's
  cogrouped applyInPandas — "mergeInPandas" — is used by
  ``merge_pyramids`` to merge two pyramids level-wise):
    each child's pixels are decoded, placed into its quadrant of a
    2w x 2h canvas (missing children stay 0), the canvas is 2x2
    mean-downsampled back to w x h, re-encoded. Deterministic: the
    canvas layout depends only on quad positions, and 2x2 mean in
    float64 is order-independent.

VECTOR path — per-cell statistics rollup:
  counts are pure column aggregations: each leaf (cell, cat) count
  is summed into all of its ancestors in one fused plan (Spark
  map-side combines keep the multi-level rollup shuffle-light).

The shuffle is keyed on the parent cell id — exactly the north
rule's "shuffle partitioning keyed on cell_id". Payload rows shuffle
once per level with no wasted columns.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelos_spark.functions import codec
from gelos_spark.functions.cell_udfs import cell_child_pos_col, cell_parent_col

ROLLUP_FMT = "raw"  # parents are re-encoded lossless; lossy inputs stay lossy only at leaves


def downsample2x2(img: np.ndarray) -> np.ndarray:
    """2x2 mean downsample (float64 accumulate, round-half-up to uint8)."""
    h, w, c = img.shape
    v = img.astype(np.float64).reshape(h // 2, 2, w // 2, 2, c).mean(axis=(1, 3))
    return np.clip(np.floor(v + 0.5), 0, 255).astype(np.uint8)


def assemble_parent(children: pd.DataFrame) -> tuple[bytes, int, int]:
    """Compose <= 4 child tiles into the parent tile. ``children`` has
    columns (pos, bytes, w, h, fmt); quad pos: bit0=x (left/right),
    bit1=y (bottom/top). Grid y grows northward; image row 0 is the
    TOP scanline, so y-half 1 (north) maps to the top half."""
    w = int(children["w"].iloc[0])
    h = int(children["h"].iloc[0])
    canvas = np.zeros((2 * h, 2 * w, 3), dtype=np.uint8)
    for row in children.itertuples():
        px = codec.decode(row.bytes, row.fmt, row.w, row.h)
        x_half = int(row.pos) & 1
        y_half = (int(row.pos) >> 1) & 1
        r0 = 0 if y_half == 1 else h  # north child on top
        c0 = x_half * w
        canvas[r0 : r0 + h, c0 : c0 + w] = px
    parent = downsample2x2(canvas)
    return codec.encode(parent, ROLLUP_FMT), w, h


def _rollup_group(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.sort_values("pos")
    data, w, h = assemble_parent(pdf)
    cap = pdf["caption"].min()  # deterministic representative caption
    return pd.DataFrame(
        {
            "cell": pdf["cell_parent"].iloc[:1].astype("int64"),
            "bytes": [data],
            "w": np.int32(w),
            "h": np.int32(h),
            "fmt": ROLLUP_FMT,
            "caption": [f"{cap} [n={int(pdf['n_leaves'].sum())}]"],
            "n_leaves": pdf["n_leaves"].sum().astype("int64"),
        }
    )


RASTER_LEVEL_SCHEMA = (
    "cell long, bytes binary, w int, h int, fmt string, caption string, n_leaves long"
)


def pyramid_level_up(level: DataFrame, res: int) -> DataFrame:
    """One zoom step: tiles at res -> parent tiles at res-1.

    ``level``: (cell, bytes, w, h, fmt, caption, n_leaves).
    """
    staged = level.select(
        cell_parent_col(F.col("cell"), res, res - 1).alias("cell_parent"),
        cell_child_pos_col(F.col("cell")).alias("pos"),
        "bytes",
        "w",
        "h",
        "fmt",
        "caption",
        "n_leaves",
    )
    return staged.groupBy("cell_parent").applyInPandas(_rollup_group, RASTER_LEVEL_SCHEMA)


def vector_pyramid(
    tiles_with_cell: DataFrame,
    leaf_res: int,
    min_res: int,
    cat_col: str = "lulc",
) -> DataFrame:
    """Vector side of the pyramid: per-cell tile counts + per-category
    counts at every zoom level. Returns (res, cell, n_tiles, n_cat)
    ordered.

    Scale design: the FULL tile table shuffles exactly once — into a
    (cell, cat) PAIR-COUNT table at the leaf (map-side combine
    collapses each partition to its distinct pairs first); everything
    after operates on pair counts, all codegen'd HashAggregates over
    fixed-width rows (an earlier design carried collect_set(cat)
    arrays through every level — ObjectHashAggregate, no codegen, and
    per-cell sets blow up with category cardinality).

    The rollup is ONE lazy plan: each leaf pair explodes to its L
    (res, parent-cell) ancestors, then one groupBy(res, cell, cat) and
    one groupBy(res, cell). Shuffle volume is <= L x 4^leaf_res x
    n_cats rows REGARDLESS of input size, and the plan compiles 3
    stages instead of ~2L (first-execution codegen of ~2L distinct
    plans dominates shallow-pyramid latency). Nothing is persisted and
    the operator returns the lazy plan: a caller's filter reaches the
    scan.

    Trade-off: a DEEP pyramid (L x 4^leaf_res beyond ~2^26) whose leaf
    pair table approaches the input's distinct-key count explodes L
    times that table, where a level-by-level re-aggregation (each
    level ~4x smaller than the one below) would shuffle ~1.33x it."""
    if min_res > leaf_res:
        raise ValueError(f"min_res={min_res} is above leaf_res={leaf_res}: no levels to roll up")
    pairs = tiles_with_cell.groupBy("cell", F.col(cat_col).alias("cat")).agg(
        F.count("*").alias("n")
    )
    # one array of the leaf's ancestors, leaf first: position p is
    # the cell at res leaf_res - p (one expression at any level count)
    ancestors = ", ".join(
        f"shiftrightunsigned(cell, {2 * p})" for p in range(leaf_res - min_res + 1)
    )
    return (
        pairs.select(F.posexplode(F.expr(f"array({ancestors})")).alias("pos", "cell"), "cat", "n")
        .groupBy((F.lit(leaf_res) - F.col("pos")).alias("res"), "cell", "cat")
        .agg(F.sum("n").alias("n"))
        # (res, cell, cat) unique -> n_cat = count(*)
        .groupBy("res", "cell")
        .agg(F.sum("n").alias("n_tiles"), F.count("*").cast("long").alias("n_cat"))
        .orderBy("res", "cell")
    )


def merge_pyramids(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two raster pyramids at the same level with cogrouped
    applyInPandas (the north rule's 'mergeInPandas'): cells present in
    both are averaged pixel-wise; cells in one pass through."""

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if len(left) == 0:
            return right[["cell", "bytes", "w", "h", "fmt", "caption", "n_leaves"]]
        if len(right) == 0:
            return left[["cell", "bytes", "w", "h", "fmt", "caption", "n_leaves"]]
        la, rb = left.iloc[0], right.iloc[0]
        pa = codec.decode(la.bytes, la.fmt, la.w, la.h).astype(np.float64)
        pb = codec.decode(rb.bytes, rb.fmt, rb.w, rb.h).astype(np.float64)
        avg = np.clip(np.floor((pa + pb) / 2.0 + 0.5), 0, 255).astype(np.uint8)
        return pd.DataFrame(
            {
                "cell": [la.cell],
                "bytes": [codec.encode(avg, ROLLUP_FMT)],
                "w": np.int32(la.w),
                "h": np.int32(la.h),
                "fmt": ROLLUP_FMT,
                "caption": [min(la.caption, rb.caption)],
                "n_leaves": [int(la.n_leaves) + int(rb.n_leaves)],
            }
        )

    return (
        a.groupBy("cell")
        .cogroup(b.groupBy("cell"))
        .applyInPandas(merge, RASTER_LEVEL_SCHEMA)
    )
