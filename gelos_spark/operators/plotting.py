"""Figure sink: category-colored scatter of projection coordinates as
a PNG artifact (SURVEY.md §2.1 S8; reference gelos/plotting.py:19-58
— scatter colored by the tracker's category column via a config color
map, standardized filename, savefig).

matplotlib is not installed in this environment, so the figure is
rasterized from scratch: coordinates are normalized into a uint8 RGB
canvas, points painted as small squares in deterministic category
colors, and the canvas encoded with the engine's own pure-NumPy PNG
writer (functions/codec.py — zlib + filter 0). This is a DRIVER-side
artifact stage by design, exactly like the reference's: it consumes
the (already small, sampled) coordinate table, never distributed
data. Text legends need fonts -> out of scope; the legend is the
returned color map (the reference builds it from the same dict,
embedding_transformation.py:33-40).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from gelos_spark.functions import codec

# deterministic okabe-ito-style palette (colorblind-safe, public)
_PALETTE: list[tuple[int, int, int]] = [
    (230, 159, 0),
    (86, 180, 233),
    (0, 158, 115),
    (240, 228, 66),
    (0, 114, 178),
    (213, 94, 0),
    (204, 121, 167),
    (0, 0, 0),
]


def category_colors(categories: list) -> dict:
    """Stable category -> RGB map: categories sorted (by string form)
    then assigned palette slots round-robin — the engine analog of the
    reference's style color dict."""
    cats = sorted(set(categories), key=str)
    return {c: _PALETTE[i % len(_PALETTE)] for i, c in enumerate(cats)}


def figure_name(model_name: str, strategy: str) -> str:
    """The reference's standardized artifact naming
    (gelos/plotting.py:48-55 builds '{key}_tsne' stems)."""
    from gelos_spark.operators.projection import coord_cols

    cx, _ = coord_cols(model_name, strategy)
    return cx.removesuffix("_tsne_x") + "_tsne.png"


def scatter_png(
    coords: pd.DataFrame,
    x_col: str,
    y_col: str,
    cat_col: str,
    path: str,
    size: int = 900,
    point: int = 3,
) -> dict:
    """Render and atomically write the scatter PNG. Returns
    {path, colors, size, n_points}. Deterministic: same coords ->
    byte-identical file (points painted in sorted row order; later
    rows overpaint, matching scatter z-order semantics)."""
    x = coords[x_col].to_numpy(dtype=np.float64)
    y = coords[y_col].to_numpy(dtype=np.float64)
    colors = category_colors(list(coords[cat_col]))

    canvas = np.full((size, size, 3), 255, dtype=np.uint8)
    if len(x):
        def norm(v):
            lo, hi = float(v.min()), float(v.max())
            span = (hi - lo) or 1.0
            pad = 0.05 * span
            return (v - lo + pad) / (span + 2 * pad)

        px = (norm(x) * (size - 1)).astype(np.int64)
        # image row 0 is the top scanline; plot y grows upward
        py = ((1.0 - norm(y)) * (size - 1)).astype(np.int64)
        half = max(point // 2, 0)
        for xi, yi, cat in zip(px, py, coords[cat_col]):
            r0, r1 = max(yi - half, 0), min(yi + half + 1, size)
            c0, c1 = max(xi - half, 0), min(xi + half + 1, size)
            canvas[r0:r1, c0:c1] = colors[cat]

    data = codec.encode(canvas, "png")
    tmp = f"{path}.tmp-{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)
    return {"path": path, "colors": colors, "size": size, "n_points": int(len(x))}
