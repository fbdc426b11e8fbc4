"""Reference implementations the tests check the engine against.

Each restates, in plain NumPy or one Spark expression, what an engine
kernel must compute. No engine path calls them, so they live beside
the tests rather than in ``gelos_spark/`` (tests/test_reachability.py
keeps it that way).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gelos_spark.functions.cells import cell_to_xy
from gelos_spark.operators.dedup import _minhash_coeffs
from gelos_spark.sources.synth import query_points


# ---- cells: NumPy twins of the Morton cell arithmetic


def cell_parent(cell: np.ndarray, res: int, parent_res: int) -> np.ndarray:
    """Ancestor at ``parent_res`` — also available as the pure Spark
    column expression ``F.shiftrightunsigned(cell, 2*(res-parent_res))``."""
    if parent_res > res:
        raise ValueError("parent_res must be <= res")
    return np.asarray(cell) >> np.int64(2 * (res - parent_res))


def cell_to_lonlat(cell: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray]:
    """Cell center (lon, lat)."""
    n = 1 << res
    x, y = cell_to_xy(cell)
    lon = (x.astype(np.float64) + 0.5) / n * 360.0 - 180.0
    lat = (y.astype(np.float64) + 0.5) / n * 180.0 - 90.0
    return lon, lat


def cell_bounds(cell: np.ndarray, res: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(lon_min, lat_min, lon_max, lat_max) of each cell."""
    n = 1 << res
    x, y = cell_to_xy(cell)
    lon0 = x.astype(np.float64) / n * 360.0 - 180.0
    lat0 = y.astype(np.float64) / n * 180.0 - 90.0
    return lon0, lat0, lon0 + 360.0 / n, lat0 + 180.0 / n


# ---- geometry: the single-ring even-odd ray cast


def points_in_polygon(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd crossing count, vectorized over points ([N] bool out).

    ``ring`` is [V, 2] (lon, lat), closed or open (first==last not
    required). Half-open rule: an edge contributes when
    (y1 > py) != (y2 > py) and px < x-intersection.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    ring = np.asarray(ring, dtype=np.float64)
    if len(ring) >= 2 and ring[0, 0] == ring[-1, 0] and ring[0, 1] == ring[-1, 1]:
        ring = ring[:-1]
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = np.roll(x1, -1), np.roll(y1, -1)
    # [N, E] crossing mask
    cond = (y1[None, :] > py[:, None]) != (y2[None, :] > py[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1)[None, :] * (py[:, None] - y1[None, :]) / (y2 - y1)[None, :] + x1[None, :]
    cross = cond & (px[:, None] < xint)
    return (cross.sum(axis=1) % 2).astype(bool)


# ---- dedup: scalar MinHash / SimHash, one document at a time


def _hash_bytes_u64(tokens: list[bytes], seed: int) -> np.ndarray:
    """Vector of seeded 64-bit FNV-1a hashes for a token list, one
    Python loop per byte: the scalar reference the vectorized
    ``dedup._fnv_ragged`` kernel is checked against."""
    out = np.empty(len(tokens), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for i, t in enumerate(tokens):
            h = np.uint64(0xCBF29CE484222325) ^ np.uint64(seed)
            for b in t:
                h = (h ^ np.uint64(b)) * np.uint64(0x100000001B3)
            out[i] = h
    return out


def char_shingles(text: str, k: int = 5) -> list[bytes]:
    b = text.encode("utf-8", "ignore")
    if len(b) <= k:
        return [b]
    return [b[i : i + k] for i in range(len(b) - k + 1)]


def minhash_signature(text: str, num_hashes: int, k: int = 5, seed: int = 42) -> np.ndarray:
    """num_hashes-wide MinHash signature via the multiply-shift
    permutation family over shingle hashes (scalar reference for the
    batch kernel; tests assert value equality)."""
    sh = np.unique(_hash_bytes_u64(char_shingles(text, k), seed)).astype(np.uint64)
    a, b = _minhash_coeffs(num_hashes, seed)
    with np.errstate(over="ignore"):
        vals = a[:, None] * sh[None, :] + b[:, None]  # [H, S], uint64 wrap
    return vals.min(axis=1)


def simhash64(text: str, seed: int = 42) -> int:
    """64-bit SimHash over word tokens (weighted bit-vote)."""
    toks = [w.encode("utf-8", "ignore") for w in (text or "").lower().split()]
    if not toks:
        return 0
    h = _hash_bytes_u64(toks, seed)
    bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    val = np.uint64(0)
    for i in range(64):
        if votes[i] > 0:
            val |= np.uint64(1) << np.uint64(i)
    return int(val.astype(np.int64))


def hamming_pairs(rows: list[tuple[str, int]], max_hamming: int) -> dict[tuple[str, str], int]:
    """O(n^2) brute force of the banded Hamming join: every (id_a, id_b)
    with id_a < id_b whose int64 hashes differ in <= max_hamming bits,
    mapped to that distance."""
    out = {}
    for ia, ha in rows:
        for ib, hb in rows:
            if ia < ib:
                d = bin((ha ^ hb) & ((1 << 64) - 1)).count("1")
                if d <= max_hamming:
                    out[(ia, ib)] = d
    return out


# ---- similarity: the JVM left-fold dot product, and ANN recall


def _dot_expr(a: str, b: str) -> F.Column:
    """Reference JVM left-fold dot product. No longer on any hot path
    (every scorer runs the `_fold_dot` order, pair-wise or block-wise),
    kept as the semantics both kernels must reproduce bit-for-bit —
    test_fold_dot_bit_equals_jvm and
    test_block_cosine_bit_equals_jvm_fold pin them against it."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0D, (acc, p) -> acc + p)"
    )


def recall_at_k(ann: DataFrame, exact: DataFrame, k: int) -> float:
    """Fraction of exact top-k pairs the ANN result recovered."""
    hits = ann.join(exact, ["query_id", "vec_id"], "inner").count()
    total = exact.count()
    return hits / max(total, 1)


# ---- synth: the kNN query points as a DataFrame


def query_df(spark: SparkSession, q: int, n_tiles: int, seed: int = 42, k: int | None = None) -> DataFrame:
    pdf = query_points(q, n_tiles, seed)
    if k is not None:
        pdf["k"] = np.int32(k)
    return spark.createDataFrame(pdf)
