"""Seeded benchmark inputs that gelos_spark does not generate itself, and
NumPy reference answers the benchmark checks the engine's outputs
against. Everything here runs on the driver, outside Spark."""

from __future__ import annotations

import numpy as np
import pandas as pd

from gelos_spark.functions import cells
from gelos_spark.functions.geometry import haversine_np, points_in_rings
from gelos_spark.sources import synth

_WORDS = (
    "tile scene band cloud water river field forest crop urban road coast "
    "desert snow shadow pixel sensor orbit swath patch label mask grid cell "
    "north south east west dense sparse bright dark green brown blue red "
    "image caption survey season flood fire"
).split()


def documents(n: int, seed: int, dup_frac: float = 0.2) -> pd.DataFrame:
    """(doc_id, text) captions: random word sequences, with ``dup_frac``
    of them near-copies of an earlier document (two words replaced), so
    MinHash banding has true near-duplicate pairs to find."""
    rng = np.random.default_rng(seed + 3000)
    words = np.asarray(_WORDS)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.uniform() < dup_frac:
            src = texts[int(rng.integers(0, i))].split()
            for pos in rng.integers(0, len(src), size=2):
                src[pos] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), size=int(rng.integers(12, 48)))]))
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


def tile_index(image_ids) -> np.ndarray:
    """Row ids back from synth tracker image ids (``img%010d``)."""
    return np.asarray([int(s[3:]) for s in image_ids], dtype=np.int64)


def pip_assignments(n_tiles: int, seed: int, aois: list[dict]) -> np.ndarray:
    """Sorted (aoi_id, tile row id) pairs of every synth tracker tile
    inside every AOI, by the NumPy even-odd ray cast."""
    lon, lat = synth.tracker_coords(np.arange(n_tiles, dtype=np.uint64), seed)
    out = []
    for p in aois:
        outer, holes, wrapped = cells.unwrap_rings(np.asarray(p["ring"], dtype=np.float64), p.get("holes"))
        px = np.where(lon < 0.0, lon + 360.0, lon) if wrapped else lon
        lo, hi = outer.min(axis=0), outer.max(axis=0)
        near = np.flatnonzero((px >= lo[0]) & (px <= hi[0]) & (lat >= lo[1]) & (lat <= hi[1]))
        inside = near[points_in_rings(px[near], lat[near], [outer] + holes)]
        out.append(np.stack([np.full(len(inside), p["aoi_id"], dtype=np.int64), inside], axis=1))
    pairs = np.concatenate(out) if out else np.empty((0, 2), dtype=np.int64)
    return pairs[np.lexsort((pairs[:, 1], pairs[:, 0]))]


_XXH = [np.uint64(x) for x in (
    0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5)]


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def xxhash64_long(values) -> np.ndarray:
    """Spark's ``xxhash64`` (seed 42) of a long column, in NumPy."""
    p1, p2, p3, p4, p5 = _XXH
    v = np.asarray(values, dtype=np.int64).view(np.uint64)
    with np.errstate(over="ignore"):
        h = np.uint64(42) + p5 + np.uint64(8)
        h = h ^ (_rotl(v * p2, 31) * p1)
        h = _rotl(h, 27) * p1 + p4
        h = (h ^ (h >> np.uint64(33))) * p2
        h = (h ^ (h >> np.uint64(29))) * p3
        h = h ^ (h >> np.uint64(32))
    return h.view(np.int64)


def assignment_key(aoi_id, tile_row):
    """One long per (aoi_id, tile row id); works on NumPy arrays and on
    Spark columns alike."""
    return aoi_id * (1 << 40) + tile_row


def xor_hash(keys: np.ndarray) -> int:
    """``bit_xor(xxhash64(key))`` over a key array, as Spark computes it."""
    h = xxhash64_long(keys)
    return int(np.bitwise_xor.reduce(h)) if len(h) else 0


def knn_mismatches(rows, queries: pd.DataFrame, n_tiles: int, seed: int, tol_km: float = 1e-9) -> list[str]:
    """Differences between knn_join rows (query_id, rank, image_id,
    dist_km) and a brute-force haversine top-k over every tile. Each
    reported distance must be its tile's distance, and the ranked
    distances must be the k smallest, both within ``tol_km``; tiles
    whose distances tie may come in either order."""
    lon, lat = synth.tracker_coords(np.arange(n_tiles, dtype=np.uint64), seed)
    got: dict[int, list] = {}
    for r in rows:
        got.setdefault(int(r["query_id"]), []).append(r)
    errors = []
    for q in queries.itertuples():
        d = haversine_np(q.lon, q.lat, lon, lat)
        nearest = np.sort(d)[: int(q.k)]
        mine = sorted(got.get(int(q.query_id), []), key=lambda r: r["rank"])
        if len(mine) != len(nearest):
            errors.append(f"query {q.query_id}: {len(mine)} rows, expected {len(nearest)}")
            continue
        idx = tile_index([r["image_id"] for r in mine])
        dist = np.asarray([r["dist_km"] for r in mine])
        if len(set(idx.tolist())) != len(idx):
            errors.append(f"query {q.query_id}: a tile is ranked twice")
        elif np.abs(d[idx] - dist).max() > tol_km:
            errors.append(f"query {q.query_id}: a reported distance is not its tile's distance")
        elif np.abs(dist - nearest).max() > tol_km:
            errors.append(f"query {q.query_id}: ranked tiles are not the {len(nearest)} nearest")
    return errors


_POPCOUNT8 = np.asarray([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def hamming_pairs(ids: np.ndarray, hashes: np.ndarray, max_hamming: int) -> set:
    """All (id_a, id_b) with id_a < id_b and Hamming(hash) <= max_hamming,
    by brute force over every pair."""
    order = np.argsort(ids)
    ids, h = ids[order], hashes.astype(np.int64).view(np.uint64)[order]
    out = set()
    for a in range(len(ids)):
        x = (h[a + 1:] ^ h[a]).view(np.uint8).reshape(-1, 8)
        dist = _POPCOUNT8[x].sum(axis=1)
        for b in np.flatnonzero(dist <= max_hamming):
            out.add((ids[a], ids[a + 1 + b]))
    return out


def canonical_survivors(ids, pairs) -> int:
    """Rows dedup_near(keep="canonical") keeps: one per connected
    component of the pair graph, plus every unpaired id."""
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return sum(1 for i in ids if find(i) == i)
