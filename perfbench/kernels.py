"""Kernel micro-timings outside Spark: the NumPy functions the engine's
operators run per batch, at fixed seeded sizes, reported per row."""

from __future__ import annotations

import time

import numpy as np

from gelos_spark.functions import cells, codec
from gelos_spark.operators import dedup
from gelos_spark.sources import synth

from perfbench import reference
from perfbench.stats import median

REPEATS = 5
ENCODE_POINTS = 1_000_000
SHELL_QUERIES = 1_000
SHELL_RES, SHELL_R0, SHELL_R1 = 9, -1, 3
IMAGES, IMAGE_W = 192, 32
DOCS, MINHASH_PERMS = 1_000, 64


def _per_row(fn, rows: int, scale: float) -> float:
    """Median over REPEATS of one call's time, per row, times ``scale``."""
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times) / rows * scale


def measure(seed: int) -> dict[str, tuple[float, str]]:
    """metric name -> (value, unit)."""
    rng = np.random.default_rng(seed + 4000)
    lon = rng.uniform(-180.0, 180.0, ENCODE_POINTS)
    lat = rng.uniform(-90.0, 90.0, ENCODE_POINTS)
    qcells = cells.cell_encode(lon[:SHELL_QUERIES], lat[:SHELL_QUERIES], SHELL_RES)
    rows = [synth.image_row(i, IMAGE_W, IMAGE_W, seed) for i in range(IMAGES)]
    decoded = [codec.decode(r["bytes"], r["fmt"], r["w"], r["h"]) for r in rows]
    texts = reference.documents(DOCS, seed)["text"].tolist()

    def decode_all():
        for r in rows:
            codec.decode(r["bytes"], r["fmt"], r["w"], r["h"])

    def phash_all():
        for px in decoded:
            codec.phash64(px)

    return {
        "cells.encode_ns_per_point": (
            _per_row(lambda: cells.cell_encode(lon, lat, 16), ENCODE_POINTS, 1e9), "ns"),
        "cells.shell_us_per_query": (
            _per_row(lambda: cells.cell_shell_batch(qcells, SHELL_RES, SHELL_R0, SHELL_R1),
                     SHELL_QUERIES, 1e6), "us"),
        "codec.decode_us_per_image": (_per_row(decode_all, IMAGES, 1e6), "us"),
        "codec.phash_us_per_image": (_per_row(phash_all, IMAGES, 1e6), "us"),
        "dedup.minhash_us_per_doc": (
            _per_row(lambda: dedup.minhash_batch(texts, MINHASH_PERMS), DOCS, 1e6), "us"),
    }
