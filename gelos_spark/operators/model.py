"""Pluggable model-inference stage (SURVEY.md §2.8 U2 transform
chain -> embeddings).

The reference's core purpose is running a foundation model over
chipped rasters: the Lightning task wraps a frozen encoder and
``trainer.predict`` streams batches through it
(gelos/embedding_generation.py:63-79; the per-sample transform chain
feeding it is gelos/gelosdataset.py:70-75). No torch exists in this
engine's environment, so the *interface* is the deliverable: a
config-NAMED model registry whose entries build a weight payload on
the driver, broadcast it once, and apply a pure vectorized batch
function inside ``mapInArrow`` — exactly how real weights would ride
a Spark cluster (broadcast once per executor, never per task/row).

Stand-in models are seeded integer-arithmetic networks so the output
embeddings are EXACT (integer-valued float64 sums, order-independent)
and recomputable from first principles by pytest and the SQL lineage
oracle downstream.

Scale: feature extraction + projection is a narrow map over stack
rows — no shuffle, no driver traffic beyond the one-time weight
broadcast, output d_out doubles per row.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame

EMBED_SCHEMA = (
    "image_id string, sensor string, d int, embedding array<double>, checksum double"
)


def _seeded_matrix(seed: int, rows: int, cols: int, tag: int) -> np.ndarray:
    """Deterministic integer weight matrix in [-20, 20]: a pure
    function of (seed, tag, i, j), identical on every platform."""
    i = np.arange(rows, dtype=np.int64)[:, None]
    j = np.arange(cols, dtype=np.int64)[None, :]
    return (((seed * 73 + tag * 7919 + i * 31 + j * 17) % 41) - 20).astype(np.float64)


def _build_linear(conf: dict) -> dict:
    return {
        "W": _seeded_matrix(
            int(conf.get("seed", 42)), int(conf["d_in"]), int(conf.get("d_out", 8)), 1
        )
    }


def _apply_linear(wts: dict, X: np.ndarray) -> np.ndarray:
    return X @ wts["W"]


def _build_mlp(conf: dict) -> dict:
    seed, d_in = int(conf.get("seed", 42)), int(conf["d_in"])
    hidden, d_out = int(conf.get("hidden", 16)), int(conf.get("d_out", 8))
    return {
        "W1": _seeded_matrix(seed, d_in, hidden, 2),
        "W2": _seeded_matrix(seed, hidden, d_out, 3),
    }


def _apply_mlp(wts: dict, X: np.ndarray) -> np.ndarray:
    return np.maximum(X @ wts["W1"], 0.0) @ wts["W2"]


# name -> (build_weights(conf) -> dict[str, np.ndarray],
#          apply(weights, X[n, c]) -> np.ndarray[n, d_out]); the engine
# analog of the reference's jsonargparse class_path registry
# (embedding_generation.py:63-75)
_MODELS: dict[str, tuple[Callable[[dict], dict], Callable[[dict, np.ndarray], np.ndarray]]] = {
    "linear_seeded": (_build_linear, _apply_linear),
    "mlp_seeded": (_build_mlp, _apply_mlp),
}


def registered_models() -> list[str]:
    return sorted(_MODELS)


def channel_sums(stack: np.ndarray) -> np.ndarray:
    """Per-channel pixel sums over [T, H, W, C] — the feature vector
    the stand-in models consume. Integer-valued for uint8 stacks, so
    every downstream matmul is exact in float64."""
    return stack.astype(np.float64).sum(axis=(0, 1, 2))


def embed_stacks(
    stacked: DataFrame,
    model_name: str,
    model_args: dict | None = None,
    dtype: str = "float32",
) -> DataFrame:
    """Run a registered model over stack rows -> embeddings.

    ``stacked``: output of ``multisensor.stack_sensors`` /
    ``normalize_stacks`` (image_id, sensor, t, h, w, c, data binary).
    ``dtype``: payload element type — ``"uint8"`` for raw stacks,
    ``"float32"`` for normalized ones.

    Weights are built ONCE on the driver from the model config and
    broadcast; each Arrow batch extracts per-channel-sum features and
    applies the model in one vectorized matmul per distinct channel
    count. Output: (image_id, sensor, d, embedding, checksum) with
    checksum = sum(embedding) for the lineage/oracle path.
    """
    if model_name not in _MODELS:
        raise ValueError(f"unknown model {model_name!r}; registered: {registered_models()}")
    if dtype not in ("uint8", "float32"):
        raise ValueError(f"dtype must be 'uint8' or 'float32', got {dtype!r}")
    build, apply_fn = _MODELS[model_name]
    weights = build(dict(model_args or {}))
    spark = stacked.sparkSession
    bc = spark.sparkContext.broadcast(weights)
    np_dtype = np.uint8 if dtype == "uint8" else np.float32

    def fn(batches):
        wts = bc.value
        for b in batches:
            pdf = b.to_pandas()
            if len(pdf) == 0:
                continue
            n = len(pdf)
            feats = [None] * n
            for k, row in enumerate(pdf.itertuples()):
                t, h, w, c = int(row.t), int(row.h), int(row.w), int(row.c)
                st = np.frombuffer(row.data, dtype=np_dtype).reshape(t, h, w, c)
                feats[k] = channel_sums(st)
            emb = [None] * n
            widths = np.fromiter((f.shape[0] for f in feats), dtype=np.int64, count=n)
            # one matmul per distinct channel count (sensor mix)
            for c in np.unique(widths):
                idx = np.nonzero(widths == c)[0]
                out = apply_fn(wts, np.stack([feats[i] for i in idx]))
                for j, i in enumerate(idx):
                    emb[i] = out[j]
            rows = pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "sensor": pdf["sensor"],
                    "d": np.array([e.shape[0] for e in emb], dtype=np.int32),
                    "embedding": [e.tolist() for e in emb],
                    "checksum": np.array([float(e.sum()) for e in emb]),
                }
            )
            yield pa.RecordBatch.from_pandas(rows, preserve_index=False)

    return stacked.mapInArrow(fn, EMBED_SCHEMA)
