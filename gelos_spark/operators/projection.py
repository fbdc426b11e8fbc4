"""Embedding projection: distributed PCA + seeded driver-side t-SNE
with the reference's CSV memoization contract.

Reference parity (SURVEY.md §3.2): the reference's second CLI entry
point runs seeded sklearn t-SNE over extracted embeddings
(/root/reference/gelos/tsne_transform.py:8-11), writes an id-indexed
CSV named ``{model}_{strategy}_tsne_x/_tsne_y``
(tsne_transform.py:14-37), and on re-run loads the CSV instead of
recomputing (embedding_transformation.py:85-94).

Engine design, Spark-first:
  - moments/covariance are ONE narrow ``mapInPandas`` pass emitting a
    per-partition (count, sum[D], outer-product sum[D,D]) partial —
    no shuffle, nothing payload-sized at the driver (dim <= ~1k, so
    the [D,D] matrix is tiny). This is the same partial-sum shape as
    IVF training.
  - PCA eigendecomposition happens on the driver over the [D,D]
    covariance (exact, deterministic: eigh + a largest-|component|-
    positive sign convention).
  - projection back over the corpus is a vectorized pandas UDF
    (matrix multiply per Arrow batch).
  - t-SNE runs on the driver over a DETERMINISTIC hash-ordered sample
    (<= n_sample rows; the reference also samples for runtime,
    docs/PRD.md:146-153) with PCA initialization — given the init,
    exact t-SNE gradient descent has no random draws at all, so the
    output is bit-reproducible.
  - the coordinate CSV doubles as a memo: ``tsne_with_memo`` returns
    the stored coords without recomputing when the file exists —
    the reference's marker-file/CSV resume semantics.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ----------------------------------------------------------- moments


def column_moments(df: DataFrame, vec_col: str = "embedding") -> tuple[int, np.ndarray, np.ndarray]:
    """(n, sum[D], outer-product sum [D,D]) of a vector column via one
    narrow mapInPandas pass (per-partition float64 partials, merged on
    the driver in deterministic partition order)."""
    first = df.select(F.size(vec_col).alias("d")).first()
    if first is None:
        raise ValueError("column_moments: empty input")
    dim = int(first["d"])
    vecs = df.select(F.col(vec_col).alias("v"))

    def partials(batches, dim=dim):
        n = 0
        s = np.zeros(dim, dtype=np.float64)
        ss = np.zeros((dim, dim), dtype=np.float64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
            n += len(m)
            s += m.sum(axis=0)
            ss += m.T @ m
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]})

    rows = vecs.mapInPandas(
        partials, "n long, s array<double>, ss array<double>"
    ).collect()
    n = 0
    s = np.zeros(dim, dtype=np.float64)
    ss = np.zeros((dim, dim), dtype=np.float64)
    for r in rows:
        n += r["n"]
        s += np.asarray(r["s"], dtype=np.float64)
        ss += np.asarray(r["ss"], dtype=np.float64).reshape(dim, dim)
    return n, s, ss


def covariance(df: DataFrame, vec_col: str = "embedding") -> tuple[int, np.ndarray, np.ndarray]:
    """(n, mean[D], population covariance [D,D]); cov computed as
    E[xy] - E[x]E[y] — the same association the DuckDB oracle uses, so
    the two agree to the last few ulps."""
    n, s, ss = column_moments(df, vec_col)
    mean = s / n
    cov = ss / n - np.outer(mean, mean)
    return n, mean, cov


# --------------------------------------------------------------- PCA


@dataclass
class PCAModel:
    mean: np.ndarray  # [D]
    components: np.ndarray  # [k, D] rows = principal axes
    explained_var: np.ndarray  # [k]


def _sign_convention(components: np.ndarray) -> np.ndarray:
    """Deterministic eigenvector orientation: the largest-|x| entry of
    each component is made positive (eigh returns an arbitrary sign)."""
    out = components.copy()
    for i in range(out.shape[0]):
        j = int(np.argmax(np.abs(out[i])))
        if out[i, j] < 0:
            out[i] = -out[i]
    return out


def pca_train(df: DataFrame, vec_col: str = "embedding", k: int = 2) -> PCAModel:
    """Exact distributed PCA: covariance via ``covariance`` (one
    narrow pass), eigendecomposition on the driver."""
    _, mean, cov = covariance(df, vec_col)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(vals)[::-1][:k]
    comps = _sign_convention(vecs[:, order].T)
    return PCAModel(mean=mean, components=comps, explained_var=vals[order])


def pca_project(
    df: DataFrame,
    model: PCAModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix: str = "pc",
) -> DataFrame:
    """(id, pc1..pck) projection — vectorized matrix multiply per
    Arrow batch, components broadcast in the UDF closure."""
    mean, comps = model.mean, model.components
    k = comps.shape[0]

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _proj(vec: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in vec])
        p = (m - mean[None, :]) @ comps.T
        return pd.Series(list(p))

    out = df.select(F.col(id_col), _proj(F.col(vec_col)).alias("p"))
    cols = [F.col(id_col)] + [
        F.col("p")[i].alias(f"{prefix}{i + 1}") for i in range(k)
    ]
    return out.select(*cols).orderBy(id_col)


# ------------------------------------------------------------- t-SNE


def _pairwise_sq_dists(x: np.ndarray) -> np.ndarray:
    sq = (x * x).sum(axis=1)
    d = sq[:, None] + sq[None, :] - 2.0 * (x @ x.T)
    np.fill_diagonal(d, 0.0)
    return np.maximum(d, 0.0)


def _binary_search_p(dists: np.ndarray, perplexity: float) -> np.ndarray:
    """Row-stochastic affinities with per-row precision found by
    binary search to hit the target perplexity (standard t-SNE)."""
    n = dists.shape[0]
    target = np.log(perplexity)
    P = np.zeros((n, n), dtype=np.float64)
    for i in range(n):
        lo, hi, beta = 0.0, np.inf, 1.0
        di = np.delete(dists[i], i)
        for _ in range(50):
            e = np.exp(-di * beta)
            se = e.sum()
            if se <= 0:
                h = 0.0
                p = np.zeros_like(di)
            else:
                p = e / se
                h = -(p[p > 0] * np.log(p[p > 0])).sum()
            if abs(h - target) < 1e-5:
                break
            if h > target:
                lo = beta
                beta = beta * 2.0 if hi == np.inf else (beta + hi) / 2.0
            else:
                hi = beta
                beta = (lo + beta) / 2.0
        P[i, np.arange(n) != i] = p
    return P


def tsne_fit(
    x: np.ndarray,
    perplexity: float = 30.0,
    n_iter: int = 300,
    seed: int = 42,
) -> np.ndarray:
    """Exact (O(n^2)) 2-D t-SNE, deterministic: PCA initialization (no
    random start), fixed iteration schedule with momentum + early
    exaggeration. Driver-side by design — the reference's t-SNE is
    also single-node (gelos/tsne_transform.py:8-11); the engine bounds
    n by deterministic sampling upstream. ``seed`` is kept in the
    signature for parity with the reference's random_state=42 but the
    PCA init makes the procedure draw-free."""
    n = x.shape[0]
    if n <= 2:
        return np.zeros((n, 2), dtype=np.float64)
    perplexity = min(perplexity, (n - 1) / 3.0)
    xc = x - x.mean(axis=0, keepdims=True)
    cov = (xc.T @ xc) / n
    vals, vecs = np.linalg.eigh(cov)
    comps = _sign_convention(vecs[:, np.argsort(vals)[::-1][:2]].T)
    y = (xc @ comps.T) * 1e-4 / max(np.abs(xc @ comps.T).max(), 1e-12)

    P = _binary_search_p(_pairwise_sq_dists(x), perplexity)
    P = (P + P.T) / (2.0 * n)
    P = np.maximum(P, 1e-12)

    gains = np.ones_like(y)
    inc = np.zeros_like(y)
    momentum, final_momentum = 0.5, 0.8
    for it in range(n_iter):
        ex = 12.0 if it < 100 else 1.0
        num = 1.0 / (1.0 + _pairwise_sq_dists(y))
        np.fill_diagonal(num, 0.0)
        Q = np.maximum(num / num.sum(), 1e-12)
        PQ = (ex * P - Q) * num
        grad = 4.0 * ((np.diag(PQ.sum(axis=1)) - PQ) @ y)
        m = momentum if it < 20 else final_momentum
        gains = np.where(np.sign(grad) != np.sign(inc), gains + 0.2, gains * 0.8)
        gains = np.maximum(gains, 0.01)
        inc = m * inc - 100.0 * gains * grad
        y = y + inc
        y = y - y.mean(axis=0, keepdims=True)
    return y


def coord_cols(model_name: str, strategy: str) -> tuple[str, str]:
    """The reference's snake-case coordinate naming contract
    (gelos/tsne_transform.py:22-28): lowercased, spaces/dashes
    collapsed to underscores."""

    def norm(s: str) -> str:
        return s.lower().replace(" ", "_").replace("-", "_")

    stem = f"{norm(model_name)}_{norm(strategy)}"
    return f"{stem}_tsne_x", f"{stem}_tsne_y"


def sample_ids_hash_order(
    df: DataFrame, id_col: str, n: int, seed: int = 42
) -> DataFrame:
    """Deterministic exact-n sample: hash order + id tie-break (the
    engine's W2 sampling rule — partition-layout-invariant, unlike
    Bernoulli df.sample)."""
    return df.orderBy(
        F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)).asc(), F.col(id_col).asc()
    ).limit(n)


def tsne_coords(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model_name: str = "engine",
    strategy: str = "full",
    n_sample: int = 1000,
    perplexity: float = 30.0,
    n_iter: int = 300,
    seed: int = 42,
) -> pd.DataFrame:
    """Sampled seeded t-SNE coordinates as a small pandas frame
    (id + named x/y columns), ready for the CSV memo sink."""
    sampled = sample_ids_hash_order(df, id_col, n_sample, seed).select(id_col, vec_col)
    pdf = sampled.toPandas()
    x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    y = tsne_fit(x, perplexity=perplexity, n_iter=n_iter, seed=seed)
    cx, cy = coord_cols(model_name, strategy)
    out = pd.DataFrame({id_col: pdf[id_col].to_numpy(), cx: y[:, 0], cy: y[:, 1]})
    return out.sort_values(id_col).reset_index(drop=True)


def tsne_with_memo(
    spark: SparkSession,
    csv_path: str,
    compute: Callable[[], pd.DataFrame],
    id_col: str = "vec_id",
) -> tuple[DataFrame, bool]:
    """The reference's CSV memoization (embedding_transformation.py:
    85-94): if ``csv_path`` exists, load it and SKIP the computation;
    else compute, persist as CSV, return. Returns (coords DataFrame,
    memo_hit). Coordinates round-trip through the CSV in '%.17g' so
    the memo is value-stable."""
    if os.path.exists(csv_path):
        pdf = pd.read_csv(csv_path)
        return spark.createDataFrame(pdf), True
    pdf = compute()
    tmp = f"{csv_path}.tmp-{os.getpid()}"
    pdf.to_csv(tmp, index=False, float_format="%.17g")
    os.replace(tmp, csv_path)  # atomic commit, marker-file style
    return spark.createDataFrame(pdf), False
