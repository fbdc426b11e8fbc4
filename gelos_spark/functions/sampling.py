"""Deterministic hash-based splitting & sampling for training-data
pipelines (driver brief: operations a large-scale training-data
pipeline needs, alongside the dedup/similarity families).

Why hash-based instead of ``df.randomSplit`` / ``df.sample``: RNG
sampling is seeded per-partition, so the assignment of a given row
changes with partitioning, cluster size, and upstream operator order —
a resume or a repartition silently reshuffles train/val/test and leaks
eval rows into training. Hashing the row ID instead makes the split a
pure column expression: stable across runs, partitionings and engine
versions, scan-speed (whole-stage codegen), zero shuffle, and
trivially resumable. This is the standard practice for large corpus
splits (e.g. per-document hash bucketing in public web-scale dataset
pipelines).

``BUCKETS = 1_000_000`` gives ppm-resolution fractions. The default
bucket expression is ``pmod(xxhash64(id, seed), BUCKETS)`` — Spark's
64-bit xxhash, well mixed for any id type. ``hash_split``'s
``bucket_expr`` can override it (the contract query uses a portable
Knuth-style multiplicative mix both Spark and DuckDB evaluate
exactly, so the whole operator is DuckDB-oracle-verified end to end).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

BUCKETS = 1_000_000


def _bucket(id_col: str, seed: int) -> Column:
    return F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(BUCKETS))


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float],
    seed: int = 42,
    split_col: str = "split",
    bucket_expr: Column | None = None,
) -> DataFrame:
    """Assign every row to exactly one named split (e.g. ``{"train":
    0.9, "val": 0.05, "test": 0.05}``) by id-hash bucket: rows land in
    ``[0, BUCKETS)`` and the cumulative weight thresholds carve it.
    Complete and disjoint by construction (the last split takes the
    remainder bucket range, so float rounding can never drop a row);
    weights are normalized, so ``{"a": 9, "b": 1}`` works too. Adding
    rows later never moves an existing row between splits (the
    assignment depends only on the row's own id)."""
    if not weights:
        raise ValueError("hash_split: weights must name at least one split")
    if any(w < 0 for w in weights.values()) or sum(weights.values()) <= 0:
        raise ValueError(f"hash_split: weights must be non-negative, sum > 0: {weights}")
    total = float(sum(weights.values()))
    names = list(weights)
    b = _bucket(id_col, seed) if bucket_expr is None else bucket_expr
    expr = F.lit(names[-1])  # remainder range -> last split
    cum = 0.0
    conds = []
    for name in names[:-1]:
        cum += weights[name] / total
        conds.append((name, int(round(cum * BUCKETS))))
    for name, threshold in reversed(conds):
        expr = F.when(b < threshold, F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def deterministic_sample(
    df: DataFrame,
    id_col: str,
    fraction: float | dict,
    strata_col: str | None = None,
    seed: int = 42,
) -> DataFrame:
    """Keep ~``fraction`` of rows by id-hash bucket — a deterministic
    twin of ``df.sample`` / ``df.sampleBy`` whose kept-set is a pure
    function of the row ids (repartition/resume/scale-out invariant,
    and a row kept at fraction f stays kept at any fraction >= f, so
    nested subsamples are supersets). With ``strata_col`` +
    ``fraction`` as a dict, each stratum gets its own fraction
    (missing strata default to 0.0 — explicitly opt strata in)."""
    b = _bucket(id_col, seed)
    if strata_col is None:
        if not isinstance(fraction, (int, float)):
            raise ValueError("deterministic_sample: scalar fraction needs no strata_col")
        return df.where(b < int(round(float(fraction) * BUCKETS)))
    if not isinstance(fraction, dict):
        raise ValueError("deterministic_sample: strata_col requires a fraction dict")
    thresholds = [
        (k, int(round(float(v) * BUCKETS))) for k, v in fraction.items()
    ]
    keep = reduce(
        lambda acc, kv: F.when(F.col(strata_col) == kv[0], b < kv[1]).otherwise(acc),
        thresholds,
        F.lit(False),
    )
    return df.where(keep)


def quantile_filter(
    df: DataFrame,
    score_col: str,
    keep_frac: float,
    by: list[str] | str,
    id_col: str,
    ascending: bool = False,
) -> DataFrame:
    """Per-group quantile gate: keep each group's top ``keep_frac``
    fraction of rows by ``score_col`` (``ascending=True`` keeps the
    bottom — e.g. lowest-perplexity). The standard quality-threshold
    pass of a training-data pipeline ("keep the best 30% of documents
    per language"), made deterministic: ties break on ``id_col``, and
    the kept count is ``ceil(n_group * round(keep_frac * 1e6) / 1e6)``
    — the fraction snaps to ppm resolution (hash_split's BUCKETS
    convention) and the ceil evaluates in pure BIGINT arithmetic, so
    the kept set is exact (double ceil would keep 8 of 100 at
    keep_frac=0.07, since 100*0.07 is 7.000000000000001 in doubles),
    a group is never emptied by a nonzero fraction, and results are
    invariant to partitioning and engine version (unlike
    percentile-threshold filtering, where ties AT the cut make the
    kept set float-fragile).

    Scale shape: ONE shuffle — ``row_number`` and the group-size
    ``count`` share the same window partition spec, so Catalyst plans
    a single Exchange + Sort; the filter then runs in codegen. ``by``
    is REQUIRED non-empty (a global quantile funnels the corpus
    through one window partition — same contract as asof_join; for a
    global gate, pre-bucket by a hash of the id and gate per bucket).
    """
    from pyspark.sql import Window

    by = [by] if isinstance(by, str) else list(by)
    if not by:
        raise ValueError(
            "quantile_filter: 'by' must name at least one group column "
            "(a global quantile is a single-partition window at scale)"
        )
    if not (0.0 < keep_frac <= 1.0):
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    score = F.col(score_col).asc() if ascending else F.col(score_col).desc()
    w = Window.partitionBy(*by).orderBy(score, F.col(id_col).asc())
    wn = Window.partitionBy(*by)
    ppm = int(round(float(keep_frac) * 1_000_000))
    # ceil(n * ppm / 1e6) in pure BIGINT (SQL `div`, never `/` whose
    # double quotient can round across an integer boundary)
    kept = F.expr(f"(__n * CAST({ppm} AS BIGINT) + 999999) div 1000000")
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count("*").over(wn))
        .where(F.col("__rn") <= kept)
        .drop("__rn", "__n")
    )
