"""Skew handling: explicit key salting + AQE skew-join config
(SURVEY.md §4 "custom work" item 1; north rule: "Skew from dense
urban cells is handled with explicit salting + AQE skew-join hints").

The dense-urban-cell problem: 80% of tiles live in a handful of cells
(FIXTURES.md tracker mixture), so a shuffle keyed on ``cell_id`` puts
most rows in a few reducer partitions. Two complementary mitigations:

  - **AQE skew split** (config, already on in session.py): splits
    oversized shuffle partitions at runtime — covers joins.
  - **Explicit salting** (this module): for aggregations and for joins
    whose small side can be replicated, append
    ``salt = pmod(xxhash64(uid), n_salt)`` to the hot keys only,
    pre-aggregate / join on (key, salt), then merge. Salting is
    *result-invariant by construction* for decomposable aggregates
    (count/sum/min/max) and for equi-joins (the dim side is exploded
    over every salt value) — tests/test_skew.py asserts equality
    against the unsalted plan.

``skew_stats`` is the cheap pre-pass (count per key, keep keys holding
more than ``factor`` x the mean load); at 10^12 scale it runs
on a sample or on the previous snapshot's per-cell counts (the vector
pyramid's res-N level is exactly that table).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "_salt"

MAX_AUTO_SALT = 64


def skew_stats(df: DataFrame, key: str, factor: float = 8.0) -> tuple[list, int]:
    """One ``groupBy(key).count()`` pre-pass -> ``(hot keys, n_salt)``
    with ``n_salt`` DERIVED from the observed skew instead of guessed
    by the caller: the hottest key's rows need ``ceil(max/mean)``
    mean-sized reducer chunks, clamped to [2, MAX_AUTO_SALT] (beyond
    ~64 the per-salt partial-agg fan-in costs more than the skew left;
    a mis-tuned caller can no longer under-salt). The counts frame is
    persisted for the two tiny actions so the input scans once; at
    10^12 scale run this on a sample or the vector pyramid's per-cell
    count table (module docstring)."""
    counts = df.groupBy(key).count().persist()
    try:
        agg = counts.agg(F.avg("count").alias("m"), F.max("count").alias("mx")).collect()[0]
        mean, mx = agg["m"] or 0.0, agg["mx"] or 0
        hot = [r[key] for r in counts.where(F.col("count") > factor * mean).collect()]
    finally:
        counts.unpersist()
    if not hot or mean <= 0:
        return hot, 1
    return hot, max(2, min(MAX_AUTO_SALT, math.ceil(mx / mean)))


def with_salt(df: DataFrame, key: str, hot: list, n_salt: int, uid: str) -> DataFrame:
    """Append a salt column: pmod(xxhash64(uid), n_salt) on hot keys,
    0 elsewhere. ``uid`` must be a stable row id so the salt is
    deterministic (exact-match + resume requirements)."""
    is_hot = F.col(key).isin(hot) if hot else F.lit(False)
    return df.withColumn(
        SALT_COL,
        F.when(is_hot, F.pmod(F.xxhash64(F.col(uid)), F.lit(n_salt))).otherwise(F.lit(0)),
    )


def explode_salts(dim: DataFrame, key: str, hot: list, n_salt: int) -> DataFrame:
    """Replicate dim rows of hot keys across every salt value (cold
    keys keep salt 0), so ``fact JOIN dim ON (key, salt)`` is exact."""
    is_hot = F.col(key).isin(hot) if hot else F.lit(False)
    salts = F.when(is_hot, F.sequence(F.lit(0), F.lit(n_salt - 1))).otherwise(
        F.array(F.lit(0))
    )
    return dim.withColumn(SALT_COL, F.explode(salts))


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    uid: str,
    hot: list,
    n_salt: int,
    how: str = "inner",
) -> DataFrame:
    """Equi-join robust to hot ``key`` values: fact side salted by
    uid-hash, dim side exploded over salts — the hot key's rows spread
    over ``n_salt`` reducers instead of one. Result == plain join.
    ``skew_stats`` derives both ``hot`` and ``n_salt`` from the fact
    side's observed counts."""
    f = with_salt(fact, key, hot, n_salt, uid)
    d = explode_salts(dim, key, hot, n_salt)
    return f.join(d, [key, SALT_COL], how).drop(SALT_COL)
