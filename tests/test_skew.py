"""Salting correctness: salted plans must be result-invariant
(SURVEY.md §4 item 1 — "results must be salt-invariant (verified in
tests)"). The fixture mixture (80% of rows in 8 hot clusters,
sources/synth.py) is exactly the skew the north rule names."""

from __future__ import annotations

from pyspark.sql import functions as F

from gelos_spark.operators import skew


def _skewed(spark, n=5000):
    # key 0 holds ~90% of rows — one hot reducer without salting
    return spark.range(0, n).select(
        F.col("id").alias("uid"),
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id") % 97).alias("k"),
    )


def test_hot_keys_detects_the_hot_key(spark):
    hot = skew.skew_stats(_skewed(spark), "k", factor=8.0)[0]
    assert 0 in hot and len(hot) <= 3


def test_salted_join_equals_plain(spark):
    fact = _skewed(spark)
    dim = spark.range(0, 97).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("dv")
    )
    plain = sorted((r.uid, r.dv) for r in fact.join(dim, "k").collect())
    salted = sorted(
        (r.uid, r.dv)
        for r in skew.salted_join(fact, dim, "k", uid="uid", hot=[0], n_salt=8).collect()
    )
    assert plain == salted


def test_skew_stats_autoderives_n_salt(spark):
    """n_salt comes from the observed skew (ceil(max/mean), clamped):
    the ~90%-in-one-key mixture must yield a large salt fan-out with
    no caller tuning (round-6 auto-tune), and a uniform table must
    not salt at all."""
    hot, n_salt = skew.skew_stats(_skewed(spark), "k")
    assert 0 in hot
    # ~4500 rows on key 0 vs a mean of ~57 -> ratio ~79, clamped to 64
    assert n_salt == skew.MAX_AUTO_SALT
    uniform = spark.range(0, 1000).select(
        F.col("id").alias("uid"), (F.col("id") % 100).alias("k")
    )
    hot_u, n_u = skew.skew_stats(uniform, "k")
    assert hot_u == [] and n_u == 1


def test_salted_join_auto_equals_plain(spark):
    """The hot set and n_salt come from the skew_stats pre-pass, and
    the salted join still equals the plain join."""
    fact = _skewed(spark)
    dim = spark.range(0, 97).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("dv")
    )
    plain = sorted((r.uid, r.dv) for r in fact.join(dim, "k").collect())
    hot, n_salt = skew.skew_stats(fact, "k")
    auto = sorted(
        (r.uid, r.dv)
        for r in skew.salted_join(fact, dim, "k", uid="uid", hot=hot, n_salt=n_salt).collect()
    )
    assert plain == auto


def test_salt_spreads_hot_key(spark):
    df = skew.with_salt(_skewed(spark), "k", hot=[0], n_salt=8, uid="uid")
    n_salts = df.where(F.col("k") == 0).select(skew.SALT_COL).distinct().count()
    assert n_salts == 8  # hot key fanned out across 8 shuffle keys
    cold = df.where(F.col("k") != 0).select(skew.SALT_COL).distinct().collect()
    assert [r[skew.SALT_COL] for r in cold] == [0]


def test_explicit_hot_salts_an_unskewed_table(spark):
    """A caller-pinned hot set salts even a table whose observed
    counts show no skew: the hot key fans out, and the join stays
    exact."""
    fact = spark.range(0, 200).selectExpr("id AS uid", "CAST(id % 10 AS INT) AS k")
    dim = spark.range(0, 10).selectExpr("CAST(id AS INT) AS k", "id * 100 AS dv")
    salted = skew.with_salt(fact, "k", [3], 16, uid="uid")
    spread = salted.where(F.col("k") == 3).select(skew.SALT_COL).distinct().count()
    assert spread > 1  # NOT the single-reducer degenerate case
    plain = sorted((r.uid, r.dv) for r in fact.join(dim, "k").collect())
    got = sorted(
        (r.uid, r.dv)
        for r in skew.salted_join(fact, dim, "k", uid="uid", hot=[3], n_salt=16).collect()
    )
    assert got == plain
