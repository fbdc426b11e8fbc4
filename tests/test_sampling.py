"""Deterministic hash splitting / sampling (functions/sampling.py):
partitioning-invariance (the property RNG sampling lacks), complete +
disjoint coverage, fraction accuracy, nesting, and strata handling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gelos_spark.functions import sampling


@pytest.fixture(scope="module")
def docs(spark):
    return spark.range(0, 10_000).select(F.col("id").alias("doc_id")).persist()


def test_split_complete_disjoint_and_accurate(spark, docs):
    out = sampling.hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert sum(counts.values()) == 10_000  # complete + disjoint (one split per row)
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 8000) < 200  # xxhash mixes well
    assert abs(counts["val"] - 1000) < 120
    assert abs(counts["test"] - 1000) < 120


def test_split_invariant_under_repartition_and_growth(spark, docs):
    """THE property RNG sampling lacks: the same row gets the same
    split regardless of partitioning, and adding rows later never
    moves an existing row between splits."""
    w = {"train": 0.9, "test": 0.1}
    a = dict(sampling.hash_split(docs, "doc_id", w).select("doc_id", "split").collect())
    b = dict(
        sampling.hash_split(docs.repartition(13), "doc_id", w)
        .select("doc_id", "split")
        .collect()
    )
    assert a == b
    grown = spark.range(0, 20_000).select(F.col("id").alias("doc_id"))
    g = dict(sampling.hash_split(grown, "doc_id", w).select("doc_id", "split").collect())
    assert all(g[k] == v for k, v in a.items())  # old rows unmoved


def test_split_seed_and_weights_validation(spark, docs):
    w = {"a": 0.5, "b": 0.5}
    s1 = dict(sampling.hash_split(docs, "doc_id", w, seed=1).select("doc_id", "split").collect())
    s2 = dict(sampling.hash_split(docs, "doc_id", w, seed=2).select("doc_id", "split").collect())
    assert s1 != s2  # seed actually enters the hash
    # unnormalized weights work
    out = sampling.hash_split(docs, "doc_id", {"a": 9, "b": 1})
    counts = {r["split"]: r["count"] for r in out.groupBy("split").count().collect()}
    assert abs(counts["a"] - 9000) < 200
    with pytest.raises(ValueError, match="at least one"):
        sampling.hash_split(docs, "doc_id", {})
    with pytest.raises(ValueError, match="non-negative"):
        sampling.hash_split(docs, "doc_id", {"a": -1.0, "b": 2.0})


def test_sample_deterministic_and_nested(spark, docs):
    s10 = sampling.deterministic_sample(docs, "doc_id", 0.10)
    s20 = sampling.deterministic_sample(docs, "doc_id", 0.20)
    ids10 = {r["doc_id"] for r in s10.collect()}
    ids20 = {r["doc_id"] for r in s20.collect()}
    assert abs(len(ids10) - 1000) < 120 and abs(len(ids20) - 2000) < 160
    assert ids10 <= ids20  # nested subsamples are supersets
    again = {r["doc_id"] for r in sampling.deterministic_sample(
        docs.repartition(7), "doc_id", 0.10).collect()}
    assert again == ids10


def test_stratified_sample_per_stratum_fractions(spark):
    df = spark.range(0, 8000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "en").otherwise("de").alias("lang"),
    )
    out = sampling.deterministic_sample(
        df, "doc_id", {"en": 0.5, "de": 0.05}, strata_col="lang"
    )
    counts = {r["lang"]: r["count"] for r in out.groupBy("lang").count().collect()}
    assert abs(counts["en"] - 1000) < 120  # 2000 en rows * 0.5
    assert abs(counts["de"] - 300) < 100  # 6000 de rows * 0.05
    # strata not named are dropped, not silently kept
    only_en = sampling.deterministic_sample(df, "doc_id", {"en": 1.0}, strata_col="lang")
    assert only_en.where("lang = 'de'").count() == 0
    with pytest.raises(ValueError, match="fraction dict"):
        sampling.deterministic_sample(df, "doc_id", 0.5, strata_col="lang")
    with pytest.raises(ValueError, match="no strata_col"):
        sampling.deterministic_sample(df, "doc_id", {"en": 0.5})


def test_quantile_filter_brute_force_and_contracts(spark):
    """quantile_filter vs a pandas reference (integer-exact
    ceil(n*ppm/1e6) kept, ties by id), the 0.07x100 double-rounding
    regression, partitioning invariance and ascending mode."""
    from gelos_spark.functions.sampling import quantile_filter

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "lang", "n_chars"
    )
    out = quantile_filter(docs, "n_chars", 0.3, "lang", "doc_id")
    got = sorted(r.doc_id for r in out.collect())

    pdf = docs.toPandas()
    exp = []
    for lang, g in pdf.groupby("lang"):
        # the ppm contract: ceil(n * 300000 / 1e6) in integers — NOT
        # math.ceil(n * 0.3), whose double product rounds up at e.g.
        # n=100 (30.000000000000004 -> 31)
        keep = (len(g) * 300_000 + 999_999) // 1_000_000
        g = g.sort_values(["n_chars", "doc_id"], ascending=[False, True])
        exp.extend(g.doc_id.iloc[:keep].tolist())
    assert got == sorted(exp) and got

    # the double-rounding regression: keep_frac=0.07 over a 100-row
    # group keeps exactly 7 (double ceil would keep 8)
    g100 = spark.range(100).select(
        F.lit("g").alias("grp"), F.col("id").alias("rid"), (F.col("id") % 10).alias("s")
    )
    assert quantile_filter(g100, "s", 0.07, "grp", "rid").count() == 7

    # invariant under repartitioning
    got7 = sorted(
        r.doc_id
        for r in quantile_filter(
            docs.repartition(7), "n_chars", 0.3, "lang", "doc_id"
        ).collect()
    )
    assert got7 == got

    # ascending keeps the SHORTEST docs; disjoint from the top set
    # unless a group is small enough that both fractions overlap
    asc = sorted(
        r.doc_id
        for r in quantile_filter(
            docs, "n_chars", 0.3, "lang", "doc_id", ascending=True
        ).collect()
    )
    assert len(asc) == len(got) and asc != got

    with pytest.raises(ValueError, match="by"):
        quantile_filter(docs, "n_chars", 0.3, [], "doc_id")
    with pytest.raises(ValueError, match="keep_frac"):
        quantile_filter(docs, "n_chars", 0.0, "lang", "doc_id")
