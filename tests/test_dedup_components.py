"""pairs -> connected components -> survivor selection
(operators/dedup.connected_components / dedup_near — the transitive
half of near-dedup: pair operators emit edges, these group them into
duplicate clusters and pick one survivor per cluster). Oracle:
pure-Python union-find over the same edge list.

Every Spark test runs on both engines, one after the other: ``driver``
(the edge set fits under ``DRIVER_CC_EDGES``, NumPy union-find on the
driver) and ``star`` (the bound patched to 0, so large-star/small-star
contraction runs)."""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gelos_spark.operators import dedup


ENGINES = {"driver": dedup.DRIVER_CC_EDGES, "star": 0}


@pytest.fixture
def engines(monkeypatch):
    """``for engine in engines():`` runs the loop body once per engine,
    with ``DRIVER_CC_EDGES`` set so that engine runs; the bound is
    restored when the test ends."""

    def each():
        for name, bound in ENGINES.items():
            monkeypatch.setattr(dedup, "DRIVER_CC_EDGES", bound)
            yield name

    return each


def _uf(edges):
    """Union-find oracle: {node: min id of its component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _pairs_df(spark, edges, typ="long"):
    pdf = pd.DataFrame(edges, columns=["id_a", "id_b"])
    return spark.createDataFrame(pdf, f"id_a {typ}, id_b {typ}")


def _components(df):
    return {r["id"]: r["component"] for r in df.collect()}


def _shuffled_chain(n, seed):
    """A path over n nodes whose labels are a random permutation, so
    the min label sits anywhere along the path."""
    lab = np.random.default_rng(seed).permutation(n)
    return lab[:-1], lab[1:]


def test_random_graph_matches_union_find(spark, engines):
    """250 random edges over a sparse id space — components exactly
    equal the union-find oracle's, including multi-hop merges."""
    rng = np.random.default_rng(7)
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, 500, size=(250, 2))
        if a != b
    ]
    for engine in engines():
        got = _components(dedup.connected_components(_pairs_df(spark, edges)))
        assert got == _uf(edges), engine


def test_chain_converges_fast(spark, engines):
    """A 64-node path graph has diameter 63 — min-label propagation
    would need 63 rounds; star contraction must collapse it to one
    component well inside the default max_rounds (it raises on
    non-convergence, so returning at all is the assertion)."""
    edges = [(i, i + 1) for i in range(63)]
    for engine in engines():
        out = dedup.connected_components(_pairs_df(spark, edges)).collect()
        assert len(out) == 64, engine
        assert {r["component"] for r in out} == {0}, engine
        assert sorted(r["id"] for r in out) == list(range(64)), engine


def test_cliques_stay_separate_and_unpaired_ids_absent(spark, engines):
    edges = [(a, b) for a in range(0, 5) for b in range(a + 1, 5)] + [
        (a, b) for a in range(100, 104) for b in range(a + 1, 104)
    ]
    for engine in engines():
        got = _components(dedup.connected_components(_pairs_df(spark, edges)))
        assert got == {**{i: 0 for i in range(5)}, **{i: 100 for i in range(100, 104)}}, engine
        assert 50 not in got  # ids not in any pair don't appear


def test_empty_pairs(spark, engines):
    for engine in engines():
        out = dedup.connected_components(_pairs_df(spark, []))
        assert out.columns == ["id", "component"], engine
        assert out.count() == 0, engine


def test_string_ids(spark, engines):
    """greatest/least and min are lexicographic on strings — the
    survivor is the lexicographic minimum."""
    edges = [("doc_b", "doc_a"), ("doc_b", "doc_c"), ("zz", "zy")]
    for engine in engines():
        got = _components(dedup.connected_components(_pairs_df(spark, edges, typ="string")))
        assert got == {
            "doc_a": "doc_a",
            "doc_b": "doc_a",
            "doc_c": "doc_a",
            "zy": "zy",
            "zz": "zy",
        }, engine


_shuffled = _shuffled_chain(300, seed=3)

CASES = {
    "shuffled_chain": ("long", [(int(a), int(b)) for a, b in zip(*_shuffled)]),
    "star": ("long", [(0, i) for i in range(1, 40)] + [(i, 100) for i in range(60, 99)]),
    "duplicate_and_reversed": ("long", [(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (9, 8), (8, 9)]),
    "int": ("int", [(7, -3), (-3, 12), (40, 41)]),
    "double": ("double", [(0.5, -2.25), (-2.25, 1e9), (3.0, 3.5), (1e-9, 3.5)]),
    # "é" (U+00E9) sorts after "z" in code points and in UTF-8 bytes
    "non_ascii_string": ("string", [("é", "z"), ("z", "ab"), ("日本", "é"), ("ü", "ñ")]),
}


def _typed_schema(pairs):
    """The (id, component) schema both engines return: the pairs' id type."""
    t = pairs.schema["id_a"].dataType
    return T.StructType([T.StructField("id", t, True), T.StructField("component", t, True)])


@pytest.mark.parametrize("case", sorted(CASES))
def test_case_matches_union_find_with_typed_schema(spark, engines, case):
    """Each case equals the union-find oracle on both engines, and both
    return the same schema: the pairs' id type."""
    typ, edges = CASES[case]
    pairs = _pairs_df(spark, edges, typ=typ)
    for engine in engines():
        out = dedup.connected_components(pairs)
        assert out.schema == _typed_schema(pairs), engine
        assert _components(out) == _uf(edges), engine


def test_self_pairs_only_give_empty_typed_result(spark, engines):
    """Self-pairs are not edges: the result is empty, and still typed
    with the pairs' id type."""
    pairs = _pairs_df(spark, [("a", "a"), ("b", "b")], typ="string")
    for engine in engines():
        out = dedup.connected_components(pairs)
        assert out.schema == _typed_schema(pairs), engine
        assert out.count() == 0, engine


def test_driver_union_find_hooks_roots():
    """The driver union-find on a 200k shuffled-label chain finishes
    in O(log n) rounds: hooking node labels instead of roots moves a
    label one hop per round and runs for minutes here."""
    n = 200_000
    a, b = _shuffled_chain(n, seed=11)
    t0 = time.perf_counter()
    lab = dedup._driver_components(a, b, n)
    elapsed = time.perf_counter() - t0
    assert (lab == 0).all()
    assert elapsed < 10.0, elapsed


def test_star_fallback_collects_at_most_bound_plus_one(spark, monkeypatch, collect_sizes):
    """Above the bound the probe collect stops at bound+1 rows, and
    star contraction then finds the same components as the oracle."""
    edges = [(i, i + 1) for i in range(40)] + [(i, i + 1) for i in range(100, 130)]
    monkeypatch.setattr(dedup, "DRIVER_CC_EDGES", 10)
    pairs = _pairs_df(spark, edges)
    collect_sizes.clear()
    out = dedup.connected_components(pairs)
    assert collect_sizes == [11], collect_sizes
    assert _components(out) == _uf(edges)


def test_dedup_near_annotates_and_filters(spark, engines):
    docs = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    # clusters {0,1,2} (a chain) and {7,8}; the rest unpaired
    pairs = _pairs_df(spark, [(0, 1), (1, 2), (7, 8)])

    for engine in engines():
        ann = dedup.dedup_near(docs, pairs, id_col="doc_id").collect()
        comp = {r["doc_id"]: r["component"] for r in ann}
        canon = {r["doc_id"]: r["is_canonical"] for r in ann}
        assert comp == {0: 0, 1: 0, 2: 0, 7: 7, 8: 7, **{i: i for i in (3, 4, 5, 6, 9, 10, 11)}}, engine
        assert canon[0] and not canon[1] and not canon[2] and canon[7] and not canon[8], engine
        assert all(canon[i] for i in (3, 4, 5, 6, 9, 10, 11)), engine

        kept = dedup.dedup_near(docs, pairs, id_col="doc_id", keep="canonical")
        assert kept.columns == ["doc_id", "component"], engine
        assert sorted(r["doc_id"] for r in kept.collect()) == [0, 3, 4, 5, 6, 7, 9, 10, 11], engine

    with pytest.raises(ValueError, match="keep"):
        dedup.dedup_near(docs, pairs, id_col="doc_id", keep="first")


def test_components_over_real_pair_operator(spark, engines):
    """End-to-end with a real edge source: hamming_hash_pairs over a
    fingerprint designed so consecutive docs chain (hamming 2) within
    groups of 8 — components must be exactly the groups, found
    transitively (doc 0~2 is hamming 4, NOT an edge)."""
    docs = spark.range(0, 64).select(
        F.col("id").alias("doc_id"),
        F.expr(
            "CAST(3 * shiftleft(CAST(1 AS BIGINT), CAST(id % 8 AS INT)) AS BIGINT)"
            " + CAST((CASE WHEN (id div 8) % 2 = 1 THEN 7 * shiftleft(CAST(1 AS BIGINT), 20) ELSE 0 END)"
            " + (CASE WHEN (id div 8) % 4 >= 2 THEN 7 * shiftleft(CAST(1 AS BIGINT), 23) ELSE 0 END)"
            " + (CASE WHEN (id div 8) >= 4 THEN 7 * shiftleft(CAST(1 AS BIGINT), 26) ELSE 0 END) AS BIGINT)"
        ).alias("fp"),
    )
    pairs = dedup.hamming_hash_pairs(docs, "doc_id", "fp", max_hamming=2)
    edge_list = [(r["id_a"], r["id_b"]) for r in pairs.collect()]
    # consecutive-within-group edges only
    assert edge_list == [
        (g * 8 + i, g * 8 + i + 1) for g in range(8) for i in range(7)
    ]
    for engine in engines():
        got = _components(dedup.connected_components(pairs))
        assert got == {i: (i // 8) * 8 for i in range(64)}, engine


def test_long_chain_pins_logarithmic_convergence(spark, engines):
    """A 512-node path (diameter 511): min-label propagation would
    need 511 rounds; star contraction must converge within the
    default max_rounds=25 (it raises otherwise) — this pins the
    O(log^2 n) round-complexity claim, not just correctness."""
    edges = [(i, i + 1) for i in range(511)]
    for engine in engines():
        out = dedup.connected_components(_pairs_df(spark, edges)).collect()
        assert len(out) == 512, engine
        assert {r["component"] for r in out} == {0}, engine


# ------------------------------------------------ driver-action budgets


def _phash_images(spark):
    """96 string-id images in 24 clusters of 4 near-copies (1-2 bit
    flips of a random 64-bit phash), chained within each cluster."""
    rng = np.random.default_rng(5)
    rows = []
    for c, base in enumerate(rng.integers(-(2**63), 2**63 - 1, size=24, dtype=np.int64)):
        h = int(base)
        for j in range(4):
            rows.append((f"img_{c:02d}_{j}", h))
            h ^= 1 << int(rng.integers(0, 64))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["image_id", "phash"]), "image_id string, phash long")


def test_dedup_near_driver_action_budget(spark, jobs_launched):
    """phash pairs -> dedup_near(keep="canonical").count() over a
    request-sized edge set launches at most 6 Spark jobs: the bounded
    edge collect (it runs the pair join's stages) and the kept count's
    stages. Star contraction took 21 here, for its per-round fixpoint
    probes and their AQE stage jobs, and an eager checkpoint of the
    result took 9."""
    images = _phash_images(spark)
    kept = []

    def call():
        pairs = dedup.phash_dup_pairs(images, max_hamming=4)
        kept.append(dedup.dedup_near(images, pairs, id_col="image_id", keep="canonical").count())

    jobs = jobs_launched("dedup_near_budget", call)
    assert kept == [24]
    assert jobs <= 6, jobs


def test_phash_dup_pairs_driver_action_budget(spark, jobs_launched):
    """phash_dup_pairs(...).count() keeps its measured job count (4:
    the banded join's stages), so an added count()/collect() in the
    operator fails here."""
    images = _phash_images(spark)
    n = []
    jobs = jobs_launched(
        "phash_pairs_budget",
        lambda: n.append(dedup.phash_dup_pairs(images, max_hamming=4).count()),
    )
    assert n == [144]
    assert jobs <= 4, jobs


def test_minhash_lsh_pairs_driver_action_budget(spark, jobs_launched):
    """minhash_lsh_pairs(...).count() keeps its measured job count (5:
    the signature checkpoint and banded join's stages; an eager
    checkpoint of the result took 10), so an added count()/collect()
    in the operator fails here."""
    rng = np.random.default_rng(9)
    words = [f"w{i}" for i in range(200)]
    texts = [" ".join(rng.choice(words, 30)) for _ in range(40)]
    texts += [t + " extra" for t in texts[:10]]
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts}), "doc_id long, text string"
    )
    n = []
    jobs = jobs_launched(
        "minhash_budget",
        lambda: n.append(dedup.minhash_lsh_pairs(docs, num_hashes=64, bands=16, min_jaccard=0.5).count()),
    )
    assert n[0] >= 10
    assert jobs <= 5, jobs
