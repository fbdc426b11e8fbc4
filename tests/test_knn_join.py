"""kNN ring-expansion join vs full-distance-matrix oracle
(FIXTURES.md §6: engine rows must match exactly, including
(distance, image_id) tie-breaks)."""

import importlib.util
import pathlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gelos_spark.functions.geometry import haversine_np
from gelos_spark.operators import knn_join as kj
from gelos_spark.operators.knn_join import knn_join
from gelos_spark.sources import synth

import oracles

_spec = importlib.util.spec_from_file_location(
    "plan_shapes", pathlib.Path(__file__).resolve().parents[1] / "scripts" / "plan_shapes.py"
)
plan_shapes = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(plan_shapes)


def _brute_knn(tracker: pd.DataFrame, queries: pd.DataFrame) -> pd.DataFrame:
    rows = []
    tlon = tracker["lon"].to_numpy()
    tlat = tracker["lat"].to_numpy()
    tid = tracker["image_id"].to_numpy()
    for q in queries.itertuples():
        d = haversine_np(np.full_like(tlon, q.lon), np.full_like(tlat, q.lat), tlon, tlat)
        order = np.lexsort((tid, d))[: q.k]
        for rank, j in enumerate(order, start=1):
            rows.append((q.query_id, rank, tid[j], d[j]))
    return pd.DataFrame(rows, columns=["query_id", "rank", "image_id", "dist_km"])


@pytest.mark.parametrize(
    "n,q,k,seed,bf_pairs",
    [
        # BRUTE_FORCE_PAIRS=0 forces the ring-expansion path (the
        # 10^12-tile design); 50M exercises the cost-based brute path
        (400, 16, 5, 42, 0),
        (2000, 40, 10, 11, 0),
        (2000, 40, 10, 11, 50_000_000),
    ],
)
def test_knn_exact_vs_bruteforce(spark, monkeypatch, n, q, k, seed, bf_pairs):
    monkeypatch.setattr(kj, "BRUTE_FORCE_PAIRS", bf_pairs)
    tracker = synth.tracker_df(spark, n, seed=seed)
    queries = oracles.query_df(spark, q, n, seed=seed, k=k)
    got = knn_join(spark, tracker, queries, n_tiles_hint=n).toPandas()
    exp = _brute_knn(tracker.toPandas(), queries.toPandas())
    assert got[["query_id", "rank", "image_id"]].values.tolist() == exp[
        ["query_id", "rank", "image_id"]
    ].values.tolist()
    np.testing.assert_allclose(got["dist_km"].to_numpy(), exp["dist_km"].to_numpy(), rtol=1e-12)


def test_knn_path_selection_identical(spark, monkeypatch):
    """The optimizer's two physical strategies return identical rows."""
    tracker = synth.tracker_df(spark, 1500, seed=5)
    queries = oracles.query_df(spark, 24, 1500, seed=5, k=7)
    brute = knn_join(spark, tracker, queries, n_tiles_hint=1500)
    monkeypatch.setattr(kj, "BRUTE_FORCE_PAIRS", 0)
    ring = knn_join(spark, tracker, queries, n_tiles_hint=1500)
    pd.testing.assert_frame_equal(ring.toPandas(), brute.toPandas())


def test_knn_k_exceeds_population(spark):
    """k larger than the tile count: returns every tile, ranked."""
    tracker = synth.tracker_df(spark, 7, seed=5)
    queries = oracles.query_df(spark, 3, 7, seed=5, k=50)
    got = knn_join(spark, tracker, queries, n_tiles_hint=7).toPandas()
    assert (got.groupby("query_id").size() == 7).all()


def test_knn_resolution_invariant(spark):
    """The search resolution is a performance knob, never a results
    knob."""
    tracker = synth.tracker_df(spark, 300, seed=8)
    queries = oracles.query_df(spark, 10, 300, seed=8, k=4)
    a = knn_join(spark, tracker, queries, res=4).toPandas()
    b = knn_join(spark, tracker, queries, res=9).toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_knn_string_query_ids(spark, monkeypatch):
    """String query ids flow through both physical paths (the id type
    is carried from the caller's schema, not hardcoded)."""
    tracker = synth.tracker_df(spark, 800, seed=8)
    qpdf = oracles.query_df(spark, 10, 800, seed=8, k=4).toPandas()
    qpdf["query_id"] = ["q" + str(v) for v in qpdf["query_id"]]
    for bf in (0, 2_000_000):
        monkeypatch.setattr(kj, "BRUTE_FORCE_PAIRS", bf)
        got = knn_join(spark, tracker, qpdf, n_tiles_hint=800).toPandas()
        assert got["query_id"].str.startswith("q").all()
        assert len(got) == 40


# ------------------------------- distributed (corpus-sized) query path


def _sorted_rows(df):
    return sorted((r.query_id, r.rank, r.image_id, round(r.dist_km, 9)) for r in df.collect())


def test_knn_distributed_identical_to_driver_path(spark, force_ring):
    from gelos_spark.operators.knn_join import knn_join_distributed

    tiles = synth.tracker_df(spark, 2000, seed=42)
    queries = oracles.query_df(spark, 24, 2000, seed=42, k=6)
    a = knn_join(spark, tiles, queries, n_tiles_hint=2000)
    b = knn_join_distributed(spark, tiles, queries, n_tiles_hint=2000)
    # the result is checkpointed before the ring caches are released,
    # so it never reads through them
    assert b._jdf.queryExecution().logical().nodeName() == "LogicalRDD"
    assert _sorted_rows(a) == _sorted_rows(b)


def test_knn_distributed_desert_and_small_population(spark):
    """Queries far from every tile must fall into the terminal
    cross-join pass and still return the exact top-k; k beyond the
    population returns all tiles ranked."""
    from gelos_spark.operators.knn_join import knn_join_distributed

    tiles = synth.tracker_df(spark, 40, seed=3)
    qpdf = pd.DataFrame(
        {
            "query_id": [0, 1],
            "lon": [-179.5, 12.0],
            "lat": [-54.0, 50.0],
            "k": [50, 3],
        }
    )
    queries = spark.createDataFrame(qpdf, "query_id long, lon double, lat double, k int")
    a = knn_join(spark, tiles, qpdf, n_tiles_hint=40)
    b = knn_join_distributed(spark, tiles, queries, n_tiles_hint=40)
    assert _sorted_rows(a) == _sorted_rows(b)
    got = {r.query_id: r for r in b.groupBy("query_id").count().collect()}
    assert got[0]["count"] == 40  # k=50 > population -> all ranked


def test_knn_distributed_empty_queries(spark):
    from gelos_spark.operators.knn_join import knn_join_distributed

    tiles = synth.tracker_df(spark, 100, seed=2)
    queries = spark.createDataFrame(
        [], "query_id long, lon double, lat double, k int"
    )
    assert knn_join_distributed(spark, tiles, queries, n_tiles_hint=100).count() == 0


def _tied_tiles(spark, n: int, seed: int):
    """Tiles in groups of three sharing one coordinate, so that
    (dist_km, image_id) ties straddle rank k."""
    pdf = synth.tracker_df(spark, n, seed=seed).select("image_id", "lon", "lat").toPandas()
    pdf[["lon", "lat"]] = pdf[["lon", "lat"]].to_numpy()[np.arange(n) // 3 * 3]
    return spark.createDataFrame(pdf, "image_id string, lon double, lat double"), pdf


@pytest.mark.parametrize("qid", ["bigint", "double", "string"])
def test_knn_distributed_multi_round_finalization(spark, monkeypatch, force_ring, qid):
    """Force several ring rounds (initial radius pinned to 1) so
    queries finalize across DIFFERENT rounds via the column-math bound
    — exercising the per-round left_semi/left_anti split of the
    distributed carrier and the driver carrier's re-shipped top-k rows
    — over tiles whose duplicated coordinates put (dist_km, image_id)
    ties across rank k. Both carriers match the NumPy brute force
    exactly, for int, float and string query ids."""
    monkeypatch.setattr(kj, "_initial_radius", lambda *a, **k: 1)
    reshipped = []
    real_ring = kj._ring_topk

    def ring(prev, *a):
        reshipped.append(prev is not None)
        return real_ring(prev, *a)

    monkeypatch.setattr(kj, "_ring_topk", ring)
    tiles, tiles_pdf = _tied_tiles(spark, 3000, seed=21)
    qpdf = oracles.query_df(spark, 16, 3000, seed=21, k=5).toPandas()
    qpdf["query_id"] = {
        "bigint": qpdf["query_id"],
        "double": qpdf["query_id"] + 0.5,
        "string": "q" + qpdf["query_id"].astype(str),
    }[qid]
    queries = spark.createDataFrame(qpdf, f"query_id {qid}, lon double, lat double, k int")

    exp = _brute_knn(tiles_pdf, qpdf).sort_values(["query_id", "rank"], ignore_index=True)
    beyond = _brute_knn(tiles_pdf, qpdf.assign(k=qpdf["k"] + 1))
    kth = beyond[beyond["rank"] == 5].set_index("query_id")["dist_km"]
    nxt = beyond[beyond["rank"] == 6].set_index("query_id")["dist_km"]
    assert (kth == nxt).any()  # a tie straddles rank k

    a = kj.knn_join(spark, tiles, queries, n_tiles_hint=3000)
    assert reshipped.count(True) >= 1  # rows re-shipped between rounds
    got = a.toPandas()
    assert got[["query_id", "rank", "image_id"]].values.tolist() == exp[
        ["query_id", "rank", "image_id"]
    ].values.tolist()
    np.testing.assert_allclose(got["dist_km"].to_numpy(), exp["dist_km"].to_numpy(), rtol=1e-12)
    b = kj.knn_join_distributed(spark, tiles, queries, n_tiles_hint=3000)
    pd.testing.assert_frame_equal(got, b.toPandas())


def test_knn_corpus_sized_queries_auto_dispatch(spark, monkeypatch, collect_sizes):
    """A Spark query frame past MAX_QUERIES must NEVER be fully
    collected to the driver (the silent-OOM edge): knn_join probes via
    the bounded limit(MAX_QUERIES+1).toPandas() collect the path
    already needs (zero extra Spark actions — the collect IS the
    guard), and on overflow routes to knn_join_distributed, returning
    rows identical to calling the distributed path directly. Every
    collect the call makes is recorded and must hold at most
    MAX_QUERIES+1 rows."""
    from gelos_spark.operators.knn_join import knn_join_distributed

    monkeypatch.setattr(kj, "MAX_QUERIES", 50)
    tiles = synth.tracker_df(spark, 800, seed=9)
    queries = oracles.query_df(spark, 60, 800, seed=9, k=4)
    collect_sizes.clear()  # count only knn_join's collects
    got = knn_join(spark, tiles, queries, n_tiles_hint=800)
    assert collect_sizes and max(collect_sizes) <= 51, collect_sizes
    exp = knn_join_distributed(spark, tiles, queries, n_tiles_hint=800)
    assert _sorted_rows(got) == _sorted_rows(exp)


@pytest.mark.parametrize("bf_pairs", [0, 2_000_000])
def test_knn_res_without_hint_counts_no_tiles(spark, monkeypatch, bf_pairs):
    """Given ``res`` and no ``n_tiles_hint``, knn_join never counts the
    tiles: the measured index stats apply the size rule instead. The
    rows equal those of the hinted call."""
    from pyspark.sql.classic.dataframe import DataFrame

    monkeypatch.setattr(kj, "BRUTE_FORCE_PAIRS", bf_pairs)
    tiles = synth.tracker_df(spark, 1500, seed=5)
    queries = oracles.query_df(spark, 12, 1500, seed=5, k=6).toPandas()
    hinted = knn_join(spark, tiles, queries, res=7, n_tiles_hint=1500).toPandas()
    counts = []
    real = DataFrame.count
    monkeypatch.setattr(DataFrame, "count", lambda self: counts.append(1) or real(self))
    got = knn_join(spark, tiles, queries, res=7).toPandas()
    monkeypatch.undo()
    assert counts == []
    pd.testing.assert_frame_equal(got, hinted)


def test_knn_ring_call_driver_action_budget(
    spark, monkeypatch, force_ring, collect_sizes, jobs_launched
):
    """A two-round ring call (initial radius pinned to 2) launches at
    most 8 Spark jobs, the measured count: the query collect, the one
    observed write that fills the tile index and measures its density,
    and one collect per ring round. Every collect holds at most
    max(MAX_QUERIES + 1, sum of k) rows."""
    monkeypatch.setattr(kj, "MAX_QUERIES", 16)
    monkeypatch.setattr(kj, "_initial_radius", lambda *a, **k: 2)
    rounds = []
    real_ring = kj._ring_topk
    monkeypatch.setattr(kj, "_ring_topk", lambda *a: rounds.append(1) or real_ring(*a))
    tiles = synth.tracker_df(spark, 3000, seed=21)
    queries = oracles.query_df(spark, 16, 3000, seed=21, k=5)
    collect_sizes.clear()
    out = []

    def call():
        out.append(
            kj.knn_join(spark, tiles, queries, n_tiles_hint=3000)
        )

    jobs = jobs_launched("knn_budget", call)
    assert len(rounds) == 2
    assert jobs <= 8, jobs
    assert collect_sizes and max(collect_sizes) <= max(16 + 1, 16 * 5), collect_sizes
    assert out[0].count() == 16 * 5


def test_knn_ring_call_leaves_no_cache(spark, force_ring):
    """A ring call leaves no new persisted RDD behind: the tile index
    is released once the last pass returns, and the running top-k
    never was a cache."""
    sc = spark.sparkContext

    def cached():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    tiles = synth.tracker_df(spark, 2000, seed=4)
    queries = oracles.query_df(spark, 12, 2000, seed=4, k=5)
    before = cached()
    out = knn_join(spark, tiles, queries, n_tiles_hint=2000)
    assert cached() - before == set()
    assert len(out.collect()) == 12 * 5


def test_knn_empty_tiles_return_no_rows(spark):
    """An empty tile table with ``res`` and no ``n_tiles_hint``: both
    carriers return no rows. The empty index has no bbox, so the size
    rule sends it to the exact pass before any radius is derived."""
    tiles = spark.createDataFrame([], "image_id string, lon double, lat double")
    queries = oracles.query_df(spark, 4, 100, seed=3, k=3)
    assert knn_join(spark, tiles, queries, res=7).count() == 0
    assert kj.knn_join_distributed(spark, tiles, queries, res=7).count() == 0


def test_knn_index_stats_equal_an_aggregate(spark):
    """The density the caching write observes equals an aggregate over
    the same cell-indexed frame."""
    tiles = synth.tracker_df(spark, 2000, seed=6)
    tiles_c, stats = kj._index_tiles(tiles, 8)
    try:
        exp = tiles_c.agg(
            F.count("*").alias("n"),
            F.approx_count_distinct("cell").alias("occ"),
            F.min("lon").alias("lon0"),
            F.max("lon").alias("lon1"),
            F.min("lat").alias("lat0"),
            F.max("lat").alias("lat1"),
        ).first()
    finally:
        tiles_c.unpersist()
    assert stats == exp.asDict()
    assert stats["n"] == 2000


@pytest.mark.parametrize("bf_pairs", [0, 2_000_000])
def test_knn_topk_window_is_limited_before_its_shuffle(spark, monkeypatch, bf_pairs):
    """The ring round's ranked frame (BRUTE_FORCE_PAIRS 0) and the
    exact pass's (2M) each hold a partial and a final
    ``WindowGroupLimit``: the literal k_max bound lets each partition
    keep at most k_max rows per query before the window's shuffle. A
    per-query ``k`` column alone plans neither."""
    monkeypatch.setattr(kj, "BRUTE_FORCE_PAIRS", bf_pairs)
    plans = []
    for name in ("_ring_topk", "_exact_topk"):
        real = getattr(kj, name)
        monkeypatch.setattr(
            kj, name, lambda *a, _real=real: plans.append(_real(*a)) or plans[-1]
        )
    tiles = synth.tracker_df(spark, 2000, seed=4)
    queries = oracles.query_df(spark, 12, 2000, seed=4, k=5)
    assert knn_join(spark, tiles, queries, n_tiles_hint=2000).count() == 12 * 5
    assert plans
    for df in plans:
        nodes = plan_shapes.node_counts(df)
        assert nodes.get("WindowGroupLimit", 0) == 2, nodes


def test_knn_bench_batch_finishes_in_one_ring_round(spark, monkeypatch):
    """A request batch shaped like the benchmark's (16 queries at k=10,
    half at tiles and half uniform, over 150k tracker tiles: 2.4M
    pairs, past BRUTE_FORCE_PAIRS) takes exactly one ring round: its
    first disk is sized for ~30*k candidates. The rows match the NumPy
    brute force."""
    n = 150_000
    rounds = []
    real_ring = kj._ring_topk
    monkeypatch.setattr(kj, "_ring_topk", lambda *a: rounds.append(1) or real_ring(*a))
    tiles = synth.tracker_df(spark, n, seed=101)
    queries = synth.query_points(16, n, seed=101)
    got = knn_join(spark, tiles, queries, n_tiles_hint=n).toPandas()
    assert len(rounds) == 1
    exp = _brute_knn(tiles.toPandas(), queries)
    assert got[["query_id", "rank", "image_id"]].values.tolist() == exp[
        ["query_id", "rank", "image_id"]
    ].values.tolist()


@pytest.mark.parametrize("bf_pairs, r_cap", [(1, None), (64 * 13**2, 6)])
def test_knn_first_shell_capped_never_below_3k_radius(spark, monkeypatch, bf_pairs, r_cap):
    """A large active set (64 queries) against a small BRUTE_FORCE_PAIRS.
    At a cap of 64 x 13^2 (query, cell) rows the first disk is wider
    than the 3*k one but its radius stays at or below 6, so the first
    shell holds at most BRUTE_FORCE_PAIRS rows. At a cap of 1 row,
    which no disk fits, the first disk is the 3*k one. The rows match
    the NumPy brute force either way."""
    monkeypatch.setattr(kj, "BRUTE_FORCE_PAIRS", bf_pairs)
    seen = {}
    real_index, real_shell = kj._index_tiles, kj._shell_pdf

    def index(*a):
        tiles_c, seen["stats"] = real_index(*a)
        return tiles_c, seen["stats"]

    def shell(active, res, r0, r1):
        out = real_shell(active, res, r0, r1)
        seen.setdefault("first", (r1, len(out)))
        return out

    monkeypatch.setattr(kj, "_index_tiles", index)
    monkeypatch.setattr(kj, "_shell_pdf", shell)
    tiles = synth.tracker_df(spark, 3000, seed=21)
    queries = oracles.query_df(spark, 64, 3000, seed=21, k=5).toPandas()
    got = knn_join(spark, tiles, queries, res=8, n_tiles_hint=3000).toPandas()

    r3 = kj._initial_radius(seen["stats"], 8, 3 * 5)
    r_first, shell_rows = seen["first"]
    if r_cap is None:
        assert r_first == r3
    else:
        assert r3 < r_first <= r_cap
        assert shell_rows <= bf_pairs
    exp = _brute_knn(tiles.toPandas(), queries)
    assert got[["query_id", "rank", "image_id"]].values.tolist() == exp[
        ["query_id", "rank", "image_id"]
    ].values.tolist()
