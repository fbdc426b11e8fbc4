"""kNN tile retrieval per query point: ring expansion over quadtree
cell disks with a secondary sort on haversine distance (SURVEY.md
§2.3 J5 / §2.5 W5; north rule: "kNN tile retrieval per query point
using ring-expansion over H3 disks with a secondary sort on
haversine distance").

Algorithm (iterative DataFrame loop — SURVEY.md §4 item 2):

  The TILE side is the big side (10^12 rows at target scale): it is
  cell-indexed by a pure JVM column expression and persisted, and the
  one write that fills the cache observes the tile density on the way
  (``_observed``). Each round equi-joins the active queries' shell
  cells against it and only the matched candidates shuffle (keyed by
  query_id) into the per-query top-k window. That window is bounded
  by the literal largest k as well as each query's own k, so Spark
  keeps at most k_max rows per query and partition before the shuffle
  (``WindowGroupLimit``).

  Round i explores the shell of cells with grid Chebyshev distance in
  (r_{i-1}, r_i] of each ACTIVE query's cell. The initial radius r_0
  is chosen from the measured density (``_initial_radius``). The
  driver carrier sizes the first disk for ~30*k candidates, so a
  request batch usually finishes in one round; its first shell is
  capped at ``BRUTE_FORCE_PAIRS`` rows (``_driver_radius``). The
  distributed carrier sizes it for ~3*k. When the data is clustered
  the k-th distance may still beat the bound only after a second or
  third round. A query finalizes when its rank-k candidate
  by (dist_km, image_id) is within the conservative lower bound on
  anything outside the explored disk (``_finished``,
  ``_bound_km_col``). Queries still unresolved after a fixed number
  of ring rounds, or once the next disk would wrap the grid (2r+1 >
  n: shells would alias cells of earlier rounds), take ONE exact
  brute-force pass shared by all of them.

  The QUERY side is carried in one of two ways, chosen by size:
    - ``knn_join`` (a retrieval request set): pulled to the driver
      once; shells are computed in driver NumPy
      (functions/cells.cell_shell_batch) and shipped per round as a
      broadcast DataFrame. The running top-k (at most sum(k) rows)
      lives on the driver between rounds: ONE Spark action per round
      collects the active queries' ranked top-k rows with their stop
      flag, and the unfinished queries' rows are re-shipped into the
      next round's pool. The exact pass is collected the same way, and
      the result is built from the collected rows. Small inputs skip
      the rings and take the exact pass directly
      (``BRUTE_FORCE_PAIRS``).
    - ``knn_join_distributed`` (a corpus-sized query table, dispatched
      to automatically past ``MAX_QUERIES``): the query side and the
      running top-k stay DataFrames; shells come from the same kernel
      in a pandas UDF and the finished-query split is a semi/anti join
      on the stop rows. The result is localCheckpointed, then the
      round caches are released.
  Neither carrier leaves a cache for its caller to release. Both
  carriers share the tile index, the candidate select, the per-round
  top-k ranking, the stop rule, the wrap rule and the exact pass, so
  their outputs are bit-identical.

Determinism: ranking orders by (dist, image_id) — the id tie-break
makes the output exact-match reproducible at any parallelism
(SURVEY.md §7.3); distances are float64 column expressions (JVM,
whole-stage codegen), identical order of operations everywhere. The
bound only decides WHEN a query stops expanding, never which rows
rank — results are bound-invariant.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from gelos_spark.functions import cells
from gelos_spark.functions.cell_udfs import cell_encode_col
from gelos_spark.functions.geometry import haversine_col

# ring rounds before the exact terminal pass. A driver round is one
# action and its stragglers are few, so it hands them to the broadcast
# pass early; a distributed terminal pass cross-joins a corpus-sized
# query side, so that carrier keeps expanding longer.
DRIVER_RING_ROUNDS = 3
DISTRIBUTED_RING_ROUNDS = 11
# tiles x queries at or below which the driver carrier skips the rings
# and takes one exact brute-force pass (see knn_join's docstring)
BRUTE_FORCE_PAIRS = 2_000_000
# Spark query rows at or below which knn_join collects the query side
# (one bounded ``limit(MAX_QUERIES+1).toPandas()``) and runs the driver
# carrier; past it, knn_join_distributed serves the call
MAX_QUERIES = 100_000


def _schemas(qid_type: str) -> tuple[str, str, str, str]:
    """(shell, query, pool, out) schemas with the caller's query-id
    type carried through — string ids work the same as the default
    long. The pool is a ring round's candidate rows."""
    return (
        f"query_id {qid_type}, qlon double, qlat double, k int, cell long",
        f"query_id {qid_type}, qlon double, qlat double, k int",
        f"query_id {qid_type}, qlon double, qlat double, k int, image_id string, dist_km double",
        f"query_id {qid_type}, rank int, image_id string, dist_km double",
    )


def _qid_type(queries, q: pd.DataFrame) -> str:
    """Spark type for query_id carried through shells/exact pass/output.
    For a pandas query frame the dtype maps faithfully (float ids were
    previously declared bigint — silent truncation); unsupported id
    dtypes raise instead of guessing."""
    if not isinstance(queries, pd.DataFrame):
        return queries.schema["query_id"].dataType.simpleString()
    dt = q["query_id"].dtype
    if dt == object:
        return "string"
    if np.issubdtype(dt, np.floating):
        return "double"
    if np.issubdtype(dt, np.integer):
        return "bigint"
    raise ValueError(f"unsupported query_id dtype {dt!r}: use int, float, or str ids")


def default_res(n_tiles: int) -> int:
    """Pick the search resolution so a handful of cells holds ~k
    tiles at average density (tiles span ~1/9 of the globe in the
    fixtures; the loop self-corrects either way)."""
    return int(np.clip(int(np.log2(max(n_tiles, 2)) / 2) + 1, 3, 14))


def _initial_radius(stats: dict, res: int, candidates: float) -> int:
    """Smallest disk radius whose expected candidate count is
    >= ``candidates``, from the measured tile density: occupancy over
    the data bbox x tiles-per-occupied-cell. The distributed carrier
    asks for 3*k candidates, the driver carrier for up to 30*k
    (``_driver_radius``)."""
    n = 1 << res
    n_tiles, occ = max(stats["n"], 1), max(stats["occ"], 1)
    bx = max((stats["lon1"] - stats["lon0"]) / 360.0 * n, 0.0) + 1.0
    by = max((stats["lat1"] - stats["lat0"]) / 180.0 * n, 0.0) + 1.0
    occupancy = min(occ / (bx * by), 1.0)
    per_cell = n_tiles / occ
    density = occupancy * per_cell  # expected tiles per grid cell
    if density <= 0:
        return 1
    need = candidates / density
    r = int(np.ceil((np.sqrt(need) - 1.0) / 2.0))
    return int(np.clip(r, 1, max(n // 2, 1)))


def _driver_radius(stats: dict, res: int, k_max: int, n_active: int) -> int:
    """The driver carrier's first radius: a disk expected to hold
    ~30*k candidates, so a request batch usually finishes in one ring
    round (at 3*k nearly every batch needed two). Its first shell of
    ``n_active * (2r+1)^2`` (query, cell) rows stays at or below
    ``BRUTE_FORCE_PAIRS``, and the radius never falls below the 3*k
    one."""
    r_min = _initial_radius(stats, res, 3 * k_max)
    r_cap = (math.isqrt(BRUTE_FORCE_PAIRS // n_active) - 1) // 2
    return max(min(_initial_radius(stats, res, 30 * k_max), r_cap), r_min)


def _observed(df: DataFrame, *aggs: F.Column) -> dict:
    """Materialize the persisted ``df`` with ONE action (a noop write:
    one Spark job, plus one per shuffle below the cache) and return the
    aggregates ``aggs`` measured on the way. The observation is
    unnamed, so concurrent calls never share its metrics."""
    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def _index_tiles(
    tiles: DataFrame, res: int, partitions: int | None = None
) -> tuple[DataFrame, dict]:
    """The persisted cell-indexed tile frame and its density stats.
    One observed write materializes the index AND measures density.
    ``partitions`` hash-partitions the index by cell first, so each
    round's shell join reuses that layout and only the shell side
    shuffles."""
    tiles_c = tiles.select("image_id", "lon", "lat").withColumn(
        "cell", cell_encode_col(F.col("lon"), F.col("lat"), res)
    )
    if partitions is not None:
        tiles_c = tiles_c.repartition(partitions, "cell")
    tiles_c = tiles_c.persist()
    stats = _observed(
        tiles_c,
        F.count("*").alias("n"),
        F.approx_count_distinct("cell").alias("occ"),
        F.min("lon").alias("lon0"),
        F.max("lon").alias("lon1"),
        F.min("lat").alias("lat0"),
        F.max("lat").alias("lat1"),
    )
    return tiles_c, stats


def _with_dist(pairs: DataFrame) -> DataFrame:
    """Candidate rows of (query, tile) pairs with their haversine
    distance."""
    return pairs.select(
        "query_id",
        "qlon",
        "qlat",
        "k",
        "image_id",
        haversine_col(F.col("qlon"), F.col("qlat"), F.col("lon"), F.col("lat")).alias(
            "dist_km"
        ),
    )


def _topk(pool: DataFrame, k_max: int) -> DataFrame:
    """Each query's k best candidates by (dist_km, image_id), with
    their rank. ``k_max`` (at least every query's k) is a literal, so
    Spark limits the window per partition before its shuffle
    (``WindowGroupLimit``); the per-query ``k`` column alone does
    not."""
    w = Window.partitionBy("query_id").orderBy(F.col("dist_km").asc(), F.col("image_id").asc())
    return pool.withColumn("rank", F.row_number().over(w)).where(
        (F.col("rank") <= F.col("k")) & (F.col("rank") <= F.lit(k_max))
    )


def _ring_topk(
    prev: DataFrame | None, shell: DataFrame, tiles_c: DataFrame, k_max: int
) -> DataFrame:
    """One ring round: the shell's (query, cell) rows join the tile
    index, and their candidates merge with the unfinished queries'
    previous top-k rows (pool columns) into a new ranked top-k."""
    cand = _with_dist(shell.join(tiles_c, "cell"))
    return _topk(cand if prev is None else prev.unionByName(cand), k_max)


def _exact_topk(tiles: DataFrame, queries: DataFrame, k_max: int) -> DataFrame:
    """The exact brute-force pass: every query (query_id, qlon, qlat,
    k) against every tile, ranked. Complete by construction, so any
    partial ring candidates of these queries are dropped."""
    pairs = tiles.select("image_id", "lon", "lat").crossJoin(queries)
    return _topk(_with_dist(pairs), k_max)


def _exact_now(rounds: int, max_rounds: int, r: int, n_grid: int) -> bool:
    """Hand the active queries to the exact pass: after ``max_rounds``
    ring rounds, or once the disk would wrap the grid in x (2r+1 > n).
    Below the wrap, successive shells are disjoint, so no (query,
    tile) pair enters the pool twice (tests/test_property_kernels)."""
    return rounds >= max_rounds or 2 * r + 1 > n_grid


def _bound_km_col(qlat: F.Column, res: int, r: int) -> F.Column:
    """Lower bound on the distance from a query at latitude ``qlat``
    to any tile in a cell the radius-r disk has NOT visited (grid
    Chebyshev distance >= r+1). Such a cell is at least r full
    cell-extents away in x or y; the x extent is evaluated at the
    worst (most poleward) latitude reachable within the explored band.
    Conservative by construction; documented pole limitation in
    SURVEY.md §7.3 (fixtures exclude |lat| > ~55)."""
    n = 1 << res
    h_deg = 180.0 / n
    h_km = h_deg * cells.KM_PER_DEG_LAT_MIN
    worst_lat = F.least(F.abs(qlat) + F.lit((r + 1) * h_deg), F.lit(89.9999))
    w_km = (
        F.lit(360.0 / n * cells.KM_PER_DEG_LAT_MIN)
        * F.cos(F.radians(worst_lat))
    )
    return F.lit(float(r)) * F.least(F.lit(h_km), F.greatest(w_km, F.lit(0.0)))


def _finished(res: int, r: int) -> F.Column:
    """True on the row that finishes its query after the radius-r
    disk: the rank-k row, when its distance is within the bound on
    every unvisited cell. A query holding fewer than k candidates has
    no such row and keeps expanding."""
    return (F.col("rank") == F.col("k")) & (
        F.col("dist_km") <= _bound_km_col(F.col("qlat"), res, r)
    )


def _shell_pdf(q: pd.DataFrame, res: int, r0: int, r1: int) -> pd.DataFrame:
    """Exploded (query_id, qlon, qlat, k, cell) shell pairs for all
    rows of the active query frame — driver NumPy, fully vectorized."""
    idx, shell = cells.cell_shell_batch(q["qcell"].to_numpy(), res, r0, r1)
    return pd.DataFrame(
        {
            "query_id": q["query_id"].to_numpy()[idx],
            "qlon": q["lon"].to_numpy()[idx],
            "qlat": q["lat"].to_numpy()[idx],
            "k": q["k"].to_numpy()[idx].astype(np.int32),
            "cell": shell,
        }
    )


def knn_join(
    spark: SparkSession,
    tiles: DataFrame,
    queries: DataFrame | pd.DataFrame,
    res: int | None = None,
    n_tiles_hint: int | None = None,
) -> DataFrame:
    """k nearest tiles per query point.

    tiles: (image_id, lon, lat); queries: (query_id, lon, lat, k) —
    a Spark or pandas DataFrame (the query side is driver-resident).
    Returns (query_id, rank, image_id, dist_km), ordered by
    (query_id, rank).

    A Spark ``queries`` frame with more than the module constant
    ``MAX_QUERIES`` rows is NOT collected: the call auto-dispatches to
    :func:`knn_join_distributed` (bit-identical results; the query
    side then stays distributed end-to-end), so a corpus-sized query
    table can never silently OOM the driver here — the same bound as
    ``similarity.MAX_QUERIES`` (operators/similarity.py). The guard is
    folded into the one collect this path needs anyway
    (``limit(n+1).toPandas()``), so it costs ZERO extra Spark actions.
    ``BRUTE_FORCE_PAIRS`` applies only to the driver-resident path.

    The result is a frame built from the rows collected on the
    driver, so it reads no cache; the tile index is unpersisted before
    the call returns.

    Cost-based path selection: when tiles x queries <= the module
    constant ``BRUTE_FORCE_PAIRS`` one exact brute-force pass is
    cheaper than ring expansion (each ring round costs a full
    distributed action; measured crossover on local[32] is ~2-10M
    pairs — above it the brute pass's per-query window shuffle
    dominates and ring pruning wins), so every query takes the exact
    pass. The tile count is ``n_tiles_hint`` before the tiles are
    indexed (a count only when ``res`` must be derived from it), and
    the measured count after, so an overestimated or missing hint
    still ends in the exact pass.
    Ring expansion is the 10^12-tile design; results are identical
    either way (both exact, ties broken by id). Setting
    ``BRUTE_FORCE_PAIRS = 0`` forces the ring path.
    """
    n_hint = n_tiles_hint
    if res is None:
        if n_hint is None:
            n_hint = tiles.count()
        res = default_res(n_hint)
    n_grid = 1 << res

    if isinstance(queries, pd.DataFrame):
        q = queries
    else:
        # guard folded into the one collect the path needs anyway: pull
        # AT MOST MAX_QUERIES+1 rows (zero extra Spark actions — a
        # separate count() probe costs ~0.6s/call on this VM's
        # per-action overhead) and dispatch on overflow
        q = queries.limit(MAX_QUERIES + 1).toPandas()
        if len(q) > MAX_QUERIES:
            # corpus-sized query table: never collect it fully — route
            # to the fully-distributed twin (same semantics and output)
            return knn_join_distributed(
                spark,
                tiles,
                queries,
                res=res,
                n_tiles_hint=n_tiles_hint,
            )
    q = q[["query_id", "lon", "lat", "k"]].copy()
    shell_schema, query_schema, pool_schema, out_schema = _schemas(_qid_type(queries, q))
    if len(q) == 0:
        return spark.createDataFrame([], out_schema)
    out_cols = ["query_id", "rank", "image_id", "dist_km"]
    k_max = int(q["k"].max())

    def exact(tiles_df: DataFrame, active: pd.DataFrame) -> pd.DataFrame:
        # the few queries broadcast against the tile table; collected
        qdf = spark.createDataFrame(
            active[["query_id", "lon", "lat", "k"]].rename(
                columns={"lon": "qlon", "lat": "qlat"}
            ),
            query_schema,
        )
        return _exact_topk(tiles_df, F.broadcast(qdf), k_max).select(*out_cols).toPandas()

    def result(ranked: list[pd.DataFrame]) -> DataFrame:
        out = pd.concat([r[out_cols] for r in ranked], ignore_index=True)
        out = out.sort_values(["query_id", "rank"], kind="stable")
        return spark.createDataFrame(out, out_schema)

    if n_hint is not None and n_hint * len(q) <= BRUTE_FORCE_PAIRS:
        # small input: no cell column, no persist, no density measure
        # (none of them feed the exact pass)
        return result([exact(tiles, q)])

    tiles_c, stats = _index_tiles(tiles, res)
    try:
        if stats["n"] * len(q) <= BRUTE_FORCE_PAIRS:
            # the measured count re-applies the size rule (an
            # overestimated or missing hint), and an empty tile table
            # goes straight to the exact pass
            return result([exact(tiles_c, q)])

        q["qcell"] = cells.cell_encode(q["lon"].to_numpy(), q["lat"].to_numpy(), res)
        done: list[pd.DataFrame] = []  # finished queries' ranked top-k rows
        prev: pd.DataFrame | None = None  # unfinished queries' top-k rows
        active = q
        r_prev = -1
        r_cur = _driver_radius(stats, res, k_max, len(q))
        rounds = 0
        while len(active) > 0:
            if _exact_now(rounds, DRIVER_RING_ROUNDS, r_cur, n_grid):
                done.append(exact(tiles_c, active))
                break
            shell = spark.createDataFrame(_shell_pdf(active, res, r_prev, r_cur), shell_schema)
            kept = None if prev is None else spark.createDataFrame(prev, pool_schema)
            # ONE Spark action per round: the active queries' ranked top-k
            ranked = (
                _ring_topk(kept, F.broadcast(shell), tiles_c, k_max)
                .withColumn("stop", _finished(res, r_cur))
                .toPandas()
            )
            done_ids = ranked.loc[ranked["stop"], "query_id"]
            fin = ranked["query_id"].isin(done_ids)
            done.append(ranked[fin])
            prev = ranked[~fin].drop(columns=["rank", "stop"])
            active = active[~active["query_id"].isin(done_ids)]
            rounds += 1
            r_prev, r_cur = r_cur, min(r_cur * 3, n_grid)
        return result(done)
    finally:
        tiles_c.unpersist()


def _shell_udf(res: int, r0: int, r1: int):
    """pandas_udf: query cell -> array<long> of shell cells with grid
    Chebyshev distance in (r0, r1] (the same cells.cell_shell_batch
    kernel the driver-resident path uses, now running per Arrow batch
    on executors). The shells are row-major in ``idx``, so the per-row
    counts give the list offsets and the array column is built in one
    Arrow call."""

    @F.pandas_udf("array<long>")
    def _shell(qc: pd.Series) -> pd.Series:
        arr = qc.to_numpy()
        idx, out = cells.cell_shell_batch(arr, res, r0, r1)
        counts = np.bincount(idx, minlength=len(arr))
        offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
        lists = pa.ListArray.from_arrays(offsets, pa.array(out, pa.int64()))
        return pd.Series(pd.arrays.ArrowExtensionArray(lists))

    return _shell


def knn_join_distributed(
    spark: SparkSession,
    tiles: DataFrame,
    queries: DataFrame,
    res: int | None = None,
    n_tiles_hint: int | None = None,
) -> DataFrame:
    """k nearest tiles per query point for CORPUS-SIZED query sets.

    Same semantics (and bit-identical output) as :func:`knn_join`, but
    the query side stays a distributed DataFrame end-to-end — the
    carrier for "queries" that are themselves a table (full-corpus
    self-kNN, tile-to-tile retrieval) rather than a request batch;
    ``knn_join`` dispatches here past its ``MAX_QUERIES``. Mirrors
    ``ivf_topk(collect_queries=False)``.

    Scale design per round (ring radius grows 3x until every query's
    k-th distance beats the unexplored-region bound):
      - shell cells come from the SAME cells.cell_shell_batch kernel,
        now a vectorized pandas UDF over the active queries;
      - tiles are shuffled ONCE into a cell-partitioned persisted
        layout (``spark.sql.shuffle.partitions`` buckets); each
        round's shell join reuses that partitioning, so only the
        (much smaller) shell side shuffles per round;
      - the finished-query split is a semi/anti join on the rank-k
        rows that satisfy the shared stop rule (the driver sees ONE
        scalar per round — the active count);
      - queries still active after DISTRIBUTED_RING_ROUNDS rounds, or
        once the disk would wrap the grid, take the exact cross-join
        pass (k > population returns all, like knn_join).

    The ring loop reads persisted frames, so the result is
    ``localCheckpoint``ed before they are unpersisted: the returned
    frame never reads through a released cache.
    """
    if res is None:
        n_hint = n_tiles_hint if n_tiles_hint is not None else tiles.count()
        res = default_res(n_hint)
    n_grid = 1 << res
    out_schema = _schemas(queries.schema["query_id"].dataType.simpleString())[3]

    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    tiles_c, stats = _index_tiles(tiles, res, parts)
    if stats["n"] == 0:
        tiles_c.unpersist()
        return spark.createDataFrame([], out_schema)

    active = (
        queries.select("query_id", "lon", "lat", "k")
        .withColumn("qcell", cell_encode_col(F.col("lon"), F.col("lat"), res))
        .persist()
    )
    k_max = _observed(active, F.max("k").alias("k_max"))["k_max"]
    if k_max is None:
        active.unpersist()
        tiles_c.unpersist()
        return spark.createDataFrame([], out_schema)

    prev: DataFrame | None = None  # unfinished queries' top-k rows
    finalized: list[DataFrame] = []  # ranked top-k frames, one per pass
    persisted: list[DataFrame] = [tiles_c, active]
    r_prev = -1
    r_cur = _initial_radius(stats, res, 3 * k_max)
    rounds = 0
    qside = ["query_id", F.col("lon").alias("qlon"), F.col("lat").alias("qlat"), "k"]

    while True:
        if _exact_now(rounds, DISTRIBUTED_RING_ROUNDS, r_cur, n_grid):
            finalized.append(_exact_topk(tiles_c, active.select(*qside), k_max))
            break
        shell = active.select(
            *qside, F.explode(_shell_udf(res, r_prev, r_cur)(F.col("qcell"))).alias("cell")
        )
        ranked = _ring_topk(prev, shell, tiles_c, k_max).persist()
        persisted.append(ranked)

        qdone = ranked.where(_finished(res, r_cur)).select("query_id")
        finalized.append(ranked.join(qdone, "query_id", "left_semi"))
        next_active = active.join(qdone, "query_id", "left_anti").persist()
        persisted.append(next_active)
        n_active = next_active.count()
        prev = ranked.join(qdone, "query_id", "left_anti").drop("rank")
        active = next_active
        if n_active == 0:
            break
        rounds += 1
        r_prev, r_cur = r_cur, min(r_cur * 3, n_grid)

    out = finalized[0]
    for f in finalized[1:]:
        out = out.unionByName(f)
    result = (
        out.select("query_id", "rank", "image_id", "dist_km")
        .orderBy("query_id", "rank")
        .localCheckpoint()
    )
    for df in persisted:
        df.unpersist()
    return result
