"""Operators return their plan: knn_join's result composes with a
caller's filter (no checkpoint scan in between), and so does the lazy
plan vector_pyramid returns.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from gelos_spark.functions.cell_udfs import cell_encode_col
from gelos_spark.operators.knn_join import knn_join
from gelos_spark.operators.pyramid import vector_pyramid
from gelos_spark.sources import synth

import oracles


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_knn_result_composes_with_caller_filter(spark):
    """knn_join returns the frame built from its collected rows, not a
    checkpoint scan: a caller's filter composes into the same query
    tree Catalyst sees and selects the same rows as filtering the full
    result."""
    tiles = synth.tracker_df(spark, 800, seed=3)
    q = oracles.query_df(spark, 6, 800, seed=3, k=4)
    out = knn_join(spark, tiles, q, n_tiles_hint=800)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    filtered = out.where(F.col("query_id") == 2)
    fplan = filtered._jdf.queryExecution().optimizedPlan().toString()
    assert "query_id" in fplan and "ExistingRDD" not in fplan
    assert _rows(filtered) == [r for r in _rows(out) if r[0] == 2]


def test_fused_pyramid_filter_reaches_scan(spark, tmp_path):
    """Lazy composition end-to-end: the fused pyramid over a parquet
    table keeps the FileScan in the plan, so a post-return filter lands
    in the same Catalyst tree as the scan — impossible across a
    checkpoint boundary."""
    p = str(tmp_path / "tiles.parquet")
    synth.tracker_df(spark, 400, seed=5).write.parquet(p)
    cells = spark.read.parquet(p).withColumn(
        "cell", cell_encode_col(F.col("lon"), F.col("lat"), 5)
    )
    out = vector_pyramid(cells, 5, 3).where(F.col("res") == 4)
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in phys or "FileScan" in phys
    assert "ExistingRDD" not in phys
