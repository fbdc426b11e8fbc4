"""Operator-return materialization policy (plans/materialize.finalize):
checkpoint=True / False / "reliable" on knn_join and minhash_lsh_pairs
— identical rows under every policy, composable lazy plans under
False, durable checkpoint files under "reliable" — and the lazy plan
vector_pyramid always returns.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gelos_spark.functions.cell_udfs import cell_encode_col
from gelos_spark.operators.knn_join import knn_join
from gelos_spark.operators.pyramid import vector_pyramid
from gelos_spark.sources import synth


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _tiles_cells(spark, n=600, res=6):
    t = synth.tracker_df(spark, n, seed=11)
    return t.withColumn("cell", cell_encode_col(F.col("lon"), F.col("lat"), res))


def test_reliable_without_dir_raises(spark, monkeypatch):
    # other tests set the SESSION-wide checkpoint dir (it cannot be
    # unset), so simulate the fresh-session state deterministically:
    # finalize()'s guard probes getCheckpointDir(), which we pin to None
    monkeypatch.setattr(
        type(spark.sparkContext), "getCheckpointDir", lambda self: None
    )
    tiles = synth.tracker_df(spark, 100, seed=3)
    q = synth.query_df(spark, 2, 100, seed=3, k=2)
    with pytest.raises(ValueError, match="setCheckpointDir"):
        knn_join(spark, tiles, q, n_tiles_hint=100, checkpoint="reliable")


def test_knn_checkpoint_modes_identical(spark, tmp_path):
    tiles = synth.tracker_df(spark, 800, seed=3)
    q = synth.query_df(spark, 6, 800, seed=3, k=4)
    a = knn_join(spark, tiles, q, n_tiles_hint=800)  # default True
    b = knn_join(spark, tiles, q, n_tiles_hint=800, checkpoint=False)
    # False: the compute plan stays visible (no checkpoint scan) and a
    # caller's filter composes into the SAME query tree Catalyst sees
    plan = b._jdf.queryExecution().optimizedPlan().toString()
    assert "ExistingRDD" not in plan and "LogicalRDD" not in plan
    fplan = b.where(F.col("query_id") == 2)._jdf.queryExecution().optimizedPlan().toString()
    assert "query_id" in fplan and "ExistingRDD" not in fplan
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    c = knn_join(spark, tiles, q, n_tiles_hint=800, checkpoint="reliable")
    assert _rows(a) == _rows(b) == _rows(c)
    # the reliable checkpoint actually wrote durable RDD blocks
    ckpts = list((tmp_path / "ckpt").rglob("*"))
    assert any(p.is_file() for p in ckpts)


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


def test_bad_checkpoint_value_raises(spark):
    from gelos_spark.plans.materialize import finalize

    with pytest.raises(ValueError, match="checkpoint must be"):
        finalize(spark.range(3), "bogus")


def test_minhash_reliable_matches_default(spark, tmp_path):
    from gelos_spark.operators import dedup

    texts = [
        ("d%03d" % i, ("lorem ipsum dolor %d " % (i % 5)) * 5 + "tail %d" % (i % 3))
        for i in range(80)
    ]
    docs = spark.createDataFrame(texts, "doc_id string, text string")
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    a = dedup.minhash_lsh_pairs(docs, num_hashes=32, bands=8, min_jaccard=0.2)
    b = dedup.minhash_lsh_pairs(
        docs, num_hashes=32, bands=8, min_jaccard=0.2, checkpoint="reliable"
    )
    assert _rows(a) == _rows(b)
