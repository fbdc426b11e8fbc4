"""Banded operators build each band set as one array expression, so
the driver's py4j round trips to build the plan do not grow with the
band (or pyramid level) count."""

from __future__ import annotations

from gelos_spark.operators import dedup
from gelos_spark.operators.pyramid import vector_pyramid


def _flat(py4j_commands, build, small, large):
    build(small)  # warm: the first build resolves JVM classes once
    n_small, n_large = py4j_commands(lambda: build(small)), py4j_commands(lambda: build(large))
    assert n_small > 0
    assert n_small == n_large, (small, n_small, large, n_large)


def test_minhash_build_is_flat_in_bands(spark, py4j_commands):
    docs = spark.createDataFrame([("d0", "a short text")], "doc_id string, text string")
    _flat(py4j_commands, lambda b: dedup.minhash_lsh_pairs(docs, num_hashes=128, bands=b), 4, 32)


def test_hamming_build_is_flat_in_bands(spark, py4j_commands):
    df = spark.createDataFrame([("i0", 7)], "image_id string, phash long")
    _flat(
        py4j_commands, lambda k: dedup.hamming_hash_pairs(df, "image_id", "phash", k), 1, 7
    )


def test_vector_pyramid_build_is_flat_in_levels(spark, py4j_commands):
    tiles = spark.createDataFrame([(5, "a")], "cell long, lulc string")
    # 2 and 6 levels below a res-8 leaf
    _flat(py4j_commands, lambda lv: vector_pyramid(tiles, 8, 8 - lv + 1), 2, 6)
