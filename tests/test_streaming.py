"""Structured-Streaming ingest: file-source micro-batches through the
cell encoder, watermarked windowed counts and running per-cell state —
results must equal the batch computation over the same rows."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gelos_spark.functions import cells
from gelos_spark.streaming import ingest


def _write_batches(spark, src_dir):
    """Two parquet drops of tile metadata with event times."""
    rows = []
    rng = np.random.default_rng(5)
    base = pd.Timestamp("2026-01-01 00:00:00")
    for i in range(400):
        rows.append(
            {
                "image_id": f"img{i:06d}",
                "lon": float(rng.uniform(-60, 60)),
                "lat": float(rng.uniform(-50, 50)),
                "ts": base + pd.Timedelta(seconds=int(i % 180)),
            }
        )
    # duplicate ids land in drop 2, one second after their firsts
    dup = [dict(r, ts=r["ts"] + pd.Timedelta(seconds=1)) for r in rows[:50]]
    pdf = pd.DataFrame(rows)
    spark.createDataFrame(pdf.iloc[:200]).coalesce(1).write.mode("overwrite").parquet(
        f"{src_dir}/drop1"
    )
    spark.createDataFrame(pd.DataFrame(rows[200:] + dup)).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src_dir}/drop2")
    return pdf


def test_stream_counts_match_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    pdf = _write_batches(spark, src)
    stream = (
        spark.readStream.schema(ingest.STREAM_SCHEMA)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    counts = ingest.windowed_cell_counts(stream, res=16, agg_res=5, window="1 minute")
    q = (
        counts.writeStream.format("memory")
        .queryName("cell_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.win_start.isoformat(), r.cell): r.n_tiles
        for r in spark.sql("SELECT * FROM cell_counts").collect()
    }
    # batch oracle over the same rows (including the 50 duplicates)
    cell16 = cells.cell_encode(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 16)
    cell5 = cell16 >> np.int64(2 * 11)
    dup5 = cell5[:50]
    win = pdf["ts"].dt.floor("1min")
    import collections

    want: collections.Counter = collections.Counter()
    for w, c in zip(win, cell5):
        want[(w.isoformat(), int(c))] += 1
    dup_ts = (pdf["ts"].iloc[:50] + pd.Timedelta(seconds=1)).dt.floor("1min")
    for w, c in zip(dup_ts, dup5):
        want[(w.isoformat(), int(c))] += 1
    assert got == dict(want)


def test_running_cell_stats_state_across_batches(spark, tmp_path):
    src = str(tmp_path / "src3")
    pdf = _write_batches(spark, src)
    stream = (
        spark.readStream.schema(ingest.STREAM_SCHEMA)
        .option("recursiveFileLookup", True)
        .option("maxFilesPerTrigger", 1)  # force one micro-batch per drop
        .parquet(src)
    )
    stats = ingest.running_cell_stats(stream, res=16, agg_res=5)
    q = (
        stats.writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # update mode emits one row per touched cell per batch: the LAST
    # emission per cell carries the cumulative count
    rows = spark.sql("SELECT * FROM running_stats").collect()
    latest = {}
    for i, r in enumerate(rows):
        latest[r.cell] = r  # memory sink appends in batch order
    cell16 = cells.cell_encode(pdf["lon"].to_numpy(), pdf["lat"].to_numpy(), 16)
    cell5 = cell16 >> np.int64(22)
    dup5 = cell5[:50]
    import collections

    want = collections.Counter([int(c) for c in cell5] + [int(c) for c in dup5])
    got = {c: r.n_tiles for c, r in latest.items()}
    assert got == dict(want)


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join under availableNow ==
    the batch inequality join over the same rows (the contract query
    `stream_interval_join` pins the same equality vs DuckDB)."""
    src = str(tmp_path / "ssj")
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = []
    rng = np.random.default_rng(11)
    for i in range(300):
        rows.append(
            {
                "event_id": i,
                "user_id": int(rng.integers(0, 12)),
                "kind": "left" if i % 3 == 0 else "right",
                "ts": base + pd.Timedelta(seconds=int(rng.integers(0, 3600))),
            }
        )
    pdf = pd.DataFrame(rows)
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(src)

    schema = spark.read.parquet(src).schema
    stream = spark.readStream.schema(schema).parquet(src)
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    lhs = stream.where("kind = 'left'").select(
        F.col("event_id").alias("lid"), "user_id", "ts"
    )
    rhs = stream.where("kind = 'right'").select(
        F.col("event_id").alias("rid"), "user_id", "ts"
    )
    joined = ingest.stream_interval_join(
        lhs, rhs, on="ts", by="user_id", lookback="5 minutes", watermark="20 minutes"
    )
    name = "ssj_sink"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r.lid, r.rid_r) for r in spark.table(name).select("lid", "rid_r").collect()
    )

    lp = pdf[pdf.kind == "left"]
    rp = pdf[pdf.kind == "right"]
    exp = sorted(
        (int(l.event_id), int(r.event_id))
        for l in lp.itertuples()
        for r in rp.itertuples()
        if l.user_id == r.user_id
        and r.ts >= l.ts - pd.Timedelta(minutes=5)
        and r.ts <= l.ts
    )
    assert got == exp and len(exp) > 0


def test_stream_interval_join_state_survives_restart(spark, tmp_path):
    """Stateful recovery: a right-side event buffered in run 1's join
    state must still match a LEFT event that only arrives in run 2
    (same checkpoint dir, new query). Exactly-once: run 2 must not
    re-emit run 1's matches. Final output == the batch join over all
    drops."""
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    base = pd.Timestamp("2026-01-01 10:00:00")
    drop1 = pd.DataFrame(
        [
            {"event_id": 0, "user_id": 1, "kind": "left", "ts": base},
            {"event_id": 100, "user_id": 1, "kind": "right",
             "ts": base - pd.Timedelta(minutes=2)},
        ]
    )
    drop2 = pd.DataFrame(
        [
            # matches the RIGHT event buffered during run 1
            {"event_id": 1, "user_id": 1, "kind": "left",
             "ts": base + pd.Timedelta(minutes=5)},
            {"event_id": 101, "user_id": 1, "kind": "right",
             "ts": base + pd.Timedelta(minutes=4)},
        ]
    )
    import os

    os.makedirs(src, exist_ok=True)
    spark.createDataFrame(drop1).coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        lhs = stream.where("kind = 'left'").select(
            F.col("event_id").alias("lid"), "user_id", "ts"
        )
        rhs = stream.where("kind = 'right'").select(
            F.col("event_id").alias("rid"), "user_id", "ts"
        )
        joined = ingest.stream_interval_join(
            lhs, rhs, on="ts", by="user_id",
            lookback="10 minutes", watermark="30 minutes",
        ).select("lid", "rid_r")
        q = (
            joined.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    after1 = {(r.lid, r.rid_r) for r in spark.read.parquet(sink).collect()}
    assert after1 == {(0, 100)}

    spark.createDataFrame(drop2).coalesce(1).write.mode("append").parquet(src)
    run_once()
    after2 = sorted(
        (r.lid, r.rid_r) for r in spark.read.parquet(sink).collect()
    )
    # lid=1 matched BOTH the run-1-buffered right (100) and the new
    # right (101): state crossed the restart; (0, 100) appears ONCE
    assert after2 == [(0, 100), (1, 100), (1, 101)]
