"""Structured-Streaming tile ingest (engine extension beyond the
reference — SURVEY.md §2.9 notes the reference is batch-only with
resume markers; these are the streaming equivalents the brief's
Spark-first design calls for).

Four composable pieces. The cell pieces use the SAME kernels as the
batch path (the JVM Morton encoder works unchanged under streaming
because it is a pure column expression — no Python, no state):

  - ``stream_encode``: readStream source -> cell_encode -> event-time
    projection. Any streaming source (file drop-dir, rate, Kafka)
    whose rows carry (image_id, lon, lat, ts).
  - ``windowed_cell_counts``: watermarked tumbling-window counts per
    coarse cell — the streaming twin of the vector pyramid's leaf
    aggregation (late data beyond the watermark is dropped, the
    standard completeness/latency trade).
  - ``stream_interval_join``: watermarked stream-stream join of each
    event to same-key events inside a lookback interval, with state
    evicted as the watermarks pass.
  - ``running_cell_stats``: a running per-cell count and first/last
    event time across micro-batches, kept in applyInPandasWithState
    state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gelos_spark.functions.cell_udfs import cell_encode_col

STREAM_SCHEMA = "image_id string, lon double, lat double, ts timestamp"


def stream_encode(stream: DataFrame, res: int = 16) -> DataFrame:
    """Attach the Morton cell id to a streaming tile-metadata frame —
    identical expression (and therefore identical ids) to the batch
    path."""
    return stream.withColumn("cell", cell_encode_col(F.col("lon"), F.col("lat"), res))


def windowed_cell_counts(
    stream: DataFrame,
    res: int = 16,
    agg_res: int = 6,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Tumbling event-time window x coarse cell -> tile counts, with a
    watermark bounding state. Output columns:
    (win_start, win_end, cell, n_tiles)."""
    enc = stream_encode(stream, res)
    coarse = F.shiftrightunsigned(F.col("cell"), 2 * (res - agg_res)).alias("cell")
    return (
        enc.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), coarse)
        .agg(F.count("*").alias("n_tiles"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "cell",
            "n_tiles",
        )
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str = "user_id",
    lookback: str = "10 minutes",
    watermark: str = "30 minutes",
    right_cols: list[str] | None = None,
    suffix: str = "_r",
) -> DataFrame:
    """Watermarked stream-stream inner join — Spark's flagship
    stateful streaming shape: every left event joined to same-``by``
    right events inside ``[left.on - lookback, left.on]`` (inclusive
    both ends, the batch range_join's lookback mirror). Both sides
    carry the watermark and the join condition carries the time
    bound, so each side's buffered state is evicted once the other
    side's watermark passes ``on - lookback`` — bounded state however
    long the streams run. Under ``trigger(availableNow)`` over a
    static source the output equals the batch inequality join (the
    DuckDB oracle of contract query ``stream_interval_join``).

    ``right_cols``: right columns to attach (default: all but
    ``on``/``by``), emitted as ``<col><suffix>``; the matched right
    ``on`` is always attached as ``<on><suffix>``."""
    vals = right_cols or [c for c in right.columns if c not in (on, by)]
    lw = left.withWatermark(on, watermark).alias("l")
    rw = right.withWatermark(on, watermark).alias("r")
    cond = (
        (F.col(f"l.{by}") == F.col(f"r.{by}"))
        & (F.col(f"r.{on}") >= F.col(f"l.{on}") - F.expr(f"INTERVAL {lookback}"))
        & (F.col(f"r.{on}") <= F.col(f"l.{on}"))
    )
    return lw.join(rw, cond).select(
        *[F.col(f"l.{c}").alias(c) for c in left.columns],
        *[F.col(f"r.{c}").alias(f"{c}{suffix}") for c in vals],
        F.col(f"r.{on}").alias(f"{on}{suffix}"),
    )


def running_cell_stats(stream: DataFrame, res: int = 16, agg_res: int = 6) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a RUNNING
    per-cell rollup across micro-batches — cumulative tile count +
    first/last event time per coarse cell, emitted as an update row
    whenever a batch touches the cell. This is the streaming twin of
    the vector pyramid's leaf level where totals must survive batch
    boundaries (watermarked window aggs forget closed windows; this
    state does not). State per group is three scalars — bounded by the
    number of occupied cells, not by rows."""
    import pandas as pd  # noqa: PLC0415 (executor-side)

    enc = stream_encode(stream, res).select(
        F.shiftrightunsigned(F.col("cell"), 2 * (res - agg_res)).alias("cell"),
        "ts",
    )

    def update(key, pdf_iter, state):
        n = 0
        lo = hi = None
        for pdf in pdf_iter:
            if len(pdf) == 0:  # empty Arrow chunk: min()/max() give NaT
                continue
            n += len(pdf)
            b_lo, b_hi = pdf["ts"].min(), pdf["ts"].max()
            lo = b_lo if lo is None or b_lo < lo else lo
            hi = b_hi if hi is None or b_hi > hi else hi
        if n == 0 and not state.exists:
            return  # nothing observed for this key yet
        if state.exists:
            p_n, p_lo, p_hi = state.get
            n += p_n
            lo = p_lo if lo is None else min(lo, p_lo)
            hi = p_hi if hi is None else max(hi, p_hi)
        state.update((n, lo, hi))
        yield pd.DataFrame(
            {"cell": [key[0]], "n_tiles": [n], "first_ts": [lo], "last_ts": [hi]}
        )

    return enc.groupBy("cell").applyInPandasWithState(
        update,
        outputStructType="cell long, n_tiles long, first_ts timestamp, last_ts timestamp",
        stateStructType="n long, lo timestamp, hi timestamp",
        outputMode="update",
        timeoutConf="NoTimeout",
    )
