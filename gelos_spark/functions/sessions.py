"""Gap-based sessionization — the batch twin of the streaming
session-window: consecutive events of one key belong to a session
until a silence longer than ``gap_us`` splits them.

Pure window algebra (the classic gaps-and-islands construction), so
the whole plan is one shuffle on ``by`` + two running window passes
in whole-stage codegen — no Python, no state store:

  new_session = (no previous event) OR (gap to previous > gap_us)
  session_ord = running SUM(new_session)       # 1-based per key

Training-data shape: session boundaries feed example grouping
(conversation/session documents), and the per-session aggregate is a
single groupBy((by, session_ord)). No reference analog (GELOS has no
event ops); part of the engine's training-data family beside
operators/asof.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _micros(c):
    return F.unix_micros(c.cast("timestamp"))


def sessionize(
    df: DataFrame,
    on: str = "ts",
    by: list[str] | str = "user_id",
    gap_us: int = 1_800_000_000,
) -> DataFrame:
    """Attach a 1-based per-key session ordinal; rows with a null
    ``on`` get ordinal null (they belong to no session). ``on`` may
    be a timestamp (gap in microseconds) or numeric (gap in column
    units)."""
    by = [by] if isinstance(by, str) else list(by)
    if not by:
        raise ValueError(
            "sessionize: 'by' must name at least one key column "
            "(keyless sessionization is a single-partition window at scale)"
        )
    is_ts = df.schema[on].dataType.simpleString().startswith("timestamp")
    t = _micros(F.col(on)) if is_ts else F.col(on)
    # null times sort LAST and contribute 0, so they can neither
    # start a session nor shift the running ordinals of real events
    w = Window.partitionBy(*by).orderBy(t.asc_nulls_last())
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    gap = t - F.lag(t).over(w)
    new_sess = F.when(F.col(on).isNull(), F.lit(0)).when(
        gap.isNull() | (gap > F.lit(int(gap_us))), F.lit(1)
    ).otherwise(F.lit(0))
    ord_col = F.sum(new_sess).over(run)
    return df.withColumn(
        "session_ord", F.when(F.col(on).isNotNull(), ord_col).otherwise(F.lit(None))
    )


def session_stats(
    df: DataFrame,
    on: str = "ts",
    by: list[str] | str = "user_id",
    gap_us: int = 1_800_000_000,
) -> DataFrame:
    """One row per (by, session): event count + start/end — i.e. the
    output of a session-window aggregation, computed batch-side.
    Null-``on`` rows are excluded (no session)."""
    by = [by] if isinstance(by, str) else list(by)
    s = sessionize(df, on=on, by=by, gap_us=gap_us)
    return (
        s.where(F.col("session_ord").isNotNull())
        .groupBy(*by, "session_ord")
        .agg(
            F.count("*").alias("n_events"),
            F.min(on).alias("session_start"),
            F.max(on).alias("session_end"),
        )
    )
