"""Gap-based sessionization (W6) — assign session_id without per-row Python.

The reference only bucketizes implicitly (silence gaps W2, day buckets J1);
the north_rule promotes sessionization to a first-class op with a
configurable inactivity threshold.

Pattern: flag rows whose gap from the previous turn exceeds the threshold,
then running-sum the flags — a single window over (conv_id; ts, turn_idx),
one shuffle, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_extraction_spark.ops.windows import ORDER_COLS
from feature_extraction_spark.sources.io import with_utc_ts


def sessionize(
    df: DataFrame,
    gap_seconds: float = 300.0,
    ts_col: str = "ts",
    out_col: str = "session_id",
) -> DataFrame:
    """Add integer ``session_id`` (0-based per conversation): a new session
    starts when the inter-turn gap exceeds ``gap_seconds``. An NTZ ts is
    read as UTC wall-clock."""
    df = with_utc_ts(df, ts_col)
    w = Window.partitionBy("conv_id").orderBy(*ORDER_COLS)
    prev_ts = F.lag(ts_col).over(w)
    gap = (F.unix_micros(ts_col) - F.unix_micros(prev_ts)) / F.lit(1_000_000.0)
    new_session = F.when(gap > gap_seconds, 1).otherwise(0)
    running = Window.partitionBy("conv_id").orderBy(*ORDER_COLS).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return df.withColumn(out_col, F.sum(new_session).over(running).cast("int"))


def session_bounds(df: DataFrame, gap_seconds: float = 300.0) -> DataFrame:
    """Session summary table: start/end ts, n_turns, duration."""
    s = sessionize(df, gap_seconds)
    return s.groupBy("conv_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_turns"),
        (
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts")))
            / F.lit(1_000_000.0)
        ).alias("session_dur_s"),
    )
