"""Windowed sequence transforms: stable turn ordering, lag/lead gaps,
role-transition bigrams, rolling (trailing) aggregates.

Reference blueprints:
- W1 order-within-group: sort by event time before sequence ops
  (microsoft_asr_features/extract_timing_features.py:60-69).
- W2 lag-based gap: silence = curr.Offset - (prev.Offset + prev.Duration)
  (extract_timing_features.py:143-161) -> inter-turn latency here.
- W4 adjacent n-grams (text_features/extract_liwc_2007.py:30-37) ->
  role-transition bigrams via lag(role).
- W8 rolling aggregates are an engine extension mandated by the north_rule:
  trailing event-time frames only (rangeBetween(-delta, 0)) — zero temporal
  leakage by construction: the frame never includes any LATER event time.
  Tie semantics (inherent to SQL RANGE frames): rows sharing the exact
  same timestamp are peers and see each other — information carried by a
  simultaneous event counts as available at that timestamp. Rows-frames
  (roll_wc_mean_k) use the (ts, turn_idx) total order and exclude
  later-tied rows.

All pure Window expressions: one shuffle keyed by conv_id, whole-stage
codegen end-to-end, no Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import nan_guard_div, tokenize_expr
from feature_extraction_spark.sources.io import with_utc_ts

# Stable turn ordering invariant (input_hint): ts first, turn_idx tiebreak.
ORDER_COLS = ["ts", "turn_idx"]


def conv_window(order_cols=None):
    return Window.partitionBy("conv_id").orderBy(*(order_cols or ORDER_COLS))


def with_turn_order(df: DataFrame) -> DataFrame:
    """Stable per-conversation ordinal (0-based), independent of input
    partitioning/arrival order (W1)."""
    return df.withColumn(
        "turn_ord", F.row_number().over(conv_window()) - F.lit(1)
    )


def with_inter_turn_latency(df: DataFrame) -> DataFrame:
    """gap_s = seconds since previous turn in the conversation (NULL for the
    first turn); lag-gap semantics of W2 lifted to turn grain. An NTZ ts is
    read as UTC wall-clock."""
    df = with_utc_ts(df)
    w = conv_window()
    prev_ts = F.lag("ts").over(w)
    return df.withColumn(
        "gap_s",
        (F.unix_micros("ts") - F.unix_micros(prev_ts)) / F.lit(1_000_000.0),
    )


def with_role_transition(df: DataFrame) -> DataFrame:
    """prev_role and 'prev->role' transition label per turn (W4 analog)."""
    w = conv_window()
    prev = F.lag("role").over(w)
    return df.withColumn("prev_role", prev).withColumn(
        "role_transition",
        F.when(prev.isNull(), F.lit(None)).otherwise(
            F.concat_ws("->", prev, F.col("role"))
        ),
    )


def latency_stats(df: DataFrame, level: str = "conv") -> DataFrame:
    """Descriptive-stat bundle over inter-turn gaps per entity
    (kernel shape from timing_features/extract_word_phone_timing.py:22-30)."""
    from feature_extraction_spark.ops.levels import keys_for

    keys = keys_for(level)
    gaps = with_inter_turn_latency(df).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy(*keys).agg(
        F.max("gap_s").alias("gap_max"),
        F.min("gap_s").alias("gap_min"),
        F.mean("gap_s").alias("gap_mean"),
        F.median("gap_s").alias("gap_med"),
        F.stddev_pop("gap_s").alias("gap_std"),
        F.count("gap_s").cast("double").alias("gap_count"),
    )


def role_transition_counts(df: DataFrame, level: str = "conv") -> DataFrame:
    """Long-form histogram of role transitions per entity."""
    from feature_extraction_spark.ops.levels import keys_for

    keys = keys_for(level)
    t = with_role_transition(df).filter(F.col("role_transition").isNotNull())
    return t.groupBy(*keys, "role_transition").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


def rolling_turn_features(
    df: DataFrame,
    trailing_seconds: int = 600,
    trailing_rows: int = 10,
) -> DataFrame:
    """Per-turn point-in-time rolling features over trailing event-time /
    row frames (W8). Frames end at the current row -> leakage-free.

    Adds:
      roll_turns_{T}s      — turns in the trailing T seconds (incl. current)
      roll_tool_rate_{T}s  — fraction of those turns that used a tool
      roll_gap_mean_{T}s   — mean inter-turn gap in the trailing window
      roll_wc_mean_{k}     — mean per-turn word count over last k turns

    An NTZ ts is read as UTC wall-clock.
    """
    df = with_inter_turn_latency(df)
    sec = F.unix_micros("ts").cast("double") / 1_000_000.0
    df = df.withColumn("_sec", sec)

    w_range = (
        Window.partitionBy("conv_id")
        .orderBy("_sec")
        .rangeBetween(-int(trailing_seconds), 0)
    )
    w_rows = (
        Window.partitionBy("conv_id")
        .orderBy(*ORDER_COLS)
        .rowsBetween(-(trailing_rows - 1), 0)
    )
    T = trailing_seconds
    wc = F.size(tokenize_expr(F.col("text")))
    out = (
        df.withColumn(f"roll_turns_{T}s", F.count(F.lit(1)).over(w_range).cast("double"))
        .withColumn(
            f"roll_tool_rate_{T}s",
            nan_guard_div(
                F.sum(F.col("tool").isNotNull().cast("int")).over(w_range),
                F.count(F.lit(1)).over(w_range),
            ),
        )
        .withColumn(f"roll_gap_mean_{T}s", F.avg("gap_s").over(w_range))
        .withColumn(f"roll_wc_mean_{trailing_rows}", F.avg(wc).over(w_rows))
        .drop("_sec")
    )
    return out


def rolling_quantiles(
    df: DataFrame,
    value_col: str,
    part_cols: tuple[str, ...] = ("conv_id",),
    order_cols: tuple[str, ...] = tuple(ORDER_COLS),
    trailing_rows: int = 10,
    quantiles: tuple[float, ...] = (0.25, 0.5, 0.75),
) -> DataFrame:
    """EXACT rolling quantiles over a trailing k-row frame (W8 extension):
    per-row percentile features (rolling median, IQR bands) that
    percentile_approx cannot provide as a window function.

    Semantics (mirrored in the DuckDB oracle, which computes the same via
    windowed ``quantile_cont``): the sample is the non-NULL values of
    ``value_col`` in the trailing ``trailing_rows`` rows (current included,
    leakage-free); quantile = type-7 linear interpolation at rank
    ``(n-1)*q`` (numpy/DuckDB default); empty sample -> NaN. Output columns
    ``roll_{value_col}_q{percent}_{k}``.

    Scale: one exchange on ``part_cols``; per row the frame's values are
    gathered (collect_list ignores NULLs) and sorted row-locally —
    O(k log k) with k bounded and small (tens). For large/unbounded frames
    use the mergeable sketches (ops/sketches.py) at coarser grain instead;
    an exact sliding quantile at window size 10^4+ is the wrong tool at
    100 TB and this function says so rather than pretending otherwise."""
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(*order_cols)
        .rowsBetween(-(trailing_rows - 1), 0)
    )
    v = F.col(value_col).cast("double")
    out = df.withColumn("_s", F.array_sort(F.collect_list(v).over(w)))
    n = F.size("_s")
    for q in quantiles:
        h = (n - F.lit(1)).cast("double") * F.lit(float(q))
        lo = F.floor(h).cast("int")
        lo_v = F.element_at("_s", lo + 1)
        hi_v = F.element_at("_s", F.least(lo + 2, n))
        name = f"roll_{value_col}_q{int(round(q * 100))}_{trailing_rows}"
        out = out.withColumn(
            name,
            F.when(n == 0, F.lit(float("nan"))).otherwise(
                lo_v + (h - lo) * (hi_v - lo_v)
            ),
        )
    return out.drop("_s")
