"""Interval (range) join — attach each timestamped point to every interval
that contains it: ``interval.start <= point.ts < interval.end`` (plus
optional equi-keys). The companion custom operator to the as-of join
(ops/asof.py): as-of answers "the latest right row before me", range join
answers "every enclosing window" — campaign/session/maintenance intervals,
experiment exposure windows, rating periods.

The reference has no interval join (its closest analog is fixed day
bucketing, microsoft_asr_features/group_audio_files.py:26-28); this is the
generalized form.

Why not a plain ``join`` with a BETWEEN condition: without an equi-key (or
with a low-cardinality one) Catalyst can only plan a broadcast-nested-loop
or cartesian product — O(|points| x |intervals|) comparisons, the classic
100 TB scale killer. The scale path here is *granule bucketing* (the
standard overlap-join decomposition, e.g. Spark's own range-join hints in
the Databricks runtime and Postgres GiST time indexing):

1. pick a granule width g (seconds; default = a caller-supplied hint,
   typically the median interval length);
2. points compute ONE granule id floor(ts/g) row-locally;
3. intervals explode to the granules they overlap — fan-out
   ceil(len/g)+1 rows per interval, bounded and caller-controlled;
4. equi-join on (keys..., granule) + the residual BETWEEN predicate.

Every (point, interval) match co-occurs in exactly one granule — the
point's — so the decomposition introduces NO duplicates and needs no
post-dedup. The join is a plain shuffled equi-join: partition-parallel,
AQE-skewable, broadcastable when the exploded interval side is small.
Cost: |points| + |intervals| x fan-out shuffled bytes, vs the quadratic
nested loop.

Leakage note: unlike the as-of join, an interval join is not inherently
point-in-time safe — an interval's end may postdate the point. For
training-feature extraction against intervals known only at their close,
join on end-timestamped intervals via asof_join instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.sources.io import with_utc_ts


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    granule_seconds: float,
    on: str | list[str] | None = None,
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    how: str = "inner",
    end_inclusive: bool = False,
    assert_valid: bool = False,
) -> DataFrame:
    """Join each point row to every interval row whose
    [start, end) (or [start, end] with ``end_inclusive``) contains
    ``ts_col``, matching ``on`` keys when given.

    ``granule_seconds`` controls the interval fan-out: an interval explodes
    into ceil(length/g)+1 bucket rows. Set it near the TYPICAL interval
    length — much smaller wastes shuffle on fan-out, much larger degrades
    bucket selectivity (more residual-filtered pairs). ``how`` is
    ``inner`` or ``left`` (left keeps point rows with no enclosing
    interval, interval columns NULL).

    Columns: all point columns + the interval's non-key columns. Interval
    column names colliding with point columns get an ``_iv`` suffix.

    Malformed intervals: rows with NULL start or end produce no granules
    (``sequence`` of a NULL bound is NULL, ``explode`` drops it) and are
    silently absent from the output; inverted intervals (end < start)
    explode via Spark's DESCENDING ``sequence`` into granules that the
    residual within-predicate then discards — no wrong rows, but wasted
    fan-out. Pass ``assert_valid=True`` to fail the job on the first
    inverted interval instead (NULL bounds stay drop-not-error: an open
    interval table routinely carries them).

    NTZ timestamps are read as UTC wall-clock.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"how must be inner or left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on or [])
    points = with_utc_ts(points, ts_col)
    intervals = with_utc_ts(with_utc_ts(intervals, start_col), end_col)

    g_us = int(granule_seconds * 1_000_000)
    if g_us < 1:
        # sub-microsecond granules truncate to 0 and `div 0` would NULL
        # every granule id (matching nothing) or throw under ANSI
        raise ValueError("granule_seconds must be >= 1 microsecond")

    def gran(col: str):
        # integer `div`: exact on longs (a double division loses ulps past
        # 2^53 micros) and monotonic, which is all the decomposition needs —
        # any monotonic bucketing keeps every match inside the point's bucket
        return F.expr(f"unix_micros(`{col}`) div {g_us}")

    p_gran = gran(ts_col)

    iv = intervals
    # rename colliding interval columns (except the join keys)
    renames = {}
    for c in iv.columns:
        if c in points.columns and c not in keys:
            renames[c] = f"{c}_iv"
    for old, new in renames.items():
        iv = iv.withColumnRenamed(old, new)
    s_col = renames.get(start_col, start_col)
    e_col = renames.get(end_col, end_col)

    if assert_valid:
        iv = iv.withColumn(
            s_col,
            F.when(
                F.col(e_col) < F.col(s_col),
                F.raise_error(F.concat(
                    F.lit("interval_join: inverted interval (end < start): "),
                    F.col(s_col).cast("string"), F.lit(" > "),
                    F.col(e_col).cast("string"),
                )).cast(iv.schema[s_col].dataType),
            ).otherwise(F.col(s_col)),
        )

    iv_gran = iv.withColumn(
        "_gran", F.explode(F.sequence(gran(s_col), gran(e_col)))
    )

    p = points.withColumn("_gran", p_gran)
    ts = F.col(f"_p.{ts_col}")
    within = (ts >= F.col(f"_i.{s_col}")) & (
        ts <= F.col(f"_i.{e_col}") if end_inclusive else ts < F.col(f"_i.{e_col}")
    )
    cond = F.col("_p._gran") == F.col("_i._gran")
    for k in keys:
        cond = cond & (F.col(f"_p.{k}") == F.col(f"_i.{k}"))
    cond = cond & within

    joined = p.alias("_p").join(iv_gran.alias("_i"), cond, how)
    out_cols = [F.col(f"_p.{c}") for c in points.columns] + [
        F.col(f"_i.{c}") for c in iv_gran.columns if c not in keys and c != "_gran"
    ]
    return joined.select(*out_cols)
