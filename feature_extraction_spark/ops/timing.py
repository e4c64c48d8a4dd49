"""Timing feature pack — the reference's core timing kernel rebuilt natively.

Reference semantics:
- per-segment intermediates (microsoft_asr_features/extract_timing_features.py:102-164):
  segment duration in SECONDS (100ns * 1e-7), word durations in MS
  (100ns * 1e-4), words-per-second per segment, and silence durations in MS:
  leading (first word offset - segment offset), inter-word lag-gaps
  (curr.Offset - (prev.Offset + prev.Duration)), trailing (segment end -
  last word end), with zero-length silences dropped (:163).
- group kernel (timing_features/extract_word_phone_timing.py:10-71):
  max/min/mean/med/std bundles per sound type + derived ratios, population
  std, NaN guards, total_duration from a per-entity duration lookup
  (the reference does an O(groups×dim) loc-scan per group, :175 — rebuilt
  as a pre-aggregated broadcast join, SURVEY.md J2).

Spark-first: silence extraction is array algebra over the typed
``word_timing`` column (transform-with-index lag-gap — no explode until the
aggregation, no Python); then one explode into a stream of values tagged
with their grain (segment / words-per-second / word / silence) and one
conditional hash aggregation over the entity keys (``timing_stats``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import nan, nan_guard_div
from feature_extraction_spark.ops.levels import keys_for


def _bundle(col, prefix: str):
    return [
        F.max(col).cast("double").alias(f"{prefix}_max"),
        F.min(col).cast("double").alias(f"{prefix}_min"),
        F.mean(col).alias(f"{prefix}_mean"),
        F.median(col).alias(f"{prefix}_med"),
        F.stddev_pop(col).alias(f"{prefix}_std"),
    ]


def tag_struct(k: str, v):
    """(k, v) struct for the tagged value stream — SHARED by this kernel
    and the Kaldi variant (sources/kaldi.py) so the stream encoding cannot
    drift between them."""
    return F.struct(F.lit(k).alias("k"), v.cast("double").alias("v"))


def cond_stat_bundle(kind: str, prefix: str):
    """max/min/mean/med/std of the tagged stream's values for one grain."""
    return _bundle(F.when(F.col("k") == kind, F.col("v")), prefix)


def with_turn_timing(df: DataFrame) -> DataFrame:
    """Add per-turn timing intermediates: seg_sec, word_durs_ms (array),
    sil_durs_ms (array, zero-filtered), wps_seg.

    NULL ``word_timing`` (no word-level ASR output for the turn) is treated
    as an EMPTY word list: the turn still contributes to the segment-grain
    stats with wps 0, and emits no word/silence rows — same as the pandas
    oracle kernel. Without the coalesce, downstream ``F.concat`` of the
    arrays would go NULL and silently drop the turn from ALL aggregates."""
    wt = F.coalesce(
        F.col("word_timing"),
        F.array().cast("array<struct<Word:string,Duration:bigint,Offset:bigint>>"),
    )
    seg_sec = F.col("duration").cast("double") * 1e-7

    word_durs = F.transform(wt, lambda w: w["Duration"].cast("double") * 1e-4)

    # silences: leading + inter-word gaps via transform-with-index, then
    # trailing appended; all * 1e-4 to ms; zeros removed (reference :163).
    def sil(w, i):
        prev = F.element_at(wt, i)  # i is 0-based -> element_at 1-based = prev
        return F.when(
            i == 0, (w["Offset"] - F.col("offset")).cast("double") * 1e-4
        ).otherwise(
            (w["Offset"] - (prev["Offset"] + prev["Duration"])).cast("double") * 1e-4
        )

    between = F.transform(wt, sil)
    last = F.element_at(wt, -1)
    trailing = (
        (F.col("offset") + F.col("duration")) - (last["Offset"] + last["Duration"])
    ).cast("double") * 1e-4
    sils = F.when(F.size(wt) > 0, F.concat(between, F.array(trailing))).otherwise(
        F.array().cast("array<double>")
    )
    sils = F.filter(sils, lambda x: x != 0.0)

    return (
        df.withColumn("seg_sec", seg_sec)
        .withColumn("word_durs_ms", word_durs)
        .withColumn("sil_durs_ms", sils)
        .withColumn(
            # nan_guard, not bare division: a zero-duration turn must carry
            # NaN into the wps bundle (the reference's ratio convention),
            # not a NULL that aggregates silently skip
            "wps_seg",
            nan_guard_div(F.size(wt).cast("double"), F.col("seg_sec")),
        )
    )


def timing_stats(
    df: DataFrame,
    level: str = "conv",
    durations: DataFrame | None = None,
) -> DataFrame:
    """One wide row per entity with the reference's timing features:
    {segments,silences,words,wps}_{max,min,mean,med,std}, sil_duration,
    spk_duration, spk_sil_ratio, sps, wps, sil_count, short_utt_count,
    segment_count, word_count, total_duration, spk_ratio, sil_ratio,
    segs_per_min, short_utts_per_min.

    ``durations``: optional dimension with the entity keys + ``duration_ms``;
    pre-aggregated and broadcast-joined (replaces reference J2's per-group
    scan). Without it total_duration-derived features are NaN.
    """
    keys = keys_for(level)
    t = with_turn_timing(df)

    # ONE tagged value stream + ONE conditional hash aggregation. The naive
    # three-grain form (turn agg + word explode agg + silence explode agg,
    # joined) evaluates the word_timing HOF chain once per grain and
    # shuffles three times; higher-order array functions are interpreted
    # (outside whole-stage codegen), so the repeated evaluation dominates.
    # Tagging each value with its grain ('seg'/'wps'/'word'/'sil') costs one
    # explode and shuffles once, with map-side partial aggregation.
    tag = tag_struct
    stream = t.select(
        *keys,
        F.explode(
            F.concat(
                F.array(tag("seg", F.col("seg_sec"))),
                F.array(tag("wps", F.col("wps_seg"))),
                F.transform("word_durs_ms", lambda w: tag("word", w)),
                F.transform("sil_durs_ms", lambda s: tag("sil", s)),
            )
        ).alias("e"),
    ).select(*keys, F.col("e.k").alias("k"), F.col("e.v").alias("v"))

    _cond_bundle = cond_stat_bundle
    seg_v = F.when(F.col("k") == "seg", F.col("v"))
    out = stream.groupBy(*keys).agg(
        *_cond_bundle("seg", "segments"),
        *_cond_bundle("wps", "wps"),
        *_cond_bundle("word", "words"),
        *_cond_bundle("sil", "silences"),
        F.sum(seg_v).alias("spk_duration"),
        F.count(seg_v).cast("double").alias("segment_count"),
        F.sum(F.when((F.col("k") == "seg") & (F.col("v") <= 1.0), 1).otherwise(0))
        .cast("double")
        .alias("short_utt_count"),
        F.count(F.when(F.col("k") == "word", 1)).cast("double").alias("word_count"),
        F.count(F.when(F.col("k") == "sil", 1)).cast("double").alias("sil_count"),
        (
            F.coalesce(F.sum(F.when(F.col("k") == "sil", F.col("v"))), F.lit(0.0))
            * 0.001
        ).alias("sil_duration"),
    )
    # empty word/silence lists -> NaN bundles, zero counts (np.sum([]) == 0.0)
    for p in ("words", "silences"):
        for s in ("max", "min", "mean", "med", "std"):
            out = out.withColumn(f"{p}_{s}", F.coalesce(F.col(f"{p}_{s}"), nan()))
    # (word_count / sil_count need no coalesce: F.count returns 0, not
    # NULL, for groups with no matching rows; sil_duration's coalesce is
    # inside its aggregate above)

    out = (
        out.withColumn(
            "spk_sil_ratio", nan_guard_div(F.col("spk_duration"), F.col("sil_duration"))
        )
        .withColumn("sps", nan_guard_div(F.col("sil_count"), F.col("spk_duration")))
        .withColumn("wps", nan_guard_div(F.col("word_count"), F.col("spk_duration")))
    )

    if durations is not None:
        dim = durations.groupBy(*keys).agg(
            (F.sum("duration_ms") * 1e-3).alias("total_duration")
        )
        out = out.join(F.broadcast(dim), on=keys, how="left").withColumn(
            "total_duration", F.coalesce(F.col("total_duration"), F.lit(0.0))
        )
    else:
        out = out.withColumn("total_duration", nan())

    out = (
        out.withColumn(
            "spk_ratio", nan_guard_div(F.col("spk_duration"), F.col("total_duration"))
        )
        .withColumn(
            "sil_ratio", nan_guard_div(F.col("sil_duration"), F.col("total_duration"))
        )
        .withColumn(
            "segs_per_min",
            nan_guard_div(F.col("segment_count"), F.col("total_duration") / 60.0),
        )
        .withColumn(
            "short_utts_per_min",
            nan_guard_div(F.col("short_utt_count"), F.col("total_duration") / 60.0),
        )
    )
    return out
