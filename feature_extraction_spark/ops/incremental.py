"""Incremental (mergeable-partial) aggregation — "process only what the
last commit added", the pattern that keeps a 10^12-turn feature store from
recomputing the world on every append.

The algebra: a stat STATE per entity — (n, sum, sumsq, min, max) — is
- computable per shard with one hash aggregation (``partial_stat_state``),
- mergeable by another hash aggregation, sum/sum/sum/min/max
  (``merge_stat_states``),
- finalizable at read time: count n, mean sum/n, population variance
  sumsq/n - mean^2.

``streaming/feature_store.make_state_upserter`` is the caller: each
micro-batch's partial state is merged into the last committed snapshot
(``sources/snapshots.py``) and committed as the next one, so an update
touches |batch| + |state| bytes regardless of table history.

Exact medians are NOT algebraically mergeable; packs that need them either
rescan (exact) or maintain a ``sketches.histogram_state`` next to the stat
state — the fixed-edge histogram IS mergeable under this same flow and
finalizes to any quantile within one bin width. The sumsq variance form
can cancel catastrophically when |mean| >> stddev; values here (counts,
durations, gaps) are well away from that regime — for hostile magnitudes,
shift by a per-entity offset first.

Reference analog: the reference re-runs every per-file script over the full
corpus on each data drop (slurm array over all files,
microsoft_asr_features/extract_timing_features.py:187-218); this replaces
that with delta-only processing.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.ops.levels import keys_for

STATE_COLS = ("n", "sum", "sumsq", "min", "max")


def partial_stat_state(
    df: DataFrame, value_col: str, level: str = "conv"
) -> DataFrame:
    """Per-entity mergeable state of ``value_col``: one hash aggregation,
    map-side combinable, no sort."""
    keys = keys_for(level)
    c = F.col(value_col).cast("double")
    return df.groupBy(*keys).agg(
        F.count(c).alias("n"),
        F.sum(c).alias("sum"),
        F.sum(c * c).alias("sumsq"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
    )


def merge_stat_states(*states: DataFrame) -> DataFrame:
    """Combine any number of state tables (an entity may appear in any
    subset). Input bytes: sum of |entities| rows per state — independent of
    the raw data the states summarize."""
    allu = reduce(lambda a, b: a.unionByName(b), states)
    keys = [c for c in allu.columns if c not in STATE_COLS]
    return allu.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("sum").alias("sum"),
        F.sum("sumsq").alias("sumsq"),
        F.min("min").alias("min"),
        F.max("max").alias("max"),
    )
