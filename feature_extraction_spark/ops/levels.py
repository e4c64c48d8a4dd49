"""Entity-hierarchy level resolution (reference operator A1).

The reference runs every feature extractor at a runtime-parameterized
grouping level over the hierarchy segment < call < day < week < subject
(reference: kaldi_asr_features/extract_timing_feats.py:62-92, CLI at
:211-212; day key built at microsoft_asr_features/group_audio_files.py:26-28).

For the canonical transcripts table the mapping is:

    turn    -> (conv_id, turn_idx)          [reference: segment]
    session -> (conv_id, session_id)        [engine extension, W6]
    conv    -> (conv_id,)                   [reference: call]
    day     -> (subject_id, day)
    week    -> (subject_id, week)
    subject -> (subject_id,)

``subject_id`` is derived (prefix-hash of conv_id) unless a metadata
dimension provides a real one (join via ``attach_subject``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

LEVELS = ("turn", "session", "conv", "day", "week", "subject")


def default_subject_expr(n_subjects: int = 1000) -> Column:
    """Deterministic conv->subject assignment when no dimension exists."""
    return F.format_string(
        "subj_%04d", F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_subjects)).cast("int")
    )


def with_entity_keys(
    df: DataFrame,
    subject_expr: Column | None = None,
    ts_col: str = "ts",
) -> DataFrame:
    """Add derived hierarchy columns: subject_id, day, week. Columns the
    caller already attached (e.g. site-local calendar days from a metadata
    dimension) are NEVER overwritten — derivation fills gaps only."""
    if "subject_id" not in df.columns:
        if subject_expr is None:
            subject_expr = default_subject_expr()
        df = df.withColumn("subject_id", subject_expr)
    # UTC calendar days and Monday weeks, from epoch seconds: to_date and
    # date_trunc would follow the session zone
    day = F.date_from_unix_date(F.floor(F.unix_seconds(ts_col) / 86400).cast("int"))
    if "day" not in df.columns:
        df = df.withColumn("day", day)
    if "week" not in df.columns:
        df = df.withColumn("week", F.date_sub(day, F.weekday(day)))
    return df


def keys_for(level: str) -> list[str]:
    if level not in LEVELS:
        raise ValueError(f"unknown level {level!r}; expected one of {LEVELS}")
    return {
        "turn": ["conv_id", "turn_idx"],
        "session": ["conv_id", "session_id"],
        "conv": ["conv_id"],
        "day": ["subject_id", "day"],
        "week": ["subject_id", "week"],
        "subject": ["subject_id"],
    }[level]


def attach_subject(df: DataFrame, dim: DataFrame, on: str = "conv_id") -> DataFrame:
    """Broadcast-join a conversation->subject dimension (reference J1/J3:
    group_audio_files.py:47-50 dict-map join, rebuilt as a broadcast
    hash equi-join)."""
    return df.join(F.broadcast(dim), on=on, how="inner")


def multi_level_agg(
    df: DataFrame,
    levels: list[str],
    aggs: dict[str, Column],
    subject_expr: Column | None = None,
) -> DataFrame:
    """All requested hierarchy levels in ONE pass via GROUPING SETS.

    The reference runs one full job per ``--level``
    (kaldi_asr_features/extract_timing_feats.py:211-212) — L levels = L
    scans + L shuffles. GROUPING SETS computes every level's aggregate in a
    single scan + single shuffle (Catalyst expands rows once per grouping
    set map-side, then one hash aggregation); at 100 TB that is a 1/L cost
    reduction for multi-level feature runs.

    Returns one row per entity per level, with a ``level`` tag column and
    the union of all key columns (NULL where a key is not part of that
    level's grouping set).
    """
    key_sets = {lv: keys_for(lv) for lv in levels}
    all_keys = list(dict.fromkeys(k for ks in key_sets.values() for k in ks))
    if any(k in ("subject_id", "day", "week") for k in all_keys):
        df = with_entity_keys(df, subject_expr=subject_expr)

    grouped = df.groupingSets([key_sets[lv] for lv in levels], *all_keys)

    # grouping_id bit i (MSB = first grouping column) set <=> column i is
    # aggregated away in this row's grouping set -> identifies the level.
    nbits = len(all_keys)
    gid_for = {
        lv: sum(
            1 << (nbits - 1 - i)
            for i, k in enumerate(all_keys)
            if k not in key_sets[lv]
        )
        for lv in levels
    }
    level_col = F.lit(None).cast("string")
    for lv, gid in gid_for.items():
        level_col = F.when(F.grouping_id() == gid, F.lit(lv)).otherwise(level_col)
    out = grouped.agg(
        *[c.alias(n) for n, c in aggs.items()],
        level_col.alias("level"),
    )
    return out.select("level", *all_keys, *aggs.keys())
