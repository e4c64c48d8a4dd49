"""Non-verbal token ratios (reference:
kaldi_asr_features/extract_non_verbal.py:8-23).

Ratio of '[laughter]', '[noise]', '<unk>' tokens to the total token count of
the entity group. Tokenization is ``seg.strip().split(" ")`` — note the strip
before the split. Fully native: per-turn array counts, then one hash
aggregation per entity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import nan_guard_div, tokenize_expr
from feature_extraction_spark.ops.levels import keys_for

MARKERS = {"laughter": "[laughter]", "noise": "[noise]", "unk": "<unk>"}


def nonverbal_stats(
    transcripts: DataFrame, level: str = "conv", text_col: str = "text"
) -> DataFrame:
    keys = keys_for(level)
    tokens = tokenize_expr(F.trim(F.col(text_col)))

    def count_marker(marker: str):
        # NB: the HOF lambda must take exactly one parameter — a second
        # parameter (even defaulted) is treated as the array index.
        return F.size(F.filter(tokens, lambda t: t == F.lit(marker)))

    per_turn = transcripts.select(
        *keys,
        F.size(tokens).alias("_n_tok"),
        *[count_marker(m).alias(f"_c_{name}") for name, m in MARKERS.items()],
    )
    agg = per_turn.groupBy(*keys).agg(
        F.sum("_n_tok").alias("_total"),
        *[F.sum(f"_c_{name}").alias(f"_s_{name}") for name in MARKERS],
    )
    for name in MARKERS:
        agg = agg.withColumn(
            name, nan_guard_div(F.col(f"_s_{name}"), F.col("_total"))
        ).drop(f"_s_{name}")
    return agg.drop("_total")
