"""Lexical-diversity feature pack: MATTR (moving-average type-token ratio)
and Honoré's statistic.

Reference kernel: text_features/extract_lexical_diversity.py:10-84 —
MATTR windows 10/25/50 with an O(n) rolling vocab dict and a short-group
fallback (window := len(words), :24-27), plus Honoré
``100*log(N / (1 - V1/(V+1e-5)))`` with an O(n²) frequency-1 count (:63).

Spark-first rebuild:
- The group's word sequence is the ordered concatenation of per-turn
  single-space splits (identical to the reference driver's
  ``" ".join(texts).split(" ")`` — one space between turns means the flatten
  of per-turn splits equals the split of the join). Every turn, NULL text
  included, yields at least one token, so every entity keeps a row.
- MATTR window w in O(n) (no per-position sets): a token at position p
  whose previous same-word occurrence is at q (0 if none) is the *first*
  occurrence of its type inside exactly the windows starting in
  ``(max(q, p-w+1-1), p]`` clipped to the valid starts ``[1, n-w+1]`` —
  so ``sum(distinct-count over windows) = sum(per-token interval length)``
  and ``MATTR_w = sum / (w * (n-w+1))``. One ``lag`` over (entity, word)
  + one aggregation replaces three collect_set window frames (the O(n·w)
  form was the 2nd-slowest doc query in BENCH_r01). Short groups (n < w)
  fall back to a single window of size n -> countDistinct/n, matching the
  reference.
- Honoré: explode -> groupBy(entity, word).count -> N, V, V1 natively
  (replacing the reference's quadratic listcomp; SURVEY.md §4.1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feature_extraction_spark.functions.text import nan, tokenize_expr
from feature_extraction_spark.ops.levels import keys_for

MATTR_WINDOWS = (10, 25, 50)


def lexdiv_stats(
    transcripts: DataFrame,
    level: str = "conv",
    text_col: str = "text",
    windows: tuple[int, ...] = MATTR_WINDOWS,
) -> DataFrame:
    """One row per entity: MATTR_10 MATTR_25 MATTR_50 HS."""
    keys = keys_for(level)
    order_cols = ["ts", "conv_id", "turn_idx"] if level != "turn" else ["ts"]

    wrows = transcripts.select(
        *keys,
        *[c for c in order_cols if c not in keys],
        F.posexplode(tokenize_expr(F.col(text_col))).alias("pos", "word"),
    )
    w_order = Window.partitionBy(*keys).orderBy(*order_cols, "pos")
    w_part = Window.partitionBy(*keys)
    wrows = wrows.withColumn("gpos", F.row_number().over(w_order)).withColumn(
        "n", F.count(F.lit(1)).over(w_part)
    )

    # previous/next occurrence position of this word within the entity
    # (prev 0 = first occurrence). The same (entity, word) window sort also
    # yields Honoré's inputs with no extra aggregation: V = #first
    # occurrences, V1 = #words whose first occurrence has no successor.
    w_prev = Window.partitionBy(*keys, "word").orderBy("gpos")
    wrows = wrows.withColumn(
        "prev", F.coalesce(F.lag("gpos").over(w_prev), F.lit(0))
    ).withColumn("nxt", F.lead("gpos").over(w_prev))

    ttr_cols = list(windows)
    mattr_aggs = []
    for w in ttr_cols:
        m = F.col("n") - w + 1  # number of valid window starts
        lo = F.greatest(F.col("prev") + 1, F.col("gpos") - (w - 1))
        hi = F.least(F.col("gpos"), m)
        contrib = F.greatest(hi - lo + 1, F.lit(0)).cast("double")
        mattr_aggs.append(
            (
                F.sum(F.when(F.col("n") >= w, contrib))
                / (F.lit(float(w)) * (F.max("n") - w + 1))
            ).alias(f"_mattr_main_{w}")
        )

    first_occ = F.col("prev") == 0
    out = wrows.groupBy(*keys).agg(
        F.max("n").alias("n"),
        F.sum(F.when(first_occ, 1).otherwise(0)).cast("double").alias("V"),
        F.sum(F.when(first_occ & F.col("nxt").isNull(), 1).otherwise(0))
        .cast("double")
        .alias("V1"),
        *mattr_aggs,
    )
    for w in ttr_cols:
        out = out.withColumn(
            f"MATTR_{w}",
            F.when(F.col("n") == 0, nan())
            .when(F.col("n") >= w, F.col(f"_mattr_main_{w}"))
            .otherwise(F.col("V") / F.col("n")),  # fallback: one window of size n
        ).drop(f"_mattr_main_{w}")

    eps = 1e-5
    hs = 100.0 * F.log(
        F.col("n") / (F.lit(1.0) - F.col("V1") / (F.col("V") + F.lit(eps)))
    )
    out = out.withColumn("HS", F.when(F.col("n") == 0, nan()).otherwise(hs))
    return out.drop("n", "V", "V1")
