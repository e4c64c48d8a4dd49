"""End-to-end pre-training corpus preparation: the standard cleaning
chain (exact dedup → Gopher quality rules → cross-doc duplicate-span
removal → optional benchmark decontamination → optional perplexity
filter → chunking → leakage-safe split) composed as ONE declarative
DataFrame plan.

Every stage is an independently DuckDB/python-oracle-verified operator
(see their modules); this module only composes them, so the pipeline
inherits each stage's correctness evidence. The composition stays lazy —
nothing executes until the caller writes or counts — and Catalyst sees
the whole chain at once (column pruning reaches the scan through all
stages; one pass over the text per stage family).

Scale notes: the chain's shuffles are exactly the component shuffles
(dedup fingerprint agg, gopher n-gram aggs, span window aggs + hit-side
windows, LM count aggs when enabled); chunking and splitting add none.
For a multi-day 100 TB run, snapshot-commit (sources/snapshots.py) after
the span-removal stage — the most expensive — so downstream re-chunking
with different max_tokens never recleans the corpus.
"""

from __future__ import annotations

from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def prepare_corpus_stages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    thresholds: dict[str, float] | None = None,
    span_l: int = 8,
    span_min_docs: int = 2,
    benchmark_df: DataFrame | None = None,
    max_ppl: float | None = None,
    lm_k: float = 0.1,
    quality_model=None,
    min_quality_prob: float = 0.5,
    max_tokens: int = 128,
    overlap: int = 0,
    split_fractions: dict[str, float] | None = None,
    split_salt: str = "",
) -> "OrderedDict[str, DataFrame]":
    """Build the cleaning chain and return every intermediate stage as a
    lazy DataFrame (ordered input → final). Stages:

    input → exact_dedup → gopher → despan → [decontaminate] → [ppl_filter]
    → [quality_model] → chunks → split

    ``benchmark_df`` enables decontamination against its text 8-grams;
    ``max_ppl`` enables the CCNet perplexity filter (the bigram LM is
    trained on the corpus as it stands at that stage — post-cleaning, so
    boilerplate already removed does not drag the model); ``quality_model``
    (a trained ops.quality_model.QualityModel) enables the learned-filter
    stage at ``min_quality_prob`` — the model is trained OUTSIDE the chain
    (on labels/reference corpora of the caller's choice) so the pipeline
    itself stays one deterministic lazy plan. The final stage is
    chunk-grain with a ``split`` column; all earlier stages are doc-grain
    with the input columns."""
    from feature_extraction_spark.ops.chunk import chunk_documents, hash_split
    from feature_extraction_spark.ops.dedup import decontaminate, exact_dedup
    from feature_extraction_spark.ops.gopher import gopher_filter
    from feature_extraction_spark.ops.lm import perplexity_filter, train_bigram_lm
    from feature_extraction_spark.ops.spans import remove_duplicate_spans

    stages: "OrderedDict[str, DataFrame]" = OrderedDict()
    stages["input"] = df
    cur = exact_dedup(df, id_col=id_col, text_col=text_col)
    stages["exact_dedup"] = cur
    cur = gopher_filter(cur, text_col=text_col, id_cols=(id_col,), thresholds=thresholds)
    stages["gopher"] = cur
    cur = remove_duplicate_spans(
        cur, text_col=text_col, id_col=id_col, l=span_l, min_docs=span_min_docs
    ).drop("n_removed_tokens")
    stages["despan"] = cur
    if benchmark_df is not None:
        cur = decontaminate(cur, benchmark_df, id_col=id_col, text_col=text_col)
        stages["decontaminate"] = cur
    if max_ppl is not None:
        lm = train_bigram_lm(cur, text_col=text_col, k=lm_k)
        cur = perplexity_filter(
            cur, lm, max_ppl=max_ppl, text_col=text_col, id_cols=(id_col,)
        )
        stages["ppl_filter"] = cur
    if quality_model is not None:
        from feature_extraction_spark.ops.quality_model import quality_filter

        filtered = quality_filter(
            quality_model, cur, min_prob=min_quality_prob, text_col=text_col
        )
        # scoring adds the q_* feature columns + probability; the stage
        # contract is doc-grain with the INPUT columns
        cur = filtered.drop(*[c for c in filtered.columns if c not in cur.columns])
        stages["quality_model"] = cur
    cur = chunk_documents(
        cur, id_col=id_col, text_col=text_col, max_tokens=max_tokens, overlap=overlap
    )
    stages["chunks"] = cur
    cur = hash_split(cur, key_cols=id_col, fractions=split_fractions, salt=split_salt)
    stages["split"] = cur
    return stages


def prepare_corpus(df: DataFrame, **kwargs) -> DataFrame:
    """The chain of ``prepare_corpus_stages`` collapsed to its final
    DataFrame: training-ready (id, chunk_idx, chunk_text, n_tokens, split)
    rows."""
    return next(reversed(prepare_corpus_stages(df, **kwargs).values()))


def prepare_sft_stages(
    turns: DataFrame,
    conv_col: str = "conv_id",
    order_cols: tuple[str, ...] = ("turn_idx",),
    role_col: str = "role",
    text_col: str = "text",
    trainable_roles: tuple[str, ...] = ("assistant",),
    max_chars: int | None = None,
    dedup_lines: bool = False,
    benchmark_df: DataFrame | None = None,
    split_fractions: dict[str, float] | None = None,
    split_salt: str = "",
) -> "OrderedDict[str, DataFrame]":
    """SFT (supervised fine-tuning) dataset assembly from a TURN-grain
    transcript table, composed from the same independently-oracled
    operators as prepare_corpus:

    turns → [truncate to max_chars, whole-turn] → render (conv-grain
    "role: text" documents + loss-mask totals) → drop conversations with
    zero trainable mass → exact_dedup of identical conversations →
    [cross-corpus line_dedup of boilerplate turns] → [decontaminate vs a
    benchmark] → leakage-safe hash split at CONVERSATION grain (a
    conversation never straddles train/val/test).

    The final stage is conv-grain (conv_col, text, split); every stage is
    lazy and the whole chain is one Catalyst plan. The dedup stages
    consume the rendered conv-grain frame on multiple join sides, so
    execution re-runs the truncate+render chain per consumer.
    """
    from feature_extraction_spark.ops.chunk import hash_split
    from feature_extraction_spark.ops.dedup import decontaminate, exact_dedup
    from feature_extraction_spark.ops.lines import line_dedup
    from feature_extraction_spark.ops.render import (
        render_conversations,
        truncate_conversations,
    )

    stages: "OrderedDict[str, DataFrame]" = OrderedDict()
    stages["input"] = turns
    cur = turns
    if max_chars is not None:
        cur = truncate_conversations(
            cur,
            max_chars,
            conv_col=conv_col,
            order_cols=order_cols,
            role_col=role_col,
            text_col=text_col,
        ).filter("kept").drop("cum_chars", "kept")
        stages["truncate"] = cur
    cur = render_conversations(
        cur,
        conv_col=conv_col,
        order_cols=order_cols,
        role_col=role_col,
        text_col=text_col,
        trainable_roles=trainable_roles,
    )
    stages["render"] = cur
    cur = cur.filter(F.col("n_trainable_chars") > 0).select(conv_col, "text")
    stages["trainable_only"] = cur
    cur = exact_dedup(cur, id_col=conv_col, text_col="text")
    stages["exact_dedup"] = cur
    if dedup_lines:
        cur = (
            line_dedup(cur, id_col=conv_col, text_col="text")
            .select(conv_col, F.col("text_dedup").alias("text"))
            .filter(F.length("text") > 0)
        )
        stages["line_dedup"] = cur
    if benchmark_df is not None:
        cur = decontaminate(
            cur, benchmark_df, id_col=conv_col, text_col="text"
        )
        stages["decontaminate"] = cur
    cur = hash_split(
        cur, key_cols=conv_col, fractions=split_fractions, salt=split_salt
    )
    stages["split"] = cur
    return stages


def prepare_sft(turns: DataFrame, **kwargs) -> DataFrame:
    """``prepare_sft_stages`` collapsed to its final DataFrame:
    (conv_col, text, split) training-ready conversations."""
    return next(reversed(prepare_sft_stages(turns, **kwargs).values()))


def stage_counts(stages: "OrderedDict[str, DataFrame]") -> DataFrame:
    """Row count per stage as one DataFrame (stage_idx, stage, rows) — the
    funnel report. One union-of-aggregates plan: a single action computes
    every count; per-stage lineages share scans via Spark's plan/exchange
    reuse where shapes allow."""
    parts = [
        s.agg(F.count(F.lit(1)).alias("rows")).select(
            F.lit(i).alias("stage_idx"), F.lit(name).alias("stage"), "rows"
        )
        for i, (name, s) in enumerate(stages.items())
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("stage_idx", "stage", "rows")
