"""Driver contract for the spark-graft builder (PySpark target).

Every entry in ``queries()`` is an operator from SURVEY.md §2 (or a
training-pipeline extension) run over the driver testdata; ``oracle_sql()``
holds the DuckDB-equivalent ANSI SQL. Column names and types are aligned on
both sides; float aggregates are rounded to stabilize value hashing;
timestamps are emitted as epoch microseconds (bigint).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SF1 = "/root/testdata/sf0.001"

# Synthetic LIWC-style dictionary (the real LIWC 2007 .dic is proprietary;
# same synthetic dict as tests/test_pos_graph_liwc.py).
_DIC = """%
1\tposemo
2\tnegemo
3\tsocial
%
happ*\t1
good\t1
bad\t2
sad\t2
you\t3
you know\t3
friend*\t3
"""

# ---------------------------------------------------------------- helpers


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parquet stores ts as TIMESTAMP_NTZ, read as UTC wall-clock: the same
    # instants as DuckDB's epoch_us, whatever the session zone.
    from feature_extraction_spark.sources.io import with_utc_ts

    return with_utc_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def _events_as_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events -> canonical transcripts shape (user≈conv, event≈turn)."""
    return _events(spark, sf_dir).select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.col("event_id").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.col("ts"),
        F.col("value"),
        F.col("event_id"),
    )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _docs_as_transcripts(spark: SparkSession, sf_dir: str, group_col: str) -> DataFrame:
    """documents -> transcripts shape: one group per ``group_col`` value,
    docs ordered by doc_id within the group."""
    return _docs(spark, sf_dir).select(
        F.col(group_col).alias("conv_id"),
        F.col("doc_id").cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_millis(F.col("doc_id") * 1000).alias("ts"),
    )


def _r6(df: DataFrame, cols: list[str]) -> DataFrame:
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c).cast("double"), 6))
    return df


def _r4(df: DataFrame, cols: list[str]) -> DataFrame:
    """Coarser quantization for queries whose aggregates can land exactly on
    a 6th-decimal round-half boundary (summation-order-dependent ulp flips
    made round-6 hash-unstable between Spark and DuckDB — CORRECTNESS_r01).
    The matching oracle SQL rounds to 4 as well."""
    for c in cols:
        df = df.withColumn(c, F.round(F.col(c).cast("double"), 4))
    return df


# ---------------------------------------------------------------- queries


def q_verbosity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.turn_stats import verbosity_stats

    t = _docs_as_transcripts(spark, sf_dir, "source")
    out = verbosity_stats(t, level="conv").withColumnRenamed("conv_id", "source")
    return _r6(
        out,
        [
            "wc_mean", "wc_median", "wc_stdev", "wc_min", "wc_max",
            "total_count", "lw_count", "word_len",
            "syll_mean", "syll_median", "syll_stdev", "syll_min", "syll_max",
        ],
    )


def q_lexdiv_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.lexdiv import lexdiv_stats

    d = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"),
        F.timestamp_millis(F.lit(0)).alias("ts"),
    )
    out = lexdiv_stats(d, level="conv").select(
        F.col("conv_id").cast("bigint").alias("doc_id"),
        "MATTR_10", "MATTR_25", "MATTR_50", "HS",
    )
    return _r6(out, ["MATTR_10", "MATTR_25", "MATTR_50", "HS"])


def q_nonverbal_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.nonverbal import nonverbal_stats

    t = _docs_as_transcripts(spark, sf_dir, "lang")
    out = nonverbal_stats(t, level="conv").withColumnRenamed("conv_id", "lang")
    return _r6(out, ["laughter", "noise", "unk"])


def q_token_counts_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.textquality import with_token_counts

    return with_token_counts(_docs(spark, sf_dir)).select(
        "doc_id", "n_words", "n_tokens_bpe"
    )


def q_langid_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.textquality import with_lang_id

    return with_lang_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


def q_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.textquality import with_fingerprint

    return with_fingerprint(_docs(spark, sf_dir)).select("doc_id", "fingerprint_md5")


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.dedup import exact_dedup

    return exact_dedup(_docs(spark, sf_dir)).select("doc_id")


def q_jaccard_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(
        _docs(spark, sf_dir), n=3, threshold=0.6, max_shingle_df=None
    )
    return _r6(out, ["jaccard"])


def q_minhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidates + exact-Jaccard verification. 128 perms x 32
    bands (4 rows/band): P(miss) per 0.8-similar pair ~(1-0.8^4)^32 = 4e-8,
    so the output equals the exact Jaccard>=0.8 pair set and the query is
    value-checked against the plain-SQL oracle (verified equal at sf0.001
    and sf0.01). 128/32 is the op's default."""
    from feature_extraction_spark.ops.dedup import minhash_lsh_dedup

    out = minhash_lsh_dedup(_docs(spark, sf_dir), threshold=0.8)
    return _r6(out, ["jaccard"])


def q_minhash_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash-LSH dedup: half the corpus is the 'existing'
    corpus whose persisted band state (minhash_band_state) is probed by
    the other half (the ingest increment) — only the increment is
    shingled/hashed/banded; the old corpus is touched solely by the
    semi-join-pruned verification. Output = old-corpus pairs ∪ increment
    pairs, which by band-collision symmetry equals the full-corpus pair
    set — so the query shares minhash_pairs_docs' exact-Jaccard>=0.8 SQL
    oracle (full-recall 128x32 config; equality asserted in
    tests/test_dedup_incremental.py and value-checked here)."""
    from feature_extraction_spark.ops.dedup import (
        minhash_band_state,
        minhash_lsh_dedup,
        minhash_lsh_dedup_incremental,
    )

    d = _docs(spark, sf_dir)
    old = d.filter(F.col("doc_id") % 2 == 0)
    new = d.filter(F.col("doc_id") % 2 == 1)
    old_pairs = minhash_lsh_dedup(old, threshold=0.8)
    state = minhash_band_state(old)
    inc_pairs, _ = minhash_lsh_dedup_incremental(state, old, new, threshold=0.8)
    return _r6(old_pairs.unionByName(inc_pairs), ["jaccard"])


def q_stream_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous streaming dedup, driven through its foreachBatch upserter
    directly (the exactly-once commit path; an availableNow stream over it
    is pytest-covered): the corpus arrives as two micro-batches, each
    probing and extending the snapshot-committed band index. The final
    pairs snapshot equals the batch full-corpus pair set (invariant), so
    the query is value-checked against the same exact-Jaccard>=0.8 oracle
    as minhash_pairs_docs."""
    import shutil
    import tempfile

    from feature_extraction_spark.sources.snapshots import (
        last_committed_version,
        read_snapshot,
    )
    from feature_extraction_spark.streaming.dedup import make_dedup_upserter

    d = _docs(spark, sf_dir)
    state = tempfile.mkdtemp(prefix="stream_dedup_state_")
    try:
        up = make_dedup_upserter(state, threshold=0.8)
        up(d.filter(F.col("doc_id") % 2 == 0), 0)
        up(d.filter(F.col("doc_id") % 2 == 1), 1)
        pairs_t = f"{state}/pairs"
        out = read_snapshot(
            spark, pairs_t, last_committed_version(spark, pairs_t)
        )
        # pin the (tiny) pair set driver-side so the state dir can be
        # removed immediately — repeated driver/bench invocations no
        # longer leak one mkdtemp per call
        final = _r6(out, ["jaccard"])
        return spark.createDataFrame(final.collect(), final.schema)
    finally:
        shutil.rmtree(state, ignore_errors=True)


def q_simhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash chunk-banding candidates (hamming<=15, 16 chunks x 4 bits) +
    exact-Jaccard verification; output equals the exact Jaccard>=0.8 pair
    set (SimHash recall 1.0 at this bound on the testdata — asserted in
    tests), so the query is value-checked against the SQL oracle."""
    from feature_extraction_spark.ops.dedup import simhash_neardup_pairs

    out = simhash_neardup_pairs(
        _docs(spark, sf_dir), max_hamming=15, threshold=0.8
    )
    return _r6(out, ["jaccard"])


def q_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.asof import asof_join

    e = _events(spark, sf_dir)
    right = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join(
        e.select("event_id", "user_id", "ts"),
        right,
        on="user_id",
        value_cols=["pval"],
    )
    return out.select(
        "event_id",
        F.round("pval_asof", 6).alias("purchase_value"),
        F.unix_micros("ts_asof").alias("purchase_ts_us"),
    )


def q_asof_purchase_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.asof import asof_join_broadcast

    e = _events(spark, sf_dir)
    right = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join_broadcast(
        e.select("event_id", "user_id", "ts"),
        right,
        on="user_id",
        value_cols=["pval"],
    )
    return out.select(
        "event_id",
        F.round("pval_asof", 6).alias("purchase_value"),
        F.unix_micros("ts_asof").alias("purchase_ts_us"),
    )


def q_asof_purchase_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join (pandas merge_asof direction='forward' parity):
    every event gets the NEXT purchase aggregate at-or-after its ts — the
    retrospective time-to-next-event direction. Same one-shuffle union-tag
    window plan as backward; DuckDB oracle is ASOF JOIN with <=."""
    from feature_extraction_spark.ops.asof import asof_join

    e = _events(spark, sf_dir)
    right = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join(
        e.select("event_id", "user_id", "ts"),
        right,
        on="user_id",
        value_cols=["pval"],
        direction="forward",
    )
    return out.select(
        "event_id",
        F.round("pval_asof", 6).alias("next_purchase_value"),
        F.unix_micros("ts_asof").alias("next_purchase_ts_us"),
    )


def q_asof_purchase_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join: the closer of the backward/forward purchase
    match per event (|age| ties prefer backward — mirrored in the oracle's
    CASE). Still ONE shuffle: both frames share the single (user_id,
    ts, tag) sort."""
    from feature_extraction_spark.ops.asof import asof_join

    e = _events(spark, sf_dir)
    right = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join(
        e.select("event_id", "user_id", "ts"),
        right,
        on="user_id",
        value_cols=["pval"],
        direction="nearest",
    )
    return out.select(
        "event_id",
        F.round("pval_asof", 6).alias("nearest_purchase_value"),
        F.unix_micros("ts_asof").alias("nearest_purchase_ts_us"),
    )


def q_decontaminate_bloom_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination: identical output to
    decontaminate_docs (the broadcast bitset only over-flags; exact
    verification removes false positives), so it shares that query's SQL
    oracle. The point is the scale path: ~13x smaller broadcast than the
    hash relation and a map-only codegen probe of the corpus."""
    from feature_extraction_spark.ops.dedup import decontaminate_bloom

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 37 == 0).select("text")
    return decontaminate_bloom(d, bench, n=8).select("doc_id")


def q_emb_pool_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean-pool the embeddings table per label (the conversation/document
    -level vector op), emitted one row per (label, dim) so the value check
    is scalar-exact."""
    from feature_extraction_spark.ops.similarity import pool_embeddings

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = pool_embeddings(emb, "label", emb_col="embedding")
    return out.select(
        "label",
        "n_rows",
        F.posexplode("pooled").alias("dim", "val"),
    ).select("label", "n_rows", "dim", F.round("val", 6).alias("val"))


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.sessionize import session_bounds

    t = _events_as_transcripts(spark, sf_dir)
    out = session_bounds(t, gap_seconds=3600.0)
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "session_id",
        F.col("n_turns").alias("n_events"),
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
    )


def q_session_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level aggregation (A1 level='session' composed with W6):
    sessionize, then one hash aggregation per (conv, session)."""
    from feature_extraction_spark.ops.sessionize import sessionize

    t = _events_as_transcripts(spark, sf_dir)
    s = sessionize(t, gap_seconds=3600.0)
    out = s.groupBy("conv_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("role") == "purchase", 1).otherwise(0)).alias(
            "n_purchases"
        ),
        F.round(F.avg("value"), 4).alias("val_mean"),
        F.round(F.stddev_pop("value"), 4).alias("val_std"),
    )
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "session_id", "n_events", "n_purchases", "val_mean", "val_std",
    )


def q_latency_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.windows import latency_stats

    t = _events_as_transcripts(spark, sf_dir)
    out = latency_stats(t, level="conv")
    out = out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "gap_max", "gap_min", "gap_mean", "gap_med", "gap_std", "gap_count",
    )
    return _r4(out, ["gap_max", "gap_min", "gap_mean", "gap_med", "gap_std"])


def q_rolling_events_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    out = e.select(
        "event_id",
        F.count(F.lit(1)).over(w).alias("roll_cnt_1h"),
        F.round(F.avg("value").over(w), 4).alias("roll_val_avg_1h"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(w)
        .alias("roll_purchases_1h"),
    )
    return out


def q_backfill_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.backfill import backfill

    t = _events_as_transcripts(spark, sf_dir).withColumn(
        "pv", F.when(F.col("role") == "purchase", F.col("value"))
    )
    out = backfill(t, ["pv"], partition_cols=["conv_id"], order_cols=["ts", "turn_idx"])
    return out.select(
        "event_id", F.round("pv_filled", 6).alias("last_purchase_value")
    )


def q_role_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.windows import role_transition_counts

    t = _events_as_transcripts(spark, sf_dir)
    out = role_transition_counts(t, level="conv")
    return out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        F.col("role_transition").alias("transition"),
        "n_transitions",
    )


def q_pos_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.pos import POS_KEYS, pos_features

    t = _docs_as_transcripts(spark, sf_dir, "source")
    out = pos_features(t, level="conv").withColumnRenamed("conv_id", "source")
    return _r6(out, POS_KEYS + ["adj_ratio", "v_ratio", "n_ratio", "pn_ratio", "sc_ratio"])


def q_liwc_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIWC category proportions per source group. A NULL-text-only
    entity ('zz~nulltext') is UNIONED in so the shared NULL-text rule is
    exercised at the driver gate: its NULL turn is one empty token, like
    '', so the entity keeps its row with every proportion 0.0."""
    from feature_extraction_spark.ops.liwc import liwc_features, parse_dic

    t = _docs_as_transcripts(spark, sf_dir, "source")
    inj = t.sparkSession.range(1).select(
        F.lit("zz~nulltext").alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("string").alias("tool"),
        F.timestamp_millis(F.lit(0)).alias("ts"),
    )
    t = t.unionByName(inj)
    d = parse_dic(_DIC)
    out = liwc_features(t, d, level="conv").withColumnRenamed("conv_id", "source")
    return _r6(out, [f"{c}_liwc" for c in d.categories])


def q_quality_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.textquality import with_quality_score

    out = with_quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "q_n_chars", "q_n_words", "q_mean_word_len",
        "q_punct_ratio", "q_upper_ratio", "q_stopword_ratio",
        "q_distinct_ratio", "q_score",
    )
    return _r6(
        out,
        ["q_mean_word_len", "q_punct_ratio", "q_upper_ratio",
         "q_stopword_ratio", "q_distinct_ratio", "q_score"],
    )


GOPHER_COLS = [
    "mean_word_len", "symbol_word_ratio", "alpha_word_frac",
    "dup_line_frac", "dup_line_char_frac",
    "top_2gram_char_frac", "top_3gram_char_frac", "top_4gram_char_frac",
    "dup_5gram_char_frac", "dup_7gram_char_frac", "dup_10gram_char_frac",
]


def q_gopher_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition/quality rules (Rae et al. 2021 Appendix A) over
    documents; the DuckDB oracle re-derives every statistic AND the
    published-threshold keep decision from first principles (SQL generated
    from the same GOPHER_THRESHOLDS constants — see _gopher_sql)."""
    from feature_extraction_spark.ops.gopher import with_gopher_quality

    out = with_gopher_quality(_docs(spark, sf_dir)).select(
        "doc_id", "gq_n_words", "stopword_hits", *GOPHER_COLS, "gopher_keep"
    )
    return _r6(out, GOPHER_COLS)


BM25_QUERY = "hash join vector scan"


def q_bm25_topk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Lucene idf form) over documents; ranked by
    the 6-digit-rounded score (tie_digits — exact-score order is
    ulp-unstable across engines) then doc_id, mirrored in the oracle."""
    from feature_extraction_spark.ops.ranking import bm25_topk

    out = bm25_topk(_docs(spark, sf_dir), BM25_QUERY, k=20, tie_digits=6)
    return _r6(out, ["bm25"])


def q_lm_ppl_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style n-gram LM perplexity scoring (Wenzek et al. 2020):
    train the add-k bigram model on the documents corpus and self-score
    every doc. log_ppl is a per-doc mean of up-to-hundreds of ln() terms —
    summation-order-sensitive at the ulp, so _r4 (CORRECTNESS_r01 lesson).
    r5: three degenerate docs (NULL / empty / whitespace-only text) are
    UNIONED in so the NaN-row convention is exercised at the driver gate,
    not just vacuously green — they contribute no tokens (the trained
    model is unchanged) and must come back with n_tokens 0, log_ppl NaN."""
    from feature_extraction_spark.ops.lm import train_bigram_lm, with_perplexity

    inj = spark.createDataFrame(
        [(1000001, None), (1000002, ""), (1000003, "   ")],
        "doc_id long, text string",
    )
    docs = _docs(spark, sf_dir).select("doc_id", "text").unionByName(inj)
    lm = train_bigram_lm(docs, k=0.1)
    out = with_perplexity(docs, lm).select(
        "doc_id",
        F.size(
            F.filter(
                F.split(F.lower(F.coalesce(F.col("text"), F.lit(""))), r"\s+", -1),
                lambda w: F.length(w) > 0,
            )
        ).cast("long").alias("n_tokens"),
        "log_ppl",
    )
    return _r4(out, ["log_ppl"])


def q_rolling_median_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact rolling quantile features (p25/median/p75) over a trailing
    10-row frame per user — the windowed-percentile feature family
    percentile_approx can't express. Type-7 interpolation on both sides;
    _r4 (lerp arithmetic can differ in the last ulp across engines)."""
    from feature_extraction_spark.ops.windows import rolling_quantiles

    out = rolling_quantiles(
        _events(spark, sf_dir),
        "value",
        part_cols=("user_id",),
        order_cols=("ts", "event_id"),
        trailing_rows=10,
        quantiles=(0.25, 0.5, 0.75),
    ).select("event_id", "roll_value_q25_10", "roll_value_q50_10", "roll_value_q75_10")
    return _r4(out, ["roll_value_q25_10", "roll_value_q50_10", "roll_value_q75_10"])


def q_dup_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate-span detection (ExactSubstr-style, Lee et
    al. 2022) at l=8 tokens: maximal runs of 8-grams shared by >=2 docs.
    All-integer output — no rounding needed."""
    from feature_extraction_spark.ops.spans import duplicate_spans

    out = duplicate_spans(_docs(spark, sf_dir), l=8, min_docs=2)
    return out.select(
        "doc_id",
        F.col("span_start").cast("long").alias("span_start"),
        F.col("span_end").cast("long").alias("span_end"),
        F.col("span_tokens").cast("long").alias("span_tokens"),
        F.col("n_windows").cast("long").alias("n_windows"),
    )


def q_despan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span REMOVAL keeping one canonical copy per 8-gram
    corpus-wide; exact string compare of the rebuilt text."""
    from feature_extraction_spark.ops.spans import remove_duplicate_spans

    out = remove_duplicate_spans(_docs(spark, sf_dir), l=8, min_docs=2)
    return out.select("doc_id", F.col("text").alias("clean_text"), "n_removed_tokens")


def q_heavy_hitters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries heavy hitters over the documents token stream. The
    driver config sets capacity far above the corpus vocabulary, where the
    MG guarantee degenerates to EXACT counts (max_undercount 0) — verified
    cell-for-cell against DuckDB's exact top-k; the bounded-capacity
    approximation guarantee is pytest-covered (tests/test_sketches.py)."""
    from feature_extraction_spark.ops.sketches import heavy_hitter_terms

    return heavy_hitter_terms(_docs(spark, sf_dir), k=25, capacity=500_000)


def q_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe z-score normalization of event values per event_type
    (fit -> broadcast stats -> guarded transform). _r4: mean/stddev are
    summation-order-dependent at the ulp, so 6-decimal rounding is
    hash-unstable (CORRECTNESS_r01 lesson)."""
    from feature_extraction_spark.ops.normalize import normalize_features

    out = normalize_features(
        _events(spark, sf_dir), ["value"], ["event_type"]
    ).select("event_id", "event_type", "value_norm")
    return _r4(out, ["value_norm"])


def q_daily_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 level parameterization (day) over events: entity keys derived via
    levels.with_entity_keys, one hash aggregation per (subject, day)."""
    from feature_extraction_spark.ops.levels import keys_for, with_entity_keys

    t = _events_as_transcripts(spark, sf_dir)
    t = with_entity_keys(t, subject_expr=F.col("conv_id"))
    out = t.groupBy(*keys_for("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("role") == "purchase", 1).otherwise(0)).alias("n_purchases"),
        F.round(F.avg("value"), 4).alias("val_mean"),
        F.round(F.stddev_pop("value"), 4).alias("val_std"),
        F.round(F.median("value"), 4).alias("val_med"),
    )
    return out.select(
        F.col("subject_id").cast("bigint").alias("user_id"),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "n_events", "n_purchases", "val_mean", "val_std", "val_med",
    )


def q_asof_purchase_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.asof import asof_join

    e = _events(spark, sf_dir)
    right = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("pval"))
    )
    out = asof_join(
        e.select("event_id", "user_id", "ts"),
        right,
        on="user_id",
        value_cols=["pval"],
        tolerance_s=86400.0,
    )
    return out.select(
        "event_id",
        F.round("pval_asof", 6).alias("purchase_value"),
        F.unix_micros("ts_asof").alias("purchase_ts_us"),
    )


def q_graph_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Speech-graph metrics (applyInPandas networkx kernel), restricted to
    the columns a plain-SQL oracle can recompute from first principles
    (nodes / edges / degree / parallel-edge / self-loop / density counts
    over all three graph variants) so the driver check is value-level.
    The iterative metrics (lcc/lsc/diameter/asp) stay covered by the
    hand-computed pytest oracles (tests/test_pos_graph_liwc.py)."""
    from feature_extraction_spark.ops.graph import graph_features

    t = _docs_as_transcripts(spark, sf_dir, "source")
    out = graph_features(t, level="conv").withColumnRenamed("conv_id", "source")
    keep = ["source", "num_nodes_naive", "num_edges_naive", "ave_degree_naive",
            "num_p_edges_naive", "l1_naive", "d_naive",
            "num_nodes_lemma", "num_edges_lemma",
            "num_nodes_pos", "num_edges_pos", "num_p_edges_pos",
            "num_nodes_naive_norm"]
    return _r6(out.select(*keep), keep[1:])


def q_phrase_merge_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gensim-Phrases train + apply (reference text_util.py:50-93 —
    init_bigram_trigram_models / extract_bigrams), closing the one
    reference dataflow that had no engine counterpart. The trainer is
    NOT iterative (one counting pass + the original-scorer threshold
    rule), so train AND apply are both value-oracled. The synthetic
    corpus has no collocations that beat unigram frequencies (verified:
    0 phrases at every reasonable threshold), so deterministic ones are
    PLANTED: doc_id%5==0 appends 'neural network' twice, doc_id%7==0
    appends 'machine learning'; the synthetic 31-word vocabulary keeps
    every gensim score small (score ~ V/c12 for exclusive pairs), so
    the threshold is 0.06 — measured to separate the planted pairs
    (>= 0.085 at both driver SFs) from every natural pair (<= 0.042);
    the trained table is the top-20 by
    (score desc, w1, w2) and the rewrite is the exact left-to-right
    non-overlapping greedy (ops/lm.py merge_phrases). The oracle replays
    counting, scoring, selection, AND the greedy fold (list_reduce with
    a marker char on merged tokens)."""
    from feature_extraction_spark.ops.lm import merge_phrases, train_phrases

    d = _docs(spark, sf_dir)
    planted = d.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(" neural network neural network"),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0, F.lit(" machine learning")
            ).otherwise(F.lit("")),
        ),
    )
    ph = train_phrases(planted, min_count=3, threshold=0.06)
    pairs = [
        (r["w1"], r["w2"])
        for r in ph.orderBy(F.desc("score"), "w1", "w2").limit(20).collect()
    ]
    out = merge_phrases(planted, pairs)
    return out.select(
        "doc_id", "text_phrased", "n_tokens", "n_tokens_phrased"
    )


def q_graph_planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gates the ITERATIVE speech-graph metrics (lcc / lsc /
    diameter / average shortest path — reference
    text_features/extract_graph.py:94-105,142-150), which graph_docs
    cannot oracle from first principles (DuckDB has no iterative graph
    recursion over multigraphs). Device: parameterized component
    structures with CLOSED-FORM metric values are planted per doc_id
    residue — fam = doc_id%3, size n = 3 + doc_id%5:

    - fam 0, path P_n (one turn "w0 .. w(n-1)"): lcc=n, lsc=1 (directed
      path has singleton SCCs), di=n-1, asp=(n+1)/3.
    - fam 1, cycle C_n (one turn "w0 .. w(n-1) w0"): lcc=n, lsc=n
      (strongly connected), di=floor(n/2), asp=(n+1)/4 for odd n,
      n^2/(4(n-1)) for even n.
    - fam 2, star S_n + isolated edge (turns "h w1".."h w(n-1)" +
      "x0 x1" — per-turn segments keep the hub edges directed OUT):
      lcc=n, lsc=1, di=2, asp=((n-1)^2+1)/(n(n-1)/2+1) over BOTH
      components' pairs — exercising the multi-component accumulation.

    The kernel sees only deterministic planted token streams, so the
    oracle is pure per-row arithmetic on doc_id; every division is
    exact-int over exact-int, hence the same rational rounds identically
    in both engines."""
    from feature_extraction_spark.ops.graph import graph_features

    d = _docs(spark, sf_dir).select("doc_id")
    n = (F.col("doc_id") % 5 + 3).cast("int")
    fam = (F.col("doc_id") % 3).cast("int")
    path = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), n - 1),
            lambda i: F.concat(F.lit("w"), i.cast("string")),
        ),
    )
    cyc = F.concat(path, F.lit(" w0"))
    star_turns = F.concat(
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(F.lit("h w"), i.cast("string")),
        ),
        F.array(F.lit("x0 x1")),
    )
    turns = (
        F.when(fam == 0, F.array(path))
        .when(fam == 1, F.array(cyc))
        .otherwise(star_turns)
    )
    t = d.select(
        F.col("doc_id").cast("string").alias("conv_id"),
        F.posexplode(turns).alias("turn_idx", "text"),
    )
    g = graph_features(t, level="conv")
    out = g.select(
        F.col("conv_id").cast("long").alias("doc_id"),
        "lcc_naive",
        "lsc_naive",
        "di_naive",
        "asp_naive",
    ).withColumn("fam", (F.col("doc_id") % 3).cast("int")).withColumn(
        "n", (F.col("doc_id") % 5 + 3).cast("int")
    )
    return _r6(
        out.select(
            "doc_id", "fam", "n", "lcc_naive", "lsc_naive", "di_naive",
            "asp_naive",
        ),
        ["lcc_naive", "lsc_naive", "di_naive", "asp_naive"],
    )


def q_multilevel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS single-pass multi-level aggregation (reference runs one
    job per --level; this computes conv+day+subject in ONE shuffle)."""
    from feature_extraction_spark.ops.levels import multi_level_agg

    t = _events_as_transcripts(spark, sf_dir)
    out = multi_level_agg(
        t,
        ["conv", "day", "week", "subject"],
        {
            "n_events": F.count(F.lit(1)),
            "val_sum": F.round(F.sum("value"), 3),
        },
        subject_expr=F.col("conv_id"),
    )
    return out.select(
        "level", "conv_id", "subject_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.date_format("week", "yyyy-MM-dd").alias("week"),
        "n_events", "val_sum",
    )


def q_ivf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERSISTED-index IVF probe (build once, probe many): build_ann_index
    snapshot-commits the centroids and writes assignments partitioned by
    ivf_cluster; ivf_topk_indexed then reads only the probed partitions —
    no Lloyd jobs, no assignment re-scan, partition pruning on the cluster
    filter (plan-asserted in tests/test_multilevel_ivf.py). Run full-probe
    here (nprobe=n_centroids) so the output is exactly the brute-force
    cosine top-k and shares its oracle; the tiny result is pinned
    driver-side so the temp index dir is removed immediately (no
    per-invocation leak)."""
    import shutil
    import tempfile

    from feature_extraction_spark.ops.similarity import (
        build_ann_index,
        ivf_topk_indexed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    idx = tempfile.mkdtemp(prefix="ivf_index_")
    try:
        build_ann_index(emb, idx, n_centroids=8, iters=1, seed=42)
        out = ivf_topk_indexed(
            spark, idx, [float(x) for x in qvec], k=10, nprobe=8
        )
        final = out.select("vec_id", F.round("cosine", 6).alias("cosine"))
        return spark.createDataFrame(final.collect(), final.schema)
    finally:
        shutil.rmtree(idx, ignore_errors=True)


# PQ codebook trained ONCE offline (ops/pq.pq_train over the sf0.01
# embeddings: m=8 subspaces x k=8 centroids x dsub=8 dims, 2 Lloyd
# iterations, centroids rounded to 4 decimals) and FROZEN as a literal —
# the trainer is iterative (same driver contract as the BPE trainer /
# LDA), while encode + ADC serving are pure expressions and fully
# SQL-oracled from these exact constants.
_PQ_CODEBOOK: list[list[list[float]]] = [
    [[-0.0309, 0.0144, -0.0639, 0.0177, -0.1858, -0.01, -0.1008, -0.0205],
     [-0.0591, -0.0263, -0.0873, -0.0592, 0.0752, 0.1133, 0.0125, 0.0164],
     [0.0659, -0.0597, -0.0417, -0.0204, 0.0578, -0.1395, -0.01, 0.1212],
     [0.111, 0.0725, 0.0682, -0.0982, 0.0102, 0.0328, -0.0453, 0.0563],
     [-0.0525, -0.0651, 0.0488, 0.1003, -0.0331, 0.0306, 0.0262, 0.0767],
     [0.0125, -0.0691, 0.0668, -0.0368, 0.0269, -0.0469, -0.0491, -0.1173],
     [0.0009, 0.148, 0.02, -0.0219, -0.0884, -0.0727, 0.1034, 0.0707],
     [0.0052, 0.1069, 0.0402, 0.1174, 0.0795, 0.0651, -0.0544, -0.08]],
    [[-0.0335, -0.0534, 0.0041, 0.0123, 0.1055, 0.1855, 0.0378, 0.0856],
     [-0.0124, -0.1221, 0.0183, 0.0507, -0.0062, 0.0593, -0.0367, -0.0925],
     [-0.0842, 0.2044, 0.0316, -0.0993, 0.0616, 0.0732, 0.0235, 0.039],
     [0.018, -0.056, 0.0747, -0.0571, -0.0174, -0.1115, -0.0271, 0.0186],
     [-0.029, 0.0667, -0.1073, 0.1346, 0.0288, -0.0168, -0.0419, 0.0843],
     [-0.0381, -0.0412, -0.048, -0.1305, -0.0963, 0.0486, -0.0798, 0.079],
     [0.0557, 0.044, -0.0259, -0.0037, 0.0741, -0.0641, 0.1506, -0.0378],
     [0.0348, 0.1346, 0.0686, 0.055, -0.1426, 0.0268, 0.0116, -0.0647]],
    [[0.0154, 0.0943, 0.0493, -0.1271, -0.0039, 0.0827, 0.1163, -0.0373],
     [-0.0084, 0.014, -0.0698, -0.0007, -0.0605, -0.0609, -0.0273, -0.0842],
     [-0.0393, -0.0666, 0.094, 0.0138, 0.0797, -0.0019, -0.1181, 0.0647],
     [0.0207, -0.0891, -0.0981, -0.0537, -0.0255, 0.0712, 0.0234, 0.1283],
     [-0.1137, -0.0437, 0.0138, 0.1296, -0.0698, -0.1465, 0.0706, 0.1822],
     [-0.028, 0.0828, -0.0255, 0.0993, 0.0475, 0.0508, 0.046, 0.002],
     [0.1072, -0.0611, 0.1027, 0.0133, -0.0835, -0.0754, -0.0008, -0.0051],
     [0.0428, 0.0512, 0.086, -0.0437, 0.1295, 0.0173, -0.0188, -0.2221]],
    [[-0.0796, 0.0083, -0.1254, -0.0996, 0.0741, -0.0736, 0.033, -0.0194],
     [0.0398, 0.0029, 0.0319, 0.0721, -0.0421, -0.1251, -0.0966, 0.0953],
     [0.0382, 0.0826, -0.0807, 0.0634, 0.0208, 0.1357, 0.001, 0.027],
     [-0.148, 0.0602, 0.0563, 0.0003, 0.0729, -0.0356, 0.0068, -0.0297],
     [0.0924, 0.1675, 0.0602, -0.0539, -0.0215, -0.0175, 0.0139, 0.0023],
     [-0.0337, -0.0932, 0.0303, -0.0599, 0.0402, 0.0099, -0.1055, -0.132],
     [-0.1211, 0.0125, 0.1075, 0.0123, -0.1266, 0.1352, -0.0226, -0.0256],
     [0.0263, -0.1023, -0.0172, 0.0554, -0.0195, -0.0166, 0.0998, -0.0204]],
    [[0.0547, -0.0734, -0.0121, -0.0902, -0.0175, -0.0604, 0.1035, 0.0502],
     [0.1241, 0.0048, -0.0241, 0.0457, 0.0242, 0.1252, 0.013, 0.0834],
     [0.0115, -0.0568, -0.0871, 0.1506, 0.005, -0.057, 0.0322, -0.0396],
     [0.0898, 0.1522, 0.0053, 0.0304, 0.0456, -0.1066, -0.0614, -0.0602],
     [-0.0749, 0.0006, -0.0634, -0.0584, -0.0448, 0.0059, -0.126, 0.0123],
     [-0.1101, -0.0774, -0.0051, 0.0467, 0.1262, 0.0943, 0.0183, -0.0011],
     [0.0001, 0.0452, 0.0784, -0.064, -0.1207, 0.0543, 0.041, -0.0831],
     [-0.0319, -0.0339, 0.1743, 0.0146, 0.0177, -0.0358, -0.0249, 0.0176]],
    [[0.0062, -0.0282, 0.0923, -0.0561, -0.0372, 0.0419, -0.0729, 0.0226],
     [0.0562, -0.0211, -0.0072, 0.1543, 0.0412, 0.0694, -0.0133, 0.013],
     [-0.0645, 0.0703, -0.1321, -0.006, -0.0986, -0.0125, 0.0273, 0.0214],
     [-0.1359, -0.098, 0.0251, 0.0674, -0.0484, -0.021, 0.0545, 0.0784],
     [0.0441, 0.0058, 0.1039, 0.0588, -0.182, 0.0852, -0.0777, -0.1095],
     [0.0722, 0.0442, -0.0788, -0.1004, 0.0586, -0.0454, -0.049, 0.1255],
     [0.0104, -0.1469, -0.0401, -0.0749, 0.0772, 0.0166, 0.0321, -0.0474],
     [-0.0139, 0.0897, 0.0481, -0.0396, 0.0073, -0.0925, 0.0778, -0.0821]],
    [[0.0521, 0.1077, 0.0795, 0.0592, -0.0491, -0.0793, -0.0795, 0.0051],
     [-0.0755, 0.023, -0.0314, -0.0237, -0.011, 0.0652, 0.0162, -0.1258],
     [-0.0124, -0.0757, 0.1385, 0.0022, 0.024, -0.0657, -0.0439, -0.1105],
     [0.0572, -0.0421, 0.0027, 0.005, -0.1102, 0.0672, 0.1055, 0.0157],
     [-0.064, -0.0219, 0.0336, -0.0283, 0.1589, 0.0529, -0.0127, 0.0282],
     [0.0749, 0.0823, 0.0246, -0.0379, 0.0862, -0.1123, 0.0839, 0.049],
     [0.0872, -0.097, -0.0503, -0.0301, 0.0075, -0.0093, -0.0932, 0.0589],
     [-0.1451, 0.0116, -0.0587, 0.0782, -0.0208, -0.0664, 0.0431, 0.0722]],
    [[0.0806, -0.0078, -0.0521, 0.0319, 0.0433, -0.0428, 0.016, 0.0953],
     [-0.0631, 0.2086, -0.175, -0.0534, -0.0015, -0.0028, -0.0625, 0.0445],
     [0.0845, -0.139, -0.0122, 0.0449, -0.0307, 0.0435, -0.0437, -0.1162],
     [-0.1107, 0.059, 0.0286, -0.0392, -0.038, -0.1285, 0.0594, 0.0744],
     [0.0654, 0.0642, 0.03, -0.0855, -0.1264, -0.0234, 0.0212, -0.0715],
     [-0.0473, 0.0097, 0.0689, 0.1145, -0.0076, 0.0728, 0.0014, -0.027],
     [0.0627, 0.0394, 0.1268, -0.0822, 0.0827, 0.0609, -0.1198, -0.0654],
     [-0.0733, -0.0583, -0.0925, -0.092, 0.023, 0.0227, 0.0319, -0.0519]],
]

# frozen ADC query vector: the sf0.01 vec_id=7 embedding rounded to 4
# decimals (a literal, so the query is input-independent and the oracle
# replays the identical constants)
_PQ_QUERY: list[float] = [
    0.3272, 0.0968, -0.018, 0.1499, -0.0529, 0.0002, -0.0486, 0.1601,
    -0.1872, -0.0515, 0.0064, 0.001, -0.1964, -0.0986, 0.0621, -0.1702,
    0.078, 0.1186, -0.1456, 0.039, -0.0408, 0.0453, 0.1459, 0.0534,
    0.0244, 0.0584, -0.1702, 0.1218, -0.0478, 0.0703, 0.2955, 0.0923,
    -0.0949, -0.128, -0.0161, -0.1245, -0.0749, -0.1525, 0.0048, 0.1447,
    -0.0403, -0.1798, 0.0321, 0.0048, 0.0043, 0.1003, -0.0016, 0.2141,
    -0.1536, -0.0734, 0.1365, 0.1552, -0.0175, -0.1506, -0.1168, 0.1922,
    0.0348, 0.1196, -0.2754, -0.1176, 0.0949, 0.0215, 0.0234, -0.2172,
]


def q_pq_codes_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (ops/pq.py) with the frozen codebook:
    every vector compressed to 8 subspace codes — the 32-64x working-set
    reduction that makes corpus-wide ANN probes fit in memory at 100 TB.
    Map-only native projection (plan-asserted in tests/test_pq_skew.py);
    the oracle re-derives each argmin from the same centroid constants
    with the identical smallest-index tie-break."""
    from feature_extraction_spark.ops.pq import pq_encode

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    enc = pq_encode(emb, _PQ_CODEBOOK)
    return enc.select(
        "vec_id",
        *[F.col("pq_code")[j].alias(f"code_{j}") for j in range(8)],
    )


def q_pq_adc_topk_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance top-10 over PQ codes (the PQ serving path): the
    per-query lookup table is built driver-side from the frozen codebook +
    query constants, scoring is m array lookups per row, and the top-k is
    TakeOrderedAndProject. The oracle recomputes the identical lut values
    and the identical left-to-right summation order, so doubles match
    bit-for-bit before the 6-decimal rounding."""
    from feature_extraction_spark.ops.pq import pq_adc_topk, pq_encode

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = pq_adc_topk(
        pq_encode(emb, _PQ_CODEBOOK), _PQ_CODEBOOK, _PQ_QUERY, k=10
    )
    return out.select("vec_id", F.round("adc_dist", 6).alias("adc_dist"))


def q_skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew pre-flight (ops/skew.py): top-10 heaviest users by event
    count with share / skew-factor context — one map-combinable corpus
    shuffle, windows only over the aggregated key table. The salt-factor
    arithmetic (n / (total/nkeys)) is replayed exactly in the oracle."""
    from feature_extraction_spark.ops.skew import skew_report

    out = skew_report(_events(spark, sf_dir), ["user_id"], top_n=10)
    return out.select(
        "user_id",
        "n_rows",
        F.round("share", 6).alias("share"),
        F.round("skew_factor", 6).alias("skew_factor"),
        "rank",
    )


# DSIR configuration shared by the Spark queries and their oracles:
# 1024 hash buckets (small enough that the oracle CTE stays cheap, large
# enough for real collisions), alpha=0.5 smoothing, target = source 'src0'.
_DSIR_B = 1024
_DSIR_SALT = "dsir-r4"


def q_dsir_weights_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (ops/dsir.py; Xie 2023): hashed
    unigram+bigram bucket models fit on the src0 slice vs the whole
    corpus, per-doc log importance weight scored in one corpus pass
    (explode -> broadcast model join -> map-combinable groupBy). The
    oracle replays the identical md5 buckets, add-alpha smoothing over
    the full 0..B-1 domain, and log-ratio sums."""
    from feature_extraction_spark.ops.dsir import dsir_fit, dsir_score

    docs = _docs(spark, sf_dir)
    model = dsir_fit(
        docs.filter(F.col("source") == "src0"),
        docs,
        n_buckets=_DSIR_B,
        alpha=0.5,
        salt=_DSIR_SALT,
    )
    out = dsir_score(docs, model, n_buckets=_DSIR_B, salt=_DSIR_SALT)
    return out.select(
        "doc_id", "n_grams", F.round("dsir_logw", 6).alias("dsir_logw")
    )


def q_dsir_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel top-k importance resampling over the DSIR weights: key =
    logw/T - ln(-ln(u)) with u the deterministic 52-bit md5 uniform —
    sampling without replacement from softmax(logw/T), plans as
    TakeOrderedAndProject. The oracle replays the same constants."""
    from feature_extraction_spark.ops.dsir import (
        dsir_fit,
        dsir_resample,
        dsir_score,
    )

    docs = _docs(spark, sf_dir)
    model = dsir_fit(
        docs.filter(F.col("source") == "src0"),
        docs,
        n_buckets=_DSIR_B,
        alpha=0.5,
        salt=_DSIR_SALT,
    )
    scored = dsir_score(docs, model, n_buckets=_DSIR_B, salt=_DSIR_SALT)
    out = dsir_resample(scored, k=25, temperature=2.0, salt="g-r4")
    return out.select("doc_id", F.round("gumbel_key", 6).alias("gumbel_key"))


def q_sq8_topk_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-int8 quantization serving path (ops/quantize.py): per-dim
    [lo,hi] bounds fit in one pass (deterministic min/max — unlike the
    PQ/IVF trainers this needs NO frozen constants), map-only encode to
    one byte per dim, asymmetric L2 top-10 against the dequantized codes.
    The oracle recomputes bounds, codes (identical op order and HALF_UP
    rounding), and the same left-to-right distance chain."""
    from feature_extraction_spark.ops.quantize import (
        sq8_encode,
        sq8_fit,
        sq8_topk,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bounds = sq8_fit(emb)
    out = sq8_topk(sq8_encode(emb, bounds), bounds, _PQ_QUERY, k=10)
    return out.select("vec_id", F.round("sq8_dist", 6).alias("sq8_dist"))


def q_hamming_topk_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary (sign) quantization + Hamming top-k (ops/quantize.py): sign
    bits packed into 32-bit words (array<bigint> — bit 63 is never used,
    keeping every shift cross-engine safe), distance =
    popcount(xor) summed per word, TakeOrderedAndProject. Query words are
    packed driver-side from the frozen _PQ_QUERY literal; ties broken by
    vec_id."""
    from feature_extraction_spark.ops.quantize import (
        binary_sign_codes,
        hamming_topk,
        pack_sign_words,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qw = pack_sign_words(_PQ_QUERY)
    return hamming_topk(binary_sign_codes(emb, dim=64), qw, k=15)


def q_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed table profiler (ops/profile.py): one corpus pass ->
    (column, value) frequency table (materialized once — plan-asserted
    single scan), then null/distinct/modal stats per column. Double
    columns are excluded from the driver query: Spark and DuckDB format
    the same double differently (1e-07 vs 1.0E-7), which would make
    top_value engine-dependent; string/int casts are identical."""
    from feature_extraction_spark.ops.profile import profile_table

    ev = _events(spark, sf_dir)
    return profile_table(ev, ["event_type", "user_id", "props"])


_TIMING_COLS = [
    "segments_max", "segments_min", "segments_mean", "segments_med", "segments_std",
    "wps_max", "wps_min", "wps_mean", "wps_med", "wps_std",
    "words_max", "words_min", "words_mean", "words_med", "words_std",
    "silences_max", "silences_min", "silences_mean", "silences_med", "silences_std",
    "spk_duration", "segment_count", "short_utt_count", "word_count",
    "sil_count", "sil_duration", "spk_sil_ratio", "sps", "wps",
    "total_duration", "spk_ratio", "sil_ratio", "segs_per_min",
    "short_utts_per_min",
]

# Per-column rounding digits, chosen by a BOUNDARY SCAN of the exact
# oracle values at sf0.01 + sf0.001 (summation-order ulps only flip a
# rounded value when the true value sits ON a round-half boundary):
# segments_mean lands exactly on 6dp boundaries (0.8046875 — flipped
# live between 8- and 32-core partial-agg orders, the CORRECTNESS_r01
# lesson) -> _r4; silences_mean / spk_ratio / sil_ratio land exactly ON
# 4dp boundaries (sums of 2-decimal seg_secs over the 600 s denominator
# give 5-decimal rationals like 0.09565) -> those stay _r6. Order
# statistics (max/min/med), exact counts and the exact total stay _r6.
_TIMING_COLS_R4 = [
    "segments_mean", "segments_std", "wps_mean", "wps_std",
    "words_mean", "words_std", "silences_std",
    "spk_duration", "sil_duration", "spk_sil_ratio", "sps", "wps",
    "segs_per_min", "short_utts_per_min",
]


def q_timing_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full timing pack (U9/W2/J2) over a word_timing column synthesized
    deterministically from events (testdata has no ASR timing table; the
    SAME closed-form synthesis runs in the DuckDB oracle):
    per event: n = id%5+1 words of 0.2 s, leading gap id%2 * 30 ms,
    inter-word gaps id%3 * 50 ms, trailing 40 ms (100 ns units).
    r5: events with id%101==0 get a NULL word_timing (a turn with no
    word-level ASR output) — the op must treat it as an EMPTY word list
    (turn still counts at segment grain with wps 0; contributes no
    word/silence rows), exercising the NULL-wt guard at the driver gate
    instead of leaving it green-by-vacuity; the oracle drops those
    events from the word/silence grains and zeroes their wps only."""
    from feature_extraction_spark.ops.timing import timing_stats

    e = _events(spark, sf_dir)
    D = 2_000_000  # 0.2 s in 100ns units
    n = (F.col("event_id") % 5 + 1).cast("int")
    g = (F.col("event_id") % 3).cast("long") * 500_000
    lead = (F.col("event_id") % 2).cast("long") * 300_000
    wt = F.transform(
        F.sequence(F.lit(0), n - 1),
        lambda i: F.struct(
            F.concat(F.lit("w"), i.cast("string")).alias("Word"),
            F.lit(D).cast("long").alias("Duration"),
            (lead + i.cast("long") * (F.lit(D) + g)).alias("Offset"),
        ),
    )
    wt = F.when(F.col("event_id") % 101 != 0, wt)  # NULL wt for %101
    t = e.select(
        F.col("user_id").cast("string").alias("conv_id"),
        F.lit(0).cast("long").alias("offset"),
        (lead + n.cast("long") * D + (n - 1).cast("long") * g + 400_000).alias(
            "duration"
        ),
        wt.alias("word_timing"),
    )
    from feature_extraction_spark.sources.io import ensure_parallelism

    t = ensure_parallelism(t)  # single-file scan feeds 3 agg branches
    durations = (
        t.select("conv_id").distinct().withColumn("duration_ms", F.lit(600_000.0))
    )
    out = timing_stats(t, level="conv", durations=durations)
    out = out.select(
        F.col("conv_id").cast("bigint").alias("user_id"), *_TIMING_COLS
    )
    return _r4(
        _r6(out, [c for c in _TIMING_COLS if c not in _TIMING_COLS_R4]),
        _TIMING_COLS_R4,
    )


def q_conf_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confidence stat bundle (A2) with `value` as the per-segment score."""
    from feature_extraction_spark.ops.confidence import confidence_stats

    t = _events_as_transcripts(spark, sf_dir).withColumn(
        "confidence", F.col("value")
    )
    out = confidence_stats(t, level="conv")
    out = out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        "conf_max", "conf_mean", "conf_std", "conf_min", "conf_med",
    )
    return _r6(out, ["conf_max", "conf_mean", "conf_std", "conf_min", "conf_med"])


def q_hypothesis_mean_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 cross-hypothesis mean: 3 deterministic 'ASR hypotheses' per doc
    (full text / drop first word / drop last word), per-hypothesis features
    averaged per entity — the reference's mean-across-hypotheses
    (archived/extract_transcript_feats.py:133-142)."""
    from feature_extraction_spark.sources.hypotheses import mean_across_hypotheses

    d = _docs(spark, sf_dir)
    words = F.split(F.col("text"), " ", -1)
    tail = F.concat_ws(
        " ", F.slice(words, 2, F.greatest(F.size(words) - 1, F.lit(0)))
    )
    init = F.concat_ws(
        " ", F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(0)))
    )
    hyps = d.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(F.lit("h0").alias("hypothesis_id"), F.col("text").alias("htext")),
                F.struct(F.lit("h1").alias("hypothesis_id"), tail.alias("htext")),
                F.struct(F.lit("h2").alias("hypothesis_id"), init.alias("htext")),
            )
        ).alias("h"),
    ).select("doc_id", "h.hypothesis_id", "h.htext")
    feats = hyps.select(
        "doc_id",
        "hypothesis_id",
        F.size(F.split("htext", " ", -1)).cast("double").alias("n_words"),
        F.length("htext").cast("double").alias("n_chars"),
    )
    out = mean_across_hypotheses(feats, ["doc_id"])
    return _r6(out, ["n_words", "n_chars"])


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal binary-column plumbing: Arrow-batched mapInPandas decode
    over a deterministic synthetic media table (codecs stubbed — see
    ops/multimodal.py). Value-verified: the stub kernel's per-lane
    polynomial hash over the sha256-hex payload bytes is re-derived from
    first principles in the DuckDB oracle; lanes are emitted as exact
    integers (feat_j * 100003, recoverable from float32 since acc < 2**17)."""
    from feature_extraction_spark.ops.multimodal import (
        extract_image_features,
        synth_media,
    )

    media = synth_media(spark, n=300, seed=42)
    out = extract_image_features(media, dim=8)
    lanes = [
        F.round(F.element_at("feat", j + 1).cast("double") * 100_003)
        .cast("bigint")
        .alias(f"lane_{j}")
        for j in range(4)
    ]
    return out.select("media_id", "n_bytes", *lanes)


def q_bmp_stats_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec path: a deterministic 24-bit BMP table (encoder:
    ops/multimodal.encode_bmp — bottom-up rows, 4-byte padding, BGR) is
    decoded pixel-for-pixel in an Arrow-batched mapInPandas kernel
    (decode_bmp, pure numpy) and reduced to dimension + channel-mean
    stats. The DuckDB oracle re-derives the means from the synthetic
    pixel formula alone, so a value match proves both halves of the codec
    round-trip actual pixels (vs the sha256 stub of multimodal_features)."""
    from feature_extraction_spark.ops.multimodal import (
        extract_bmp_stats,
        synth_media_bmp,
    )

    media = synth_media_bmp(spark, n=100)
    return extract_bmp_stats(media).select(
        "media_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("width").cast("int").alias("width"),
        F.col("height").cast("int").alias("height"),
        "mean_r", "mean_g", "mean_b",
    )


def q_wav_stats_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec path (the WAV sibling of bmp_stats_media): a
    deterministic RIFF/WAVE PCM-16 mono table (encoder:
    ops/multimodal.encode_wav — canonical 44-byte header) is decoded
    frame-for-frame in an Arrow-batched mapInPandas kernel (decode_wav,
    chunk-walking numpy parser) and reduced to duration/peak/RMS/mean
    stats. The DuckDB oracle re-derives every statistic from the synthetic
    sample formula alone, so a value match proves both halves of the codec
    round-trip real PCM frames."""
    from feature_extraction_spark.ops.multimodal import (
        extract_wav_stats,
        synth_media_wav,
    )

    media = synth_media_wav(spark, n=100)
    return extract_wav_stats(media).select(
        "media_id",
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.col("sample_rate").cast("int").alias("sample_rate"),
        F.col("n_samples").cast("bigint").alias("n_samples"),
        "duration_ms", "peak", "rms", "mean_amp",
    )


def q_dedup_clusters_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> connected components -> total doc_id->cluster_id mapping
    (alternating large-star/small-star; cluster_id = min member id;
    singletons map to themselves). Value-checked against a DuckDB recursive
    transitive-closure oracle over the same exact-Jaccard pair set."""
    from feature_extraction_spark.ops.cluster import neardup_clusters
    from feature_extraction_spark.ops.dedup import ngram_jaccard_pairs

    d = _docs(spark, sf_dir)
    pairs = ngram_jaccard_pairs(d, n=3, threshold=0.6, max_shingle_df=None)
    return neardup_clusters(d, pairs).select(
        "doc_id", F.col("cluster_id").cast("bigint").alias("cluster_id")
    )


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence chunking: 64-token chunks, 8-token overlap, native
    sequence+slice explode (ops/chunk.py); DuckDB oracle replays the same
    start/stride arithmetic."""
    from feature_extraction_spark.ops.chunk import chunk_documents

    return chunk_documents(_docs(spark, sf_dir), max_tokens=64, overlap=8)


def q_hash_split_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe dataset split: every doc of a `source` lands in the same
    split (md5-threshold assignment, engine-independent — the oracle runs
    the identical expression)."""
    from feature_extraction_spark.ops.chunk import hash_split

    d = _docs(spark, sf_dir)
    return hash_split(
        d, "source", {"train": 0.8, "val": 0.1, "test": 0.1}, salt="r2"
    ).select("doc_id", "split")


_MIX_RATES = {f"src{i}": r for i, r in zip(range(20), [1.0, 0.5, 0.25, 0.1] * 5)}


def q_mixture_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-mixture sampling: per-source keep rates via deterministic
    md5 thresholds on doc_id (ops/chunk.mixture_sample); the oracle runs
    the identical expression."""
    from feature_extraction_spark.ops.chunk import mixture_sample

    d = _docs(spark, sf_dir)
    return mixture_sample(
        d, "source", _MIX_RATES, key_cols="doc_id", salt="mix-r2"
    ).select("doc_id", "source")


def q_target_encode_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of event_type by value, fit ONLY on the
    md5-hash train split (leakage-safe fit/transform, ops/encode.py),
    applied to every row. _r4 on the encoding: it is a ratio of sums.
    Reference parity: the reference's per-subject feature matrices are
    hand-assembled per split; this is the scalable encoder analog."""
    from feature_extraction_spark.ops.chunk import hash_split
    from feature_extraction_spark.ops.encode import (
        apply_target_encoder,
        fit_target_encoder,
    )

    e = hash_split(
        _events(spark, sf_dir), "user_id", {"train": 0.8, "eval": 0.2},
        salt="te-r3",
    )
    enc = fit_target_encoder(
        e.filter(F.col("split") == "train"), "event_type", "value",
        smoothing=20.0, decimals=4,
    )
    out = apply_target_encoder(e, enc, "event_type")
    return out.select("event_id", "event_type", "split", "te")


def q_quantile_bin_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile binning (feature discretization): exact type-7 octile edges
    of value, rounded to 4 decimals so the fitted artifact is
    engine-portable, bucket = #edges below x via a native array filter
    (no UDF, broadcast edges). Output: per (event_type, bin) counts."""
    from feature_extraction_spark.ops.encode import quantile_bin

    out = quantile_bin(_events(spark, sf_dir), "value", n_bins=8)
    agg = out.groupBy("event_type", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("value"), 4).alias("val_mean"),
    )
    return agg


def q_feature_cross_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed feature cross (hashing trick): (event_type x user_id%7) into
    64 buckets via the first 32 bits of the length-prefixed salted md5 —
    a pure per-row expression, zero shuffle before the final count."""
    from feature_extraction_spark.ops.encode import feature_cross

    e = _events(spark, sf_dir).withColumn(
        "mod7", (F.col("user_id") % 7).cast("bigint")
    )
    out = feature_cross(e, ["event_type", "mod7"], n_buckets=64, salt="fx-r3")
    return out.groupBy("cross_bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("event_type", "mod7").alias("n_tuples"),
    )


def q_weighted_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (Efraimidis-
    Spirakis A-ES): top-50 docs by ln(u)/n_chars where u is the md5-hash
    uniform — P(keep) proportional to document length, reproducible on any
    engine. Compiles to TakeOrderedAndProject (per-partition heaps), never
    a global sort."""
    from feature_extraction_spark.ops.chunk import weighted_sample

    d = _docs(spark, sf_dir)
    out = weighted_sample(
        d, "n_chars", 50, "doc_id", salt="ws-r3", priority_col="pri"
    )
    return out.select("doc_id", "n_chars", F.round("pri", 6).alias("pri"))


def q_temporal_split_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe temporal split with a 2-day embargo, audited in BOTH
    modes: row mode labels each event by its own timestamp; entity mode
    quarantines any user whose events straddle the boundary (context on
    both sides leaks either way — and on this table every user is
    long-lived, so entity mode honestly reports that a user-level time
    split is impossible: all rows land in 'embargo'). One window min/max
    per user for entity mode; output is the per-(mode, split) audit."""
    from feature_extraction_spark.ops.chunk import temporal_split

    e = _events(spark, sf_dir)
    cut, emb = "2024-01-20 00:00:00", 2 * 86400.0

    def audit(df, mode):
        return df.groupBy("split").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ).select(F.lit(mode).alias("mode"), "*")

    row = audit(temporal_split(e, "ts", cut, emb), "row")
    ent = audit(
        temporal_split(e, "ts", cut, emb, entity_cols="user_id"), "entity"
    )
    return row.unionByName(ent)


def q_bpe_tokens_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE subword tokenizer trained ON the corpus (20 merges, Sennrich
    2016 word-level algorithm) and applied back to it: per-doc word /
    BPE-token / OOV counts. The merge loop mutates only the word-vocab
    table (dimension-sized; the corpus is scanned once), so this is the
    100 TB-feasible trainer shape. Iterative by nature — rows-only driver
    check by design (same contract as LDA); the merge sequence and final
    segmentations are value-asserted against a pure-Python reference in
    tests/test_bpe.py."""
    from feature_extraction_spark.ops.bpe import apply_bpe, train_bpe

    d = _docs(spark, sf_dir)
    _, word_seg = train_bpe(d, num_merges=20)
    return apply_bpe(d, word_seg)


# Frozen BPE merge list: train_bpe(documents@sf0.01, num_merges=20) output,
# pinned as a literal so bpe_apply_docs is a pure (non-iterative) query with
# a value-level DuckDB oracle — the realistic serving shape (tokenizer
# trained once, applied everywhere).
_BPE_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"), ("o", "w"),
    ("ow", "</w>"), ("o", "r"), ("s", "t"), ("h", "</w>"), ("a", "t"),
    ("l", "u"), ("i", "n"), ("a", "</w>"), ("g", "</w>"), ("y", "</w>"),
    ("a", "r"), ("p", "ar"), ("t", "</w>"), ("i", "n</w>"), ("j", "o"),
]


def q_bpe_apply_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply-side BPE with a FROZEN merge list (the registry's answer to
    bpe_tokens_docs being rows-only: training is iterative, application is
    one explode + equi-join and fully SQL-expressible). The segmentation
    table is built by replaying the 20 frozen merges over the corpus
    vocabulary RESTRICTED to words < 'm' — the other half of the vocabulary
    deliberately hits apply_bpe's char-fallback path (len+1 tokens,
    counted as OOV) so the fallback is value-checked too. Oracle replays
    the identical left-to-right non-overlapping fold per merge via
    list_reduce with a string accumulator."""
    from feature_extraction_spark.ops.bpe import (
        apply_bpe,
        segment_words,
        word_counts,
    )

    d = _docs(spark, sf_dir)
    vocab = word_counts(d).filter(F.col("word") < "m").select("word")
    seg = segment_words(vocab, _BPE_MERGES)
    return apply_bpe(d, seg)


def q_mixture_rates_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning: per-source sampling rates realizing
    a 40/30/20/10 token mixture over src0-src3 without upsampling (the
    scarcest-share source binds the budget and gets rate 1.0; sources
    outside the spec get 0). Rates are pure functions of exact integer
    token counts — the oracle replays the arithmetic."""
    from feature_extraction_spark.ops.chunk import mixture_rates

    out = mixture_rates(
        _docs(spark, sf_dir), "source",
        {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1},
    )
    return out


def q_mixture_temp_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture planning (ops/chunk.py
    mixture_rates_temperature; the multilingual alpha-sampling rule):
    target shares derived from the corpus as tok_g^0.3 / sum tok^0.3,
    then the same no-upsampling budget as mixture_rates. One corpus agg +
    windows over the |sources| rows; the oracle replays pow/budget/rate
    arithmetic exactly."""
    from feature_extraction_spark.ops.chunk import mixture_rates_temperature

    return mixture_rates_temperature(_docs(spark, sf_dir), "source", alpha=0.3)


def q_entropy_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity features: Shannon entropy / normalized entropy
    / Gini impurity of each user's event-type distribution — two hash
    aggregations total (ops/diversity.py), no window, no join. _r4: the
    entropy is a sum of c*ln(c) terms (summation-order ulp)."""
    from feature_extraction_spark.ops.diversity import categorical_entropy

    out = categorical_entropy(_events(spark, sf_dir), "event_type", ["user_id"])
    return _r4(out, ["entropy", "norm_entropy", "gini"])


def q_pmi_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocations over the documents corpus: top-30 adjacent-token
    pairs with count >= 5 by pointwise mutual information (joint/marginal
    formulation over the bigram space — npmi guaranteed in [-1, 1]).
    Ties broken by (w1, w2); selection uses the UNROUNDED pmi on both
    engines; _r4 on the emitted scores."""
    from feature_extraction_spark.ops.lm import pmi_collocations

    out = pmi_collocations(_docs(spark, sf_dir), min_count=5, top_k=30)
    return _r4(out, ["pmi", "npmi"])


def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-heavy headline query: broadcast the filtered dimension, shuffle
    only the fact tables."""
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderdate") < "1995-03-15"
    )
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").filter(
        F.col("l_shipdate") > "1995-03-15"
    )
    out = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )
    return out


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 3).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 3).alias("sum_base_price"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    return out


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = cosine_topk(emb, [float(x) for x in qvec], k=10)
    return out.select("vec_id", F.round("cosine", 6).alias("cosine"))


def q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from feature_extraction_spark.ops.similarity import knn_join_exact

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).selectExpr(
        "vec_id as q_id", "embedding"
    )
    out = knn_join_exact(emb, queries, k=5)
    return out.select("q_id", "vec_id", "rank")


def q_neardup_pairs_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs baseline."""
    from feature_extraction_spark.ops.similarity import cosine_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # testdata embeddings are near-orthogonal (max pairwise cosine ~0.51);
    # 0.35 ~ the 99.9th percentile, so the pair set is non-trivial
    out = cosine_neardup_pairs(emb, threshold=0.35, method="exact")
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_neardup_pairs_emb_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup via hyperplane-LSH banding + exact cosine verify.
    At threshold 0.35 (the low-similarity regime of this near-orthogonal
    testdata) recall-1.0 needs shallow tables: 2 planes x 16 tables gives
    per-pair miss prob (1-p^2)^16 ~ 5e-4 at s=0.35 and the output equals
    the exact pair set at sf0.001/sf0.01 (verified), so the query is
    value-checked against the exact-cosine SQL oracle. Production-threshold
    (0.9) configs use deeper tables (8 planes x 4)."""
    from feature_extraction_spark.ops.similarity import cosine_neardup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = cosine_neardup_pairs(emb, threshold=0.35, method="lsh", planes=2, tables=16)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_vocab_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 document-frequency vocabulary filter as a first-class op (the
    reference buried it inside gensim Dictionary.filter_extremes)."""
    from feature_extraction_spark.ops.preprocess import df_vocab_filter

    return df_vocab_filter(
        _docs(spark, sf_dir), min_df=5, max_df_frac=0.5, doc_col="doc_id"
    )


def q_truecase_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 distributional truecasing: majority-casing model learned from the
    corpus (skipping force-capitalized turn-initial tokens), applied per
    token — the mechanism under truecase.get_true_case, learned from the
    input corpus since no pretrained model is available offline."""
    from feature_extraction_spark.ops.truecase import apply_truecase, learn_case_model

    d = _docs(spark, sf_dir)
    model = learn_case_model(d)
    out = apply_truecase(d, model, id_col="doc_id")
    return out.select("doc_id", "text_truecased")


def q_pii_scrub_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass over text with deterministic synthetic PII spans
    appended (the raw testdata contains none, so the patterns must actually
    fire for the check to mean anything; the oracle appends the same)."""
    from feature_extraction_spark.ops.textquality import with_pii_scrub

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 192.168."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 ssn 123-45-6789 tel +1 555 867 5309"),
        ),
    )
    return with_pii_scrub(d).select("doc_id", "text_scrubbed")


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: docs sharing any 8-gram with the
    deterministic 'benchmark' subset (doc_id % 37 == 0) are dropped —
    broadcast semi-join on hashed shingles, anti-join on doc id."""
    from feature_extraction_spark.ops.dedup import decontaminate

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 37 == 0).select("text")
    return decontaminate(d, bench, n=8).select("doc_id")


def q_contamination_frac_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded decontamination: per-doc fraction of distinct 8-grams shared
    with the deterministic benchmark subset (doc_id % 37 == 0) — the
    overlap-fraction metric eval cards threshold on; broadcast left probe
    + one hash agg, corpus text never shuffles."""
    from feature_extraction_spark.ops.dedup import contamination_score

    d = _docs(spark, sf_dir)
    bench = d.filter(F.col("doc_id") % 37 == 0).select("text")
    return contamination_score(d, bench, n=8)


def _linify(toks, words_per_line: int = 8, dot_every_3: bool = False):
    """Deterministic multi-line text built from a doc's single-space tokens:
    lines of `words_per_line` words, optionally with a '.' appended to
    lines where i % 3 < 2 (the C4 terminal-punctuation device). The raw
    testdata has zero newlines, so line-granular ops synthesize structure
    this way — mirrored verbatim in the DuckDB oracles."""
    w = words_per_line
    n_lines = F.floor((F.size(toks) - 1) / F.lit(w)).cast("int")
    mk = lambda i: F.array_join(F.slice(toks, i * w + 1, w), " ")
    if dot_every_3:
        line = lambda i: F.concat(
            mk(i), F.when(i % 3 < 2, F.lit(".")).otherwise(F.lit(""))
        )
    else:
        line = mk
    return F.array_join(
        F.transform(F.sequence(F.lit(0), n_lines), line), "\n"
    )


def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet/FineWeb cross-corpus line dedup: docs are linified (8-word
    lines), every doc gains a boilerplate footer line, doc_id%3==0 docs a
    second shared footer, and doc_id%5==0 docs repeat their own first line
    — so the dedup has real cross-doc AND within-doc duplicates to remove.
    Keeper = min (doc_id, line_idx) per normalized-line md5."""
    from feature_extraction_spark.ops.lines import line_dedup

    d = _docs(spark, sf_dir)
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ", -1)
    first_line = F.array_join(F.slice(toks, 1, 8), " ")
    d = d.withColumn(
        "text",
        F.concat(
            _linify(toks),
            F.lit("\nall rights reserved."),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit("\nsubscribe to our newsletter."),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0, F.concat(F.lit("\n"), first_line)
            ).otherwise(F.lit("")),
        ),
    )
    return line_dedup(d).select(
        "doc_id", "text_dedup", "n_lines", "n_lines_kept"
    )


def q_c4_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line+page rules (Raffel et al. 2020 §2.2) over linified docs
    ('.' on lines with i%3<2 so the terminal-punctuation rule bites), with
    planted page-level contaminants: a javascript line (doc_id%17==0,
    drops the LINE only), 'lorem ipsum' (%11), a '{' line (%13), and a
    bad-word line (%7) — each dropping the PAGE."""
    from feature_extraction_spark.ops.lines import c4_filters

    d = _docs(spark, sf_dir)
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ", -1)

    def _mark(mod: int, s: str):
        return F.when(F.col("doc_id") % mod == 0, F.lit("\n" + s)).otherwise(
            F.lit("")
        )

    d = d.withColumn(
        "text",
        F.concat(
            _linify(toks, dot_every_3=True),
            _mark(17, "this page uses javascript for rendering."),
            _mark(11, "lorem ipsum dolor sit amet."),
            _mark(13, "config = { enabled }"),
            _mark(7, "fuck spam spam spam spam."),
        ),
    )
    return c4_filters(d).select("doc_id", "kept", "n_lines_kept", "text_c4")


def q_ppl_buckets_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity terciles (Wenzek et al. 2020
    §4.3): bigram-LM log-perplexity per doc (the value-oracled lm_ppl
    pipeline), rounded _r4, then exact equal-count rank buckets with
    (log_ppl, doc_id) tiebreak — the rank method is the cross-engine-exact
    oracle path; the map-only percentile-threshold method is the 100 TB
    path (pytest asserts they agree)."""
    from feature_extraction_spark.ops.lm import (
        ppl_buckets,
        train_bigram_lm,
        with_perplexity,
    )

    docs = _docs(spark, sf_dir)
    lm = train_bigram_lm(docs, k=0.1)
    scored = with_perplexity(docs, lm).select(
        "doc_id", F.round("log_ppl", 4).alias("log_ppl")
    )
    out = ppl_buckets(scored, ppl_col="log_ppl", id_col="doc_id", method="rank")
    return out.select("doc_id", "log_ppl", "bucket_idx", "bucket")


def q_render_turns_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT-assembly rendering at turn grain: each turn rendered
    '<role>: <text>' with exact [start_char, end_char) offsets into the
    flattened conversation and the loss-mask flag (trainable role =
    'purchase' on the events-as-transcripts mapping). One window over the
    conv_id exchange — pure integer running-sum algebra, exact in both
    engines."""
    from feature_extraction_spark.ops.render import render_turns

    t = _events_as_transcripts(spark, sf_dir)
    out = render_turns(t, trainable_roles=("purchase",))
    return out.select(
        "conv_id", "turn_idx", "rendered", "start_char", "end_char",
        "trainable",
    )


def q_render_conv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT-assembly rendering at conversation grain: the flattened
    document per conv plus turn/char/trainable-char totals (the numbers a
    sequence-packing step budgets by). One groupBy(conv_id) shuffle."""
    from feature_extraction_spark.ops.render import render_conversations

    t = _events_as_transcripts(spark, sf_dir)
    return render_conversations(t, trainable_roles=("purchase",))


def q_truncate_conv_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-turn context-length truncation: keep the suffix of each
    conversation whose rendering fits in 400 chars (recent context wins).
    Suffix running sum over one conv_id window — exact integer algebra."""
    from feature_extraction_spark.ops.render import truncate_conversations

    t = _events_as_transcripts(spark, sf_dir)
    out = truncate_conversations(t, max_chars=400, keep="last")
    return out.select("conv_id", "turn_idx", "cum_chars", "kept")


def q_hard_negatives_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (DPR/ANCE): top-5 most-similar non-positive
    corpus vectors per query; positives (self + successor id) excluded
    before ranking so every query yields exactly 5 true negatives."""
    from feature_extraction_spark.ops.similarity import hard_negatives

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).selectExpr(
        "vec_id as q_id", "embedding"
    )
    positives = queries.select("q_id").select(
        "q_id", F.col("q_id").alias("vec_id")
    ).unionByName(
        queries.select("q_id").select(
            "q_id", (F.col("q_id") + 1).alias("vec_id")
        )
    )
    out = hard_negatives(emb, queries, positives, k=5)
    return _r6(
        out.select("q_id", "vec_id", "cosine", "rank"), ["cosine"]
    )


def q_shuffle_order_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: rank docs by md5('ep1'||id)
    — the reproducible epoch permutation applied before sharding."""
    from feature_extraction_spark.ops.chunk import deterministic_shuffle

    d = _docs(spark, sf_dir).select("doc_id")
    return deterministic_shuffle(d, key_cols="doc_id", seed="ep1")


def q_jsonl_parse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-on-read JSONL ingestion with corrupt-record quarantine:
    events are serialized to deterministic JSON lines (manual concat —
    identical bytes in both engines); rows with event_id%97==0 are
    truncated to 10 chars (malformed JSON), and rows with
    event_id%89==0 (and not %97) carry a VALID-JSON but WRONG-TYPE
    user_id ("x<id>" string for a bigint field) — exercising BOTH
    PERMISSIVE corrupt branches: unparseable records AND partial-result
    type mismatches (mismatched field null, other fields recovered,
    corrupt column set). The parser must recover every good row's typed
    fields while flagging — not dropping — both corrupt classes. Spark
    side = from_json PERMISSIVE + corrupt column; oracle = json_valid +
    typed json_extract with the type-mismatch flagged via the same
    failed typed extract."""
    from feature_extraction_spark.sources.jsonl import parse_jsonl

    e = _events(spark, sf_dir)
    line = F.concat(
        F.lit('{"event_id": '),
        F.col("event_id").cast("string"),
        F.lit(', "event_type": "'),
        F.col("event_type"),
        F.lit('", "user_id": '),
        F.col("user_id").cast("string"),
        F.lit("}"),
    )
    line_badtype = F.concat(
        F.lit('{"event_id": '),
        F.col("event_id").cast("string"),
        F.lit(', "event_type": "'),
        F.col("event_type"),
        F.lit('", "user_id": "x'),
        F.col("user_id").cast("string"),
        F.lit('"}'),
    )
    j = e.select(
        F.col("event_id").alias("orig_event_id"),
        F.when(F.col("event_id") % 97 == 0, F.substring(line, 1, 10))
        .when(F.col("event_id") % 89 == 0, line_badtype)
        .otherwise(line)
        .alias("json"),
    )
    out = parse_jsonl(
        j, schema="event_id bigint, event_type string, user_id bigint"
    )
    return out.select(
        "orig_event_id",
        "event_id",
        "event_type",
        "user_id",
        F.col("_corrupt").isNotNull().alias("is_corrupt"),
    )


def q_semdedup_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): k-means-scoped embedding near-dup
    removal, min-id representative. The raw testdata is near-orthogonal
    (max pairwise cosine 0.51 at sf0.01 / 0.60 at sf0.1), so deterministic
    duplicate structure is PLANTED: every vec_id % 10 == 0 gains an
    identical clone at vec_id + 1_000_000 (same device as pii_scrub_docs'
    synthetic PII). At threshold 0.9 the true pair set is exactly the
    planted clone pairs; a clone's vector equals its source's, so it lands
    in the same cluster under ANY clustering and recall is structurally
    1.0 — the clustering choice cannot perturb the value-checked output.

    n_clusters follows the op's own scale rule (~n/1000, floor 8) instead
    of a pinned 8: clustering-free correctness (above) means the knob only
    bounds the per-cluster quadratic, and a fixed 8 made the 20k-vector
    bench tier pay ~4x the pair work the rule allows (252 s/rep observed).
    At the driver's sf0.001/sf0.01 sizes the rule still yields 8, so the
    value-checked history is unchanged."""
    import math

    from feature_extraction_spark.ops.similarity import semdedup

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    clones = emb.filter(F.col("vec_id") % 10 == 0).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    aug = emb.unionByName(clones)
    k = max(8, math.ceil(aug.count() / 1000))
    kept = semdedup(aug, threshold=0.9, n_clusters=k, iters=2, seed=42)
    return kept.select("vec_id")


def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-stratum quota sampling (deterministic reservoir
    equivalent): 20 docs per source, ranked by the salted entity hash —
    reproducible across engines, partitionings, and cluster sizes."""
    from feature_extraction_spark.ops.chunk import stratified_sample_exact

    d = _docs(spark, sf_dir)
    return stratified_sample_exact(
        d, "source", 20, key_cols="doc_id", salt="strat-r2"
    ).select("doc_id", "source")


# Planted quality signal shared by the Spark query AND the DuckDB oracle
# (single source of truth for the literals):
_QM_CLEAN = (
    " the committee said that it would have to review the"
    " proposal with care and that the details were still"
    " to be worked out over the coming weeks" * 2
)
_QM_JUNK = " !!! $$$ zz zz zz WIN WIN !!!" * 6

# Frozen quality classifier: train_quality_classifier over the planted
# sf0.01 corpus (even doc_ids + _QM_CLEAN, odd + _QM_JUNK, label = even),
# pinned as literals so quality_model_docs is a pure (non-iterative)
# scoring query with a value-level DuckDB oracle — the realistic serving
# shape (classifier trained once, scores everywhere), the same contract
# as _BPE_MERGES and _PQ_CODEBOOK. Reproducible: the L-BFGS fit on fixed
# data/params is deterministic (re-fit equality checked when frozen).
_QM_COEF: list[float] = [
    0.013321037762608144,   # q_n_chars
    -0.016098193111056185,  # q_n_words
    10.355327972231704,     # q_mean_word_len
    -77.7201338991442,      # q_punct_ratio
    -116.58020084871598,    # q_upper_ratio
    47.63056377699719,      # q_stopword_ratio
    71.83132312726379,      # q_distinct_ratio
]
_QM_INTERCEPT = -71.31757118734775


def _qm_planted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.col("text"), F.lit(_QM_CLEAN)),
        ).otherwise(F.concat(F.col("text"), F.lit(_QM_JUNK))),
    ).withColumn("label", (F.col("doc_id") % 2 == 0).cast("double"))


def q_quality_model_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality filter (GPT-3-style classifier over the native
    heuristic features), FROZEN-coefficient serving path: the planted
    corpus (even doc_ids gain stopword-rich clean text, odd ids gain
    symbol/spam junk) is scored by sigmoid(w·x + b) with the pinned
    _QM_COEF/_QM_INTERCEPT literals — pure native column math, map-only.
    The DuckDB oracle re-derives the q_* features from first principles
    (same SQL family as quality_docs), applies the identical NaN->0
    imputation and the identical left-associated margin chain, and
    value-checks prob + the keep decision. The TRAINER (iterative
    L-BFGS) stays driver-row-free by design; its value evidence is
    tests/test_quality_model.py (planted separable corpora, held-out
    AUC, refit determinism)."""
    from feature_extraction_spark.ops.quality_model import (
        QualityModel,
        score_quality,
    )
    from feature_extraction_spark.ops.quality_model import (
        QUALITY_FEATURES as _QF,
    )

    model = QualityModel(
        features=list(_QF),
        coefficients=list(_QM_COEF),
        intercept=_QM_INTERCEPT,
    )
    out = score_quality(model, _qm_planted(spark, sf_dir))
    return out.select(
        "doc_id",
        "label",
        F.round("q_model_prob", 6).alias("q_model_prob"),
        (F.col("q_model_prob") >= 0.5).alias("kept"),
    )


def q_lda_topics_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U8 LDA topic model (reference archived/train_topic_model.py:67-169,
    gensim): df-filtered vocab -> CountVectorizer sparse counts -> online
    variational LDA -> per-doc mixture. Not SQL-expressible, so no DuckDB
    oracle (rows-only driver check); value-level evidence is
    tests/test_topics.py (planted two-vocabulary corpus recovered with
    purity 1.0, seeded reproducibility, mixtures sum to 1)."""
    from feature_extraction_spark.ops.topics import doc_topics, train_topics

    d = _docs(spark, sf_dir)
    m = train_topics(
        d, k=3, min_df=2, max_df_frac=0.98, max_iter=10, seed=7
    )
    out = doc_topics(m, d)
    return out.select(
        "doc_id",
        "dominant_topic",
        F.round("dominant_weight", 4).alias("dominant_weight"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: point-in-time feature matrix over events-as-transcripts at
    sf0.001 — sessionized, rolling windows, backfilled purchase value, and
    as-of joined session summary, one row per event."""
    from feature_extraction_spark.ops.backfill import backfill
    from feature_extraction_spark.ops.sessionize import sessionize
    from feature_extraction_spark.ops.windows import (
        rolling_turn_features,
        with_role_transition,
    )

    t = _events_as_transcripts(spark, SF1)
    t = sessionize(t, gap_seconds=3600.0)
    t = with_role_transition(t)
    t = rolling_turn_features(t, trailing_seconds=3600, trailing_rows=10)
    t = t.withColumn("pv", F.when(F.col("role") == "purchase", F.col("value")))
    t = backfill(t, ["pv"])
    return t.select(
        "conv_id", "turn_idx", "ts", "role", "session_id", "role_transition",
        "gap_s", "roll_turns_3600s", "roll_tool_rate_3600s",
        "roll_wc_mean_10", "pv_filled",
    )


def q_interval_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Granule-decomposed range join: every event inside a 45-minute
    exposure window opened by the same user's first 200 events. Verified
    value-for-value against a DuckDB BETWEEN join — the decomposition must
    introduce no duplicates and miss no containments."""
    from feature_extraction_spark.ops.rangejoin import interval_join

    e = _events(spark, sf_dir)
    iv = (
        e.filter(F.col("event_id") < 200)
        .select(
            F.col("event_id").alias("iv_id"),
            "user_id",
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 45 MINUTES")).alias("end"),
        )
    )
    out = interval_join(
        e.select("event_id", "user_id", "ts"),
        iv,
        granule_seconds=2700.0,
        on="user_id",
    )
    return out.select("event_id", "user_id", "iv_id")


def q_hist_quantile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-edge histogram state -> per-user value quantiles.
    The state is built as two disjoint shard states merged together, so the
    driver check covers the mergeability contract, not just the binning.
    _r4: within-bin interpolation arithmetic is ulp-sensitive across
    engines."""
    from feature_extraction_spark.ops.sketches import (
        HistogramSpec,
        histogram_quantiles,
        histogram_state,
        merge_histogram_states,
    )

    spec = HistogramSpec(lo=0.0, hi=100.0, bins=200)
    t = _events_as_transcripts(spark, sf_dir)
    a = histogram_state(t.filter(F.col("event_id") % 2 == 0), "value", spec)
    b = histogram_state(t.filter(F.col("event_id") % 2 == 1), "value", spec)
    out = histogram_quantiles(
        merge_histogram_states(a, b), spec, probs=[0.25, 0.5, 0.75]
    )
    out = out.select(
        F.col("conv_id").cast("bigint").alias("user_id"),
        F.col("q_0_25").alias("hq25"),
        F.col("q_0_5").alias("hq50"),
        F.col("q_0_75").alias("hq75"),
    )
    return _r4(out, ["hq25", "hq50", "hq75"])


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # REGISTRY ORDER IS THE DRIVER'S COVERAGE WINDOW: the driver writes
    # correctness rows for only the first 50 entries. Round-4 rotation
    # (VERDICT r3 "Next round" #1): the 25 queries with no CORRECTNESS_r03
    # row lead — first the 14 never driver-checked anywhere, then the 11
    # green in r02 but rotated out of r03 — followed by round-4 additions,
    # then the 50 already green in r03 (which therefore have a green row in
    # r03 even when they fall outside r04's window).
    _q = {
        # -- 14 never driver-checked (r02/r03 missed them; sim-green only)
        "target_encode_events": q_target_encode_events,
        "quantile_bin_events": q_quantile_bin_events,
        "feature_cross_events": q_feature_cross_events,
        "weighted_sample_docs": q_weighted_sample_docs,
        "temporal_split_events": q_temporal_split_events,
        "truecase_docs": q_truecase_docs,
        "pii_scrub_docs": q_pii_scrub_docs,
        "decontaminate_docs": q_decontaminate_docs,
        "lda_topics_docs": q_lda_topics_docs,
        "semdedup_emb": q_semdedup_emb,
        "stratified_sample_docs": q_stratified_sample_docs,
        "quality_model_docs": q_quality_model_docs,
        "interval_join_events": q_interval_join_events,
        "hist_quantile_events": q_hist_quantile_events,
        # -- green in r02, rotated out of r03's 50-row window
        "tpch_q3": q_tpch_q3,
        "cosine_topk": q_cosine_topk,
        "knn_join": q_knn_join,
        "neardup_pairs_emb": q_neardup_pairs_emb,
        "neardup_pairs_emb_lsh": q_neardup_pairs_emb_lsh,
        "dedup_clusters_docs": q_dedup_clusters_docs,
        "chunk_docs": q_chunk_docs,
        "hash_split_docs": q_hash_split_docs,
        "mixture_docs": q_mixture_docs,
        "vocab_filter_docs": q_vocab_filter_docs,
        # -- round-4 additions (need their first driver row)
        "bpe_apply_docs": q_bpe_apply_docs,
        "wav_stats_media": q_wav_stats_media,
        "ivf_topk_indexed": q_ivf_topk_indexed,
        "pq_codes_emb": q_pq_codes_emb,
        "pq_adc_topk_emb": q_pq_adc_topk_emb,
        "skew_report_events": q_skew_report_events,
        "dsir_weights_docs": q_dsir_weights_docs,
        "dsir_sample_docs": q_dsir_sample_docs,
        "sq8_topk_emb": q_sq8_topk_emb,
        "hamming_topk_emb": q_hamming_topk_emb,
        "profile_events": q_profile_events,
        "mixture_temp_docs": q_mixture_temp_docs,
        "contamination_frac_docs": q_contamination_frac_docs,
        # -- round-4 session-2 additions (need their first driver row)
        "line_dedup_docs": q_line_dedup_docs,
        "c4_filter_docs": q_c4_filter_docs,
        "ppl_buckets_docs": q_ppl_buckets_docs,
        "render_turns_events": q_render_turns_events,
        "render_conv_events": q_render_conv_events,
        "truncate_conv_events": q_truncate_conv_events,
        "jsonl_parse_events": q_jsonl_parse_events,
        "hard_negatives_emb": q_hard_negatives_emb,
        "shuffle_order_docs": q_shuffle_order_docs,
        # -- green in CORRECTNESS_r03 (window overflow is covered there)
        "verbosity_docs": q_verbosity_docs,
        "lexdiv_docs": q_lexdiv_docs,
        "nonverbal_docs": q_nonverbal_docs,
        "token_counts_docs": q_token_counts_docs,
        "langid_docs": q_langid_docs,
        "fingerprint_docs": q_fingerprint_docs,
        "exact_dedup_docs": q_exact_dedup_docs,
        "jaccard_pairs_docs": q_jaccard_pairs_docs,
        "minhash_pairs_docs": q_minhash_pairs_docs,
        "simhash_pairs_docs": q_simhash_pairs_docs,
        "minhash_incremental_docs": q_minhash_incremental_docs,
        "stream_dedup_docs": q_stream_dedup_docs,
        "entropy_events": q_entropy_events,
        "mixture_rates_docs": q_mixture_rates_docs,
        "bpe_tokens_docs": q_bpe_tokens_docs,
        "pmi_docs": q_pmi_docs,
        "asof_purchase": q_asof_purchase,
        "asof_purchase_broadcast": q_asof_purchase_broadcast,
        "asof_purchase_forward": q_asof_purchase_forward,
        "asof_purchase_nearest": q_asof_purchase_nearest,
        "decontaminate_bloom_docs": q_decontaminate_bloom_docs,
        "emb_pool_label": q_emb_pool_label,
        "sessionize_events": q_sessionize_events,
        "session_stats_events": q_session_stats_events,
        "latency_stats_events": q_latency_stats_events,
        "rolling_events_1h": q_rolling_events_1h,
        "backfill_purchase": q_backfill_purchase,
        "role_transitions_events": q_role_transitions_events,
        "pos_docs": q_pos_docs,
        "liwc_docs": q_liwc_docs,
        "quality_docs": q_quality_docs,
        "gopher_docs": q_gopher_docs,
        "bm25_topk_docs": q_bm25_topk_docs,
        "lm_ppl_docs": q_lm_ppl_docs,
        "rolling_median_events": q_rolling_median_events,
        "dup_spans_docs": q_dup_spans_docs,
        "despan_docs": q_despan_docs,
        "heavy_hitters_docs": q_heavy_hitters_docs,
        "zscore_events": q_zscore_events,
        "daily_stats_events": q_daily_stats_events,
        "asof_purchase_tolerance": q_asof_purchase_tolerance,
        "graph_docs": q_graph_docs,
        "graph_planted_docs": q_graph_planted_docs,
        "phrase_merge_docs": q_phrase_merge_docs,
        "multilevel_events": q_multilevel_events,
        "multimodal_features": q_multimodal_features,
        "bmp_stats_media": q_bmp_stats_media,
        "hypothesis_mean_docs": q_hypothesis_mean_docs,
        "timing_stats_events": q_timing_stats_events,
        "conf_stats_events": q_conf_stats_events,
        "tpch_q1": q_tpch_q1,
    }
    ordered = {k: _q[k] for k in _R05_WINDOW}
    ordered.update({k: f for k, f in _q.items() if k not in ordered})
    assert len(ordered) == len(_q), "window names must exist in the registry"
    return ordered


# COVERAGE WINDOW: the driver writes correctness rows for only the first
# 50 registry entries, and a row covers only the code it ran. So the
# window leads with the four queries whose values changed after their last
# row: liwc_docs (its NULL-text entity is one empty token now, so its
# proportions are 0.0, not NaN) and jsonl_parse_events, shuffle_order_docs
# and hard_negatives_emb (changed in r5, last row from r04). Then comes the
# r05 window less tpch_q1 and bmp_stats_media, which read no text
# or timestamp and keep their green r05 rows. Every query past position 50
# has a green row in r04 or r05. The NULL-convention variants
# (timing_stats_events' NULL word_timing, liwc_docs, lm_ppl_docs' NULL/
# empty/whitespace docs) sit inside the window.
_R05_WINDOW = [
    "liwc_docs", "jsonl_parse_events", "shuffle_order_docs",
    "hard_negatives_emb",
    "token_counts_docs", "langid_docs", "fingerprint_docs",
    "exact_dedup_docs", "jaccard_pairs_docs", "minhash_pairs_docs",
    "simhash_pairs_docs", "minhash_incremental_docs", "stream_dedup_docs",
    "entropy_events", "mixture_rates_docs", "bpe_tokens_docs", "pmi_docs",
    "asof_purchase", "asof_purchase_broadcast", "asof_purchase_forward",
    "asof_purchase_nearest", "decontaminate_bloom_docs", "emb_pool_label",
    "sessionize_events", "session_stats_events", "latency_stats_events",
    "rolling_events_1h", "backfill_purchase", "role_transitions_events",
    "pos_docs", "quality_docs", "gopher_docs",
    "bm25_topk_docs", "lm_ppl_docs", "rolling_median_events",
    "dup_spans_docs", "despan_docs", "heavy_hitters_docs",
    "zscore_events", "daily_stats_events", "asof_purchase_tolerance",
    "graph_docs", "multilevel_events", "multimodal_features",
    "hypothesis_mean_docs", "timing_stats_events", "conf_stats_events",
    "quality_model_docs", "graph_planted_docs", "phrase_merge_docs",
]


# ---------------------------------------------------------------- oracles


def _pq_code_ctes() -> str:
    """Shared encode CTEs for the PQ oracles: centroid VALUES from the
    SAME frozen constants as the Spark query, per-subspace squared
    distances with the identical left-to-right addition order, argmin via
    row_number ordered (d, c) — exactly array_position-of-min's
    first-match / smallest-index tie-break."""
    cent_rows = ",\n    ".join(
        "({}, {}, {})".format(
            j, c, ", ".join(f"({v!r})::DOUBLE" for v in cent)
        )
        for j, cents in enumerate(_PQ_CODEBOOK)
        for c, cent in enumerate(cents)
    )
    subsel = ", ".join(
        f"embedding[j*8+{i}]::DOUBLE AS s{i}" for i in range(1, 9)
    )
    sq = " + ".join(
        f"(s.s{i}-c.v{i})*(s.s{i}-c.v{i})" for i in range(1, 9)
    )
    pivots = ", ".join(
        f"max(CASE WHEN j={j} THEN c END) AS code_{j}" for j in range(8)
    )
    return f"""
WITH cent(j, c, v1, v2, v3, v4, v5, v6, v7, v8) AS (VALUES
    {cent_rows}
), sub AS (
  SELECT vec_id, j, {subsel}
  FROM embeddings CROSS JOIN (SELECT unnest(range(8)) AS j)
), dist AS (
  SELECT s.vec_id, s.j, c.c, {sq} AS d
  FROM sub s JOIN cent c ON s.j = c.j
), ranked AS (
  SELECT vec_id, j, c,
         row_number() OVER (PARTITION BY vec_id, j ORDER BY d, c) AS rn
  FROM dist
), code AS (
  SELECT vec_id, {pivots} FROM ranked WHERE rn = 1 GROUP BY vec_id
)"""


def _pq_codes_sql() -> str:
    cols = ", ".join(f"code_{j}" for j in range(8))
    return f"{_pq_code_ctes()}\nSELECT vec_id, {cols} FROM code"


def _pq_adc_sql() -> str:
    """ADC oracle: the lookup table is recomputed here from the SAME
    frozen constants via ops/pq.adc_lut (shared Python — the lut literals
    in this SQL and in the Spark plan are the same doubles), and the
    distance is an explicit left-to-right chain over j matching the
    zip_with/aggregate fold order, so values agree bit-for-bit before
    rounding."""
    from feature_extraction_spark.ops.pq import adc_lut

    lut = adc_lut(_PQ_CODEBOOK, _PQ_QUERY)
    terms = []
    for j in range(8):
        cases = " ".join(
            f"WHEN {c} THEN ({lut[j][c]!r})::DOUBLE" for c in range(8)
        )
        terms.append(f"(CASE code_{j} {cases} END)")
    dist = " + ".join(terms)
    return f"""{_pq_code_ctes()}, adc AS (
  SELECT vec_id, {dist} AS d FROM code
)
SELECT vec_id, round(d, 6) AS adc_dist
FROM adc ORDER BY d ASC, vec_id LIMIT 10"""


_SKEW_REPORT_SQL = """
WITH c AS (
  SELECT user_id, count(*)::BIGINT AS n_rows FROM events GROUP BY user_id
), t AS (
  SELECT sum(n_rows)::BIGINT AS total, count(*)::BIGINT AS nkeys FROM c
), r AS (
  SELECT user_id, n_rows,
         row_number() OVER (ORDER BY n_rows DESC, user_id) AS rank
  FROM c
)
SELECT r.user_id, r.n_rows,
       round(r.n_rows / t.total, 6) AS share,
       round(r.n_rows / (t.total / t.nkeys), 6) AS skew_factor,
       r.rank
FROM r, t WHERE r.rank <= 10
"""


# DSIR oracles: identical md5 buckets (first 32 bits mod B), add-alpha
# smoothing over the FULL 0..B-1 domain, log-ratio sums. The grams CTE is
# shared: unigrams + bigrams (1-based list indexing; empty docs produce no
# gram rows and re-enter via the final LEFT JOIN with the 0/0.0 defaults).
_DSIR_CTES = f"""
WITH toks AS (
  SELECT doc_id, source,
    list_filter(str_split_regex(lower(coalesce(text, '')), '\\s+'),
                w -> w <> '') AS ws
  FROM documents
), g AS (
  SELECT doc_id, source,
    CAST('0x' || substr(md5(unnest(
      ws || list_transform(range(1, greatest(len(ws), 1)),
                           i -> ws[i] || ' ' || ws[i+1])
    ) || chr(31) || '{_DSIR_SALT}'), 1, 8) AS BIGINT) % {_DSIR_B} AS b
  FROM toks
), tc AS (
  SELECT b, count(*) AS c FROM g WHERE source = 'src0' GROUP BY b
), rc AS (
  SELECT b, count(*) AS c FROM g GROUP BY b
), tn AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM tc),
rn AS (SELECT coalesce(sum(c), 0)::DOUBLE AS n FROM rc),
dom AS (SELECT unnest(range(0, {_DSIR_B})) AS b),
model AS (
  SELECT dom.b,
    ln((coalesce(tc.c, 0) + 0.5) / ((SELECT n FROM tn) + {0.5 * _DSIR_B}))
    - ln((coalesce(rc.c, 0) + 0.5) / ((SELECT n FROM rn) + {0.5 * _DSIR_B}))
      AS lr
  FROM dom LEFT JOIN tc ON dom.b = tc.b LEFT JOIN rc ON dom.b = rc.b
), sc AS (
  SELECT g.doc_id, count(*)::BIGINT AS n_grams, sum(m.lr) AS w
  FROM g JOIN model m ON g.b = m.b GROUP BY g.doc_id
), scored AS (
  SELECT d.doc_id, coalesce(sc.n_grams, 0)::BIGINT AS n_grams,
         coalesce(sc.w, 0.0) AS w
  FROM documents d LEFT JOIN sc USING (doc_id)
)"""

_DSIR_WEIGHTS_SQL = f"""{_DSIR_CTES}
SELECT doc_id, n_grams, round(w, 6) AS dsir_logw FROM scored
"""

# Gumbel top-k: key = w/T - ln(-ln(u)), u = (52-bit md5 + 0.5) / 2^52 —
# the exact expression dsir_resample builds (T=2.0, salt 'g-r4', k=25)
_DSIR_SAMPLE_SQL = f"""{_DSIR_CTES}, keyed AS (
  SELECT doc_id,
    w / 2.0 - ln(-ln((CAST('0x' || substr(
        md5(doc_id::VARCHAR || chr(31) || 'g-r4'), 1, 13)
      AS BIGINT) + 0.5) / 4503599627370496.0)) AS k
  FROM scored
)
SELECT doc_id, round(k, 6) AS gumbel_key
FROM keyed ORDER BY k DESC, doc_id LIMIT 25
"""


def _sq8_topk_sql() -> str:
    """SQ8 oracle: bounds from SQL min/max (deterministic — no frozen
    constants needed, unlike the iterative PQ trainer), codes via the
    IDENTICAL ((x-lo)*255)/(hi-lo) op order + HALF_UP-on-nonnegative
    rounding, and the distance as a list_reduce over dim-ORDERED terms —
    the same left-to-right fold sq8_topk builds, so doubles agree
    bit-for-bit before the 6-decimal rounding."""
    qrows = ",\n    ".join(
        f"({i}, ({v!r})::DOUBLE)" for i, v in enumerate(_PQ_QUERY)
    )
    return f"""
WITH q(dim, qv) AS (VALUES
    {qrows}
), e AS (
  SELECT vec_id, i AS dim, embedding[i+1]::DOUBLE AS x
  FROM embeddings, unnest(range(0, 64)) AS t(i)
), b AS (
  SELECT dim, min(x) AS lo, max(x) AS hi FROM e GROUP BY dim
), c AS (
  SELECT e.vec_id, e.dim, b.lo, b.hi,
    CASE WHEN b.hi = b.lo THEN 0
         ELSE least(greatest(
             CAST(round((e.x - b.lo) * 255.0 / (b.hi - b.lo), 0) AS INT),
             0), 255)
    END AS code
  FROM e JOIN b USING (dim)
), t AS (
  SELECT c.vec_id, c.dim,
    (q.qv - (c.lo + code * (c.hi - c.lo) / 255.0))
      * (q.qv - (c.lo + code * (c.hi - c.lo) / 255.0)) AS term
  FROM c JOIN q USING (dim)
), dist AS (
  SELECT vec_id, list_reduce(list(term ORDER BY dim), (a, x) -> a + x) AS d
  FROM t GROUP BY vec_id
)
SELECT vec_id, round(d, 6) AS sq8_dist
FROM dist ORDER BY d ASC, vec_id LIMIT 10"""


def _hamming_topk_sql() -> str:
    """Binary-quantization oracle: the same 32-bit word packing (sum of
    distinct powers == bitwise OR), xor + popcount per word against the
    query words packed from the frozen _PQ_QUERY literal."""
    from feature_extraction_spark.ops.quantize import pack_sign_words

    q0, q1 = pack_sign_words(_PQ_QUERY)
    word = (
        "list_sum(list_transform(range(0, 32), i -> CASE WHEN "
        "embedding[i+{off}] > 0 THEN (1::BIGINT << i) ELSE 0 END))::BIGINT"
    )
    return f"""
WITH c AS (
  SELECT vec_id, {word.format(off=1)} AS w0, {word.format(off=33)} AS w1
  FROM embeddings
)
SELECT vec_id,
  (bit_count(xor(w0, ({q0})::BIGINT))
   + bit_count(xor(w1, ({q1})::BIGINT)))::BIGINT AS hamming_dist
FROM c ORDER BY hamming_dist ASC, vec_id LIMIT 15"""


def _profile_events_sql() -> str:
    """Profiler oracle: one UNION ALL branch per profiled column; the
    modal value replays the deterministic two-step argmax (max count,
    then MIN string value among ties)."""
    branches = []
    for col in ("event_type", "user_id", "props"):
        freq = (
            f"SELECT {col}::VARCHAR AS v, count(*) AS c FROM events "
            f"WHERE {col} IS NOT NULL GROUP BY 1"
        )
        branches.append(f"""
SELECT '{col}' AS "column", count(*)::BIGINT AS n_rows,
  sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null,
  count(DISTINCT {col})::BIGINT AS n_distinct,
  (SELECT min(v) FROM ({freq}) f
     WHERE c = (SELECT max(c) FROM ({freq}) f2)) AS top_value,
  (SELECT max(c) FROM ({freq}) f)::BIGINT AS top_count
FROM events""")
    return " UNION ALL ".join(branches)


def _bpe_apply_sql() -> str:
    """DuckDB oracle for bpe_apply_docs: replays the frozen merge list with
    the exact left-to-right non-overlapping semantics of ops/bpe.py
    _apply_merge. Each merge is one list_reduce fold whose accumulator is
    the space-joined symbol string (symbols are [a-z0-9]+ and '</w>'
    concatenations — never contain a space): if the accumulator's LAST
    symbol is `a` and the next element is `b`, the last symbol is replaced
    by `ab`, else the element is appended — identical to the Spark
    array-aggregate. Folds are chained per merge over the DISTINCT-word
    vocabulary (dimension-sized), then equi-joined back to the exploded
    corpus with the char-fallback (len+1) for words outside the < 'm'
    segmentation table."""
    syms = (
        "list_append(list_transform(generate_series(1, length(word)),"
        " i -> word[i:i]), '</w>')"
    )
    for a, b in _BPE_MERGES:
        fold = (
            f"list_reduce({syms}, (acc, x) -> CASE "
            f"WHEN regexp_extract(acc, '[^ ]*$') = '{a}' AND x = '{b}' "
            f"THEN regexp_replace(acc, '[^ ]*$', '{a + b}') "
            f"ELSE acc || ' ' || x END)"
        )
        syms = f"str_split({fold}, ' ')"
    return f"""
WITH toks AS (
  SELECT doc_id,
    list_filter(str_split_regex(lower(coalesce(text, '')), '\\s+'),
                x -> x <> '') AS w
  FROM documents
), vocab AS (
  SELECT DISTINCT unnest(w) AS word FROM toks
), seg AS (
  SELECT word, len({syms})::BIGINT AS k FROM vocab WHERE word < 'm'
), exploded AS (
  SELECT doc_id, unnest(w) AS word FROM toks
), agg AS (
  SELECT e.doc_id, count(*) AS n_words,
    sum(coalesce(s.k, length(e.word) + 1)) AS n_bpe,
    sum(CASE WHEN s.k IS NULL THEN 1 ELSE 0 END) AS n_oov
  FROM exploded e LEFT JOIN seg s USING (word)
  GROUP BY e.doc_id
)
SELECT t.doc_id,
  coalesce(a.n_words, 0)::BIGINT AS n_words,
  coalesce(a.n_bpe, 0)::BIGINT AS n_bpe_tokens,
  coalesce(a.n_oov, 0)::BIGINT AS n_oov_words
FROM toks t LEFT JOIN agg a USING (doc_id)
"""


_SYLL = (
    "case when length({w})=0 then 0 "
    "when len(regexp_extract_all(lower({w}),'[aeiouy]+'))=0 then 1 "
    "else len(regexp_extract_all(lower({w}),'[aeiouy]+')) end"
)

_NORM = "trim(regexp_replace(lower({c}), '[^a-z0-9]+', ' ', 'g'))"

def _shingles_sql(w: str, n: int) -> str:
    """Distinct word n-gram shingles with the whole-text fallback for short
    docs — mirrors ops/dedup._shingles."""
    return (
        f"list_distinct(case when len({w}) >= {n} then "
        f"list_transform(generate_series(1, len({w})-{n - 1}), "
        f"i -> array_to_string({w}[i:i+{n - 1}],' ')) "
        f"else [array_to_string({w},' ')] end)"
    )


_SHINGLES3 = _shingles_sql("{w}", 3)


def _tag_case_sql(lw: str = "lw", w: str = "w") -> str:
    """Penn-tag CASE expression template, GENERATED from the same lexicon
    constants as the Spark tagger (functions/postag.py) so the two cannot
    drift. ``lw``/``w`` are the SQL expressions for the normalized and raw
    word (``lw`` may be an inline expression for use inside lambdas)."""
    from feature_extraction_spark.functions import postag as P

    def lst(ws):
        return ",".join(f"'{x.replace(chr(39), chr(39) * 2)}'" for x in ws)

    return f"""CASE
      WHEN {lw} = '' THEN 'NN'
      WHEN {lw} IN ({lst(P.DETERMINERS)}) THEN 'DT'
      WHEN {lw} IN ({lst(P.CONJUNCTIONS)}) THEN 'CC'
      WHEN {lw} IN ({lst(P.PRONOUNS)}) THEN 'PRP'
      WHEN {lw} IN ({lst(P.POSS_PRONOUNS)}) THEN 'PRP$'
      WHEN {lw} IN ({lst(P.WH_DET)}) THEN 'WDT'
      WHEN {lw} IN ({lst(P.WH_ADV)}) THEN 'WRB'
      WHEN {lw} IN ({lst(P.WH_P)}) THEN 'WP'
      WHEN {lw} IN ({lst(P.WH_PS)}) THEN 'WP$'
      WHEN {lw} IN ({lst(P.INTERJECTIONS)}) THEN 'UH'
      WHEN {lw} IN ({lst(P.MODALS)}) THEN 'MD'
      WHEN {lw} IN ({lst(P.COMMON_VERBS)}) THEN 'VB'
      WHEN {lw} = 'to' THEN 'TO'
      WHEN {lw} IN ({lst(P.PREPOSITIONS)}) THEN 'IN'
      WHEN {lw} IN ({lst(P.ADVERBS)}) OR {lw} LIKE '%ly' THEN 'RB'
      WHEN regexp_matches({lw}, '^[0-9]') THEN 'CD'
      WHEN {lw} LIKE '%ing' THEN 'VBG'
      WHEN {lw} LIKE '%ed' THEN 'VBD'
      WHEN {lw} LIKE '%ous' OR {lw} LIKE '%ful' OR {lw} LIKE '%able'
        OR {lw} LIKE '%ible' OR {lw} LIKE '%ive' OR {lw} LIKE '%al'
        OR {lw} LIKE '%ic' THEN 'JJ'
      WHEN regexp_matches(substring({w}, 1, 1), '^[A-Z]') THEN 'NNP'
      ELSE 'NN' END"""


def _pos_docs_sql() -> str:
    """DuckDB oracle for pos_docs (tag CASE shared with the graph oracle)."""
    tag_case = _tag_case_sql()

    wp = "(tag LIKE 'W%' AND substring(tag,2,1) NOT IN ('D','R') AND tag LIKE '%P')"
    wps = "(tag LIKE 'W%' AND substring(tag,2,1) NOT IN ('D','R') AND NOT tag LIKE '%P')"
    inc = {
        "ADJ": "tag LIKE 'J%'",
        "VERB": "tag LIKE 'V%'",
        "NOUN": f"(tag LIKE 'N%' OR tag = 'PRP' OR tag = 'PRP$' OR {wp})",
        "ADV": f"(tag LIKE 'R%' OR (tag LIKE 'W%' AND substring(tag,2,1) = 'R'))",
        "DET": "(tag LIKE 'D%' OR (tag LIKE 'W%' AND substring(tag,2,1) = 'D'))",
        "INT": "tag LIKE 'U%'",
        "PREP": "(tag LIKE 'I%' OR tag LIKE 'T%')",
        "CC": "tag = 'CC'",
        "PNOUN": f"(tag = 'PRP' OR {wp})",
        "PSNOUN": f"(tag = 'PRP$' OR {wps})",
    }
    sums = ",\n    ".join(
        f"sum(CASE WHEN {cond} THEN 1 ELSE 0 END) AS c_{k}" for k, cond in inc.items()
    )
    props = ",\n  ".join(
        f"round(c_{k}::double / num_words, 6) AS {k}" for k in inc
    )
    return f"""
WITH per_doc AS (
  SELECT source, str_split(text, ' ') AS raw FROM documents
), nw AS (
  SELECT source, sum(len(raw)) AS num_words FROM per_doc GROUP BY source
), words AS (
  SELECT source, w, lower(regexp_replace(lower(w), '[.,!?;:]+$', '')) AS lw
  FROM (SELECT source, unnest(list_filter(raw, x -> x <> '')) AS w FROM per_doc)
), tags AS (
  SELECT source, w, {tag_case} AS tag FROM words
), counts AS (
  SELECT source,
    {sums}
  FROM tags GROUP BY source
)
SELECT counts.source,
  {props},
  round(CASE WHEN c_VERB <> 0 THEN c_ADJ::double / c_VERB ELSE 'nan'::double END, 6) AS adj_ratio,
  round(CASE WHEN c_VERB <> 0 THEN c_NOUN::double / c_VERB ELSE 'nan'::double END, 6) AS v_ratio,
  round(CASE WHEN c_VERB + c_NOUN <> 0 THEN c_NOUN::double / (c_VERB + c_NOUN) ELSE 'nan'::double END, 6) AS n_ratio,
  round(CASE WHEN c_NOUN <> 0 THEN c_PNOUN::double / c_NOUN ELSE 'nan'::double END, 6) AS pn_ratio,
  round(CASE WHEN c_CC <> 0 THEN c_PREP::double / c_CC ELSE 'nan'::double END, 6) AS sc_ratio
FROM counts JOIN nw ON counts.source = nw.source
"""


def _liwc_docs_sql() -> str:
    """DuckDB oracle for liwc_docs, GENERATED from the same parsed dictionary
    as the Spark op (ops/liwc.py) so the two cannot drift. Each pattern is a
    separate summand, replicating the Spark union-of-matches counting."""
    from feature_extraction_spark.ops.liwc import parse_dic

    d = parse_dic(_DIC)
    esc = lambda s: s.replace("'", "''")
    terms: dict[str, list[str]] = {c: [] for c in d.categories}
    for pat, cat in d.exact:
        terms[cat].append(f"sum(CASE WHEN tok = '{esc(pat)}' THEN 1 ELSE 0 END)")
    for stem, cat in d.wild:
        terms[cat].append(
            f"sum(CASE WHEN starts_with(tok, '{esc(stem)}') THEN 1 ELSE 0 END)"
        )
    counts = ",\n    ".join(
        f"{' + '.join(ts) if ts else '0'} AS c_{c}" for c, ts in terms.items()
    )
    props = ",\n  ".join(
        f"round(CASE WHEN num_words = 0 THEN 'nan'::double "
        f"ELSE coalesce(c_{c}, 0)::double / num_words END, 6) AS {c}_liwc"
        for c in d.categories
    )
    return f"""
WITH d0 AS (
  SELECT source, text FROM documents
  UNION ALL SELECT 'zz~nulltext', NULL
),
per AS (SELECT source, str_split(coalesce(text, ''), ' ') AS w FROM d0),
nw AS (SELECT source, coalesce(sum(len(w)), 0) AS num_words
       FROM per GROUP BY source),
toks AS (
  SELECT source, unnest(w) AS tok FROM per
  UNION ALL
  SELECT source, unnest(CASE WHEN len(w) >= 2 THEN
    list_transform(generate_series(1, len(w)-1), i -> array_to_string(w[i:i+1], ' '))
    ELSE CAST([] AS VARCHAR[]) END) FROM per
  UNION ALL
  SELECT source, unnest(CASE WHEN len(w) >= 3 THEN
    list_transform(generate_series(1, len(w)-2), i -> array_to_string(w[i:i+2], ' '))
    ELSE CAST([] AS VARCHAR[]) END) FROM per
),
counts AS (SELECT source, {counts} FROM toks GROUP BY source)
SELECT nw.source,
  {props}
FROM nw LEFT JOIN counts ON nw.source = counts.source
"""


def _graph_docs_sql() -> str:
    """DuckDB oracle for graph_docs: rebuilds the three word-adjacency
    multigraphs (naive / lemma / pos) from first principles — token lists,
    consecutive-pair edge lists, per-(u,v) multiplicities — and recomputes
    the counting metrics. The lemma CASE and tag CASE are generated from
    the same rules/lexicons as the Spark kernel so they cannot drift."""
    lemma_case = (
        "CASE "
        "WHEN length({w}) > 4 AND lower({w}) LIKE '%ies' "
        "THEN substring({w}, 1, length({w})-3) || 'y' "
        "WHEN length({w}) > 3 AND lower({w}) LIKE '%sses' "
        "THEN substring({w}, 1, length({w})-2) "
        "WHEN length({w}) > 3 AND lower({w}) LIKE '%s' AND NOT ("
        "lower({w}) LIKE '%ss' OR lower({w}) LIKE '%us' OR lower({w}) LIKE '%is')"
        " THEN substring({w}, 1, length({w})-1) "
        "ELSE {w} END"
    ).format(w="w")
    tag_lw = "lower(regexp_replace(lower(w), '[.,!?;:]+$', ''))"
    tag_case = _tag_case_sql(lw=tag_lw, w="w")

    per_variant = ""
    for v in ("naive", "lemma", "pos"):
        per_variant += f"""
edges_{v} AS (
  SELECT source, e[1] AS u, e[2] AS v FROM (
    SELECT source, unnest(CASE WHEN len({v}) >= 2 THEN
      list_transform(generate_series(1, len({v})-1), i -> [{v}[i], {v}[i+1]])
      ELSE CAST([] AS VARCHAR[][]) END) AS e
    FROM toks)
),
pairs_{v} AS (
  SELECT source, u, v, count(*) AS occ FROM edges_{v} GROUP BY source, u, v
),
agg_{v} AS (
  SELECT source,
    sum(occ)::DOUBLE AS E,
    sum(occ - 1)::DOUBLE AS PE,
    sum(CASE WHEN u = v THEN occ ELSE 0 END)::DOUBLE AS l1,
    sum(CASE WHEN u = v THEN occ - 1 ELSE 0 END)::DOUBLE AS pel1
  FROM pairs_{v} GROUP BY source
),
nodes_{v} AS (
  SELECT source, count(DISTINCT t)::DOUBLE AS N
  FROM (SELECT source, unnest({v}) AS t FROM toks) GROUP BY source
),"""

    return rf"""
WITH d AS (
  SELECT source,
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS naive,
    list_filter(str_split(text, ' '), x -> x <> '') AS mixed
  FROM documents
), toks AS (
  SELECT source, naive,
    list_transform(mixed, w -> {lemma_case}) AS lemma,
    list_transform(mixed, w -> {tag_case}) AS pos,
    len(mixed) AS wc
  FROM d
), wctab AS (SELECT source, sum(wc) AS wc FROM toks GROUP BY source),{per_variant}
j AS (
  SELECT wctab.source, wctab.wc,
    coalesce(nn.N, 0) AS n_n, coalesce(an.E, 0) AS e_n,
    coalesce(an.PE, 0) AS pe_n, coalesce(an.l1, 0) AS l1_n,
    coalesce(an.pel1, 0) AS pel1_n,
    coalesce(nl.N, 0) AS n_l, coalesce(al.E, 0) AS e_l,
    coalesce(np.N, 0) AS n_p, coalesce(ap.E, 0) AS e_p,
    coalesce(ap.PE, 0) AS pe_p
  FROM wctab
  LEFT JOIN nodes_naive nn USING (source)
  LEFT JOIN agg_naive an USING (source)
  LEFT JOIN nodes_lemma nl USING (source)
  LEFT JOIN agg_lemma al USING (source)
  LEFT JOIN nodes_pos np USING (source)
  LEFT JOIN agg_pos ap USING (source)
)
SELECT source,
  round(n_n, 6) AS num_nodes_naive,
  round(e_n, 6) AS num_edges_naive,
  round(CASE WHEN n_n > 0 THEN 2 * e_n / n_n ELSE 'nan'::DOUBLE END, 6)
    AS ave_degree_naive,
  round(pe_n, 6) AS num_p_edges_naive,
  round(l1_n, 6) AS l1_naive,
  round(CASE WHEN n_n > 0 THEN (e_n - (l1_n + pe_n - pel1_n)) / (n_n * n_n)
        ELSE 'nan'::DOUBLE END, 6) AS d_naive,
  round(n_l, 6) AS num_nodes_lemma,
  round(e_l, 6) AS num_edges_lemma,
  round(n_p, 6) AS num_nodes_pos,
  round(e_p, 6) AS num_edges_pos,
  round(pe_p, 6) AS num_p_edges_pos,
  round(CASE WHEN wc > 0 THEN n_n / wc ELSE 'nan'::DOUBLE END, 6)
    AS num_nodes_naive_norm
FROM j
"""


def _multimodal_sql(n: int = 300, seed: int = 42, n_lanes: int = 4) -> str:
    """First-principles re-derivation of the multimodal stub kernel
    (ops/multimodal.py): payload bytes are the ASCII codes of the 64-char
    sha256 hex digest of ``str(seed)||media_id``; the kernel folds byte i
    into lane i % 8 as ``acc = (acc*31 + b) % 100003``. With 8 bytes per
    lane the running-mod equals one polynomial mod (values < 3e12 << 2^63),
    so each lane is a closed-form weighted sum of 8 ascii codes."""
    pows = [31**t for t in range(7, -1, -1)]  # 31^7 .. 31^0

    def lane(j: int) -> str:
        terms = " + ".join(
            f"ascii(substr(h, {j + 1 + 8 * t}, 1))::BIGINT * {pows[t]}"
            for t in range(8)
        )
        return f"(({terms}) % 100003) AS lane_{j}"

    lanes = ",\n  ".join(lane(j) for j in range(n_lanes))
    return f"""
WITH m AS (
  SELECT media_id, sha256('{seed}' || media_id::VARCHAR) AS h
  FROM range({n}) t(media_id)
  WHERE media_id % 3 = 0
)
SELECT media_id, 64::BIGINT AS n_bytes,
  {lanes}
FROM m
"""


def _gopher_sql() -> str:
    """First-principles DuckDB re-derivation of ops/gopher.py (statistics
    AND the keep decision), generated from the module's own threshold /
    stopword constants so the two sides cannot drift."""
    from feature_extraction_spark.ops.gopher import (
        GOPHER_THRESHOLDS as T,
        REQUIRED_STOPWORDS,
    )

    req = ", ".join(f"'{w}'" for w in REQUIRED_STOPWORDS)
    strip = r"regexp_replace(s, '^\s+|\s+$', '', 'g')"
    top_frac = {2: "top_2gram_char_frac", 3: "top_3gram_char_frac", 4: "top_4gram_char_frac"}
    dup_frac = {n: f"dup_{n}gram_char_frac" for n in (5, 6, 7, 8, 9, 10)}

    per_n_cols = ",\n  ".join(
        [
            f"max(CASE WHEN n = {n} THEN top.c * top.g END) AS _top{n}"
            for n in top_frac
        ]
        + [
            f"max(CASE WHEN n = {n} THEN dupchars END) AS _dup{n}"
            for n in dup_frac
        ]
    )

    def frac(num: str) -> str:
        raw = f"CASE WHEN tot > 0 THEN coalesce({num}, 0) / tot::DOUBLE ELSE 'nan'::DOUBLE END"
        return f"CASE WHEN isnan({raw}) THEN {raw} ELSE least(1.0, {raw}) END"

    gram_feats = ",\n  ".join(
        [f"{frac(f'_top{n}')} AS {c}" for n, c in top_frac.items()]
        + [f"{frac(f'_dup{n}')} AS {c}" for n, c in dup_frac.items()]
    )

    # one static branch per n (correlated lateral unnest trips DuckDB's
    # binder; the SQL is generated anyway, so unroll)
    gram_union = "\n  UNION ALL ".join(
        f"SELECT doc_id, {n} AS n, unnest(list_transform("
        f"range(len(words) - {n - 1}), "
        f"i -> array_to_string(words[i + 1:i + {n}], ' '))) AS gram FROM d"
        for n in range(2, 11)
    )

    hi_rules = " OR ".join(
        f"isnan({c}) OR {c} > {T[c]}"
        for c in [
            "dup_line_frac", "dup_para_frac", "dup_line_char_frac",
            "dup_para_char_frac", *top_frac.values(), *dup_frac.values(),
        ]
    )
    keep = f"""NOT ({hi_rules}
    OR gq_n_words < {T['min_words']} OR gq_n_words > {T['max_words']}
    OR isnan(mean_word_len) OR mean_word_len < {T['min_mean_word_len']}
    OR mean_word_len > {T['max_mean_word_len']}
    OR isnan(symbol_word_ratio) OR symbol_word_ratio > {T['max_symbol_word_ratio']}
    OR isnan(bullet_line_frac) OR bullet_line_frac > {T['max_bullet_line_frac']}
    OR isnan(ellipsis_line_frac) OR ellipsis_line_frac > {T['max_ellipsis_line_frac']}
    OR isnan(alpha_word_frac) OR alpha_word_frac < {T['min_alpha_word_frac']}
    OR stopword_hits < {T['min_stopword_hits']})"""

    return f"""
WITH d AS (
  SELECT doc_id, coalesce(text, '') AS text,
    list_filter(str_split_regex(lower(coalesce(text, '')), '\\s+'),
                x -> x <> '') AS words
  FROM documents
), segs AS (
  SELECT doc_id,
    list_filter(list_transform(str_split_regex(text, '\\n'),
                               s -> {strip}), x -> x <> '') AS lines,
    list_filter(list_transform(str_split_regex(text, '\\n{{2,}}'),
                               s -> {strip}), x -> x <> '') AS paras,
    text, words
  FROM d
), doc_stats AS (
  SELECT doc_id,
    len(words) AS gq_n_words,
    coalesce(list_sum(list_transform(words, x -> length(x))), 0) AS tot,
    CASE WHEN len(words) > 0
      THEN coalesce(list_sum(list_transform(words, x -> length(x))), 0)
           / len(words)::DOUBLE ELSE 'nan'::DOUBLE END AS mean_word_len,
    CASE WHEN len(lines) > 0 THEN
      (len(lines) - len(list_distinct(lines))) / len(lines)::DOUBLE
      ELSE 'nan'::DOUBLE END AS dup_line_frac,
    CASE WHEN coalesce(list_sum(list_transform(lines, x -> length(x))), 0) > 0 THEN
      (list_sum(list_transform(lines, x -> length(x)))
       - list_sum(list_transform(list_distinct(lines), x -> length(x))))
      / list_sum(list_transform(lines, x -> length(x)))::DOUBLE
      ELSE 'nan'::DOUBLE END AS dup_line_char_frac,
    CASE WHEN len(paras) > 0 THEN
      (len(paras) - len(list_distinct(paras))) / len(paras)::DOUBLE
      ELSE 'nan'::DOUBLE END AS dup_para_frac,
    CASE WHEN coalesce(list_sum(list_transform(paras, x -> length(x))), 0) > 0 THEN
      (list_sum(list_transform(paras, x -> length(x)))
       - list_sum(list_transform(list_distinct(paras), x -> length(x))))
      / list_sum(list_transform(paras, x -> length(x)))::DOUBLE
      ELSE 'nan'::DOUBLE END AS dup_para_char_frac,
    CASE WHEN len(words) > 0 THEN
      ((length(text) - length(replace(text, '#', '')))
       + len(regexp_extract_all(text, '\\.\\.\\.'))
       + (length(text) - length(replace(text, '…', ''))))
      / len(words)::DOUBLE ELSE 'nan'::DOUBLE END AS symbol_word_ratio,
    CASE WHEN len(lines) > 0 THEN
      len(list_filter(lines, s -> s LIKE '•%' OR s LIKE '‣%' OR s LIKE '◦%'
                      OR s LIKE '⁃%' OR s LIKE '-%' OR s LIKE '*%'))
      / len(lines)::DOUBLE ELSE 'nan'::DOUBLE END AS bullet_line_frac,
    CASE WHEN len(lines) > 0 THEN
      len(list_filter(lines, s -> s LIKE '%...' OR s LIKE '%…'))
      / len(lines)::DOUBLE ELSE 'nan'::DOUBLE END AS ellipsis_line_frac,
    CASE WHEN len(words) > 0 THEN
      len(list_filter(words, x -> regexp_matches(x, '[a-z]')))
      / len(words)::DOUBLE ELSE 'nan'::DOUBLE END AS alpha_word_frac,
    len(list_intersect(list_distinct(words), [{req}])) AS stopword_hits
  FROM segs
), g AS (
  {gram_union}
), cnt AS (
  SELECT doc_id, n, gram, count(*) AS cnt,
         length(gram) - (n - 1) AS glen
  FROM g GROUP BY doc_id, n, gram
), per_n AS (
  SELECT doc_id, n,
    max(struct_pack(c := cnt, g := glen)) AS top,
    sum(cnt * glen) FILTER (WHERE cnt > 1) AS dupchars
  FROM cnt GROUP BY doc_id, n
), piv AS (
  SELECT doc_id,
  {per_n_cols}
  FROM per_n GROUP BY doc_id
), feats AS (
  SELECT s.*, {gram_feats}
  FROM doc_stats s LEFT JOIN piv USING (doc_id)
)
SELECT doc_id, gq_n_words::BIGINT AS gq_n_words,
  stopword_hits::BIGINT AS stopword_hits,
  round(mean_word_len, 6) AS mean_word_len,
  round(symbol_word_ratio, 6) AS symbol_word_ratio,
  round(alpha_word_frac, 6) AS alpha_word_frac,
  round(dup_line_frac, 6) AS dup_line_frac,
  round(dup_line_char_frac, 6) AS dup_line_char_frac,
  round(top_2gram_char_frac, 6) AS top_2gram_char_frac,
  round(top_3gram_char_frac, 6) AS top_3gram_char_frac,
  round(top_4gram_char_frac, 6) AS top_4gram_char_frac,
  round(dup_5gram_char_frac, 6) AS dup_5gram_char_frac,
  round(dup_7gram_char_frac, 6) AS dup_7gram_char_frac,
  round(dup_10gram_char_frac, 6) AS dup_10gram_char_frac,
  {keep} AS gopher_keep
FROM feats
"""


def _bm25_sql(query: str, k: int = 20, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB re-derivation of ops/ranking.py:bm25_topk, generated from the
    same query string/constants. Ranking key = round(bm25, 6), doc_id."""
    terms: list[str] = []
    for w in query.lower().split():
        if w and w not in terms:
            terms.append(w)
    tlist = ", ".join(f"'{t}'" for t in terms)
    return f"""
WITH d AS (
  SELECT doc_id,
    list_filter(str_split_regex(lower(coalesce(text, '')), '\\s+'),
                x -> x <> '') AS w
  FROM documents
), base AS (
  SELECT doc_id, len(w) AS dl, w FROM d
), stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM base
), hits AS (
  SELECT doc_id, dl,
         unnest(list_filter(w, x -> list_contains([{tlist}], x))) AS term
  FROM base
), tf AS (
  SELECT doc_id, dl, term, count(*) AS tf FROM hits GROUP BY doc_id, dl, term
), dfreq AS (
  SELECT term, count(*) AS df FROM tf GROUP BY term
), idf AS (
  SELECT term, ln(1 + (n_docs - df + 0.5) / (df + 0.5)) AS idf, avgdl
  FROM dfreq, stats
), scored AS (
  SELECT doc_id,
    sum(idf * (tf * ({k1} + 1)) / (tf + {k1} * (1 - {b} + {b} * dl / avgdl)))
      AS bm25
  FROM tf JOIN idf USING (term) GROUP BY doc_id
)
SELECT doc_id, round(bm25, 6) AS bm25
FROM scored
ORDER BY round(bm25, 6) DESC, doc_id
LIMIT {k}
"""


def _phrase_merge_sql() -> str:
    """DuckDB oracle for phrase_merge_docs: replant the collocations,
    recount unigrams/bigrams, replay the gensim original scorer
    ((c12 - min_count) * V / (c1 * c2), all exact BIGINTs so the doubles
    agree bit-for-bit), select the same top-20, and replay the greedy
    non-overlapping merge as a list_reduce whose accumulator is the
    space-joined output string: a token merged in this pass is prefixed
    with chr(1) (corpus tokens never contain it) so it cannot merge
    again — gensim Phraser's resume-after-merge rule — and the marker is
    stripped at the end."""
    last = "regexp_extract(acc, '[^ ]*$')"
    fold = (
        f"list_reduce(w, (acc, x) -> CASE "
        f"WHEN NOT contains({last}, chr(1)) "
        f"AND list_contains(plist, {last} || chr(31) || x) "
        f"THEN acc[1:length(acc) - length({last})] || chr(1) || "
        f"{last} || '_' || x "
        f"ELSE acc || ' ' || x END)"
    )
    return rf"""
WITH p AS (
  SELECT doc_id,
    text ||
    CASE WHEN doc_id % 5 = 0 THEN ' neural network neural network'
         ELSE '' END ||
    CASE WHEN doc_id % 7 = 0 THEN ' machine learning' ELSE '' END AS text
  FROM documents
), toks AS (
  SELECT doc_id,
    list_filter(str_split_regex(lower(coalesce(text, '')), '\s+'),
                x -> x <> '') AS w
  FROM p
), uni AS (
  SELECT t, count(*) AS c
  FROM (SELECT unnest(w) AS t FROM toks) GROUP BY t
), v AS (
  SELECT count(*)::DOUBLE AS vs FROM uni
), bi AS (
  SELECT w1, w2, count(*) AS c12 FROM (
    SELECT w[i] AS w1, w[i + 1] AS w2
    FROM toks, unnest(generate_series(1, len(w) - 1)) AS g(i)
    WHERE len(w) >= 2
  ) GROUP BY w1, w2
), sc AS (
  SELECT w1, w2,
    ((c12 - 3)::DOUBLE * vs) / (u1.c::DOUBLE * u2.c) AS score
  FROM bi
  JOIN uni u1 ON bi.w1 = u1.t
  JOIN uni u2 ON bi.w2 = u2.t
  CROSS JOIN v
  WHERE c12 >= 3
), ph AS (
  SELECT w1 || chr(31) || w2 AS key FROM sc WHERE score > 0.06
  ORDER BY score DESC, w1, w2 LIMIT 20
), pl AS (
  SELECT coalesce(list(key), []) AS plist FROM ph
), folded AS (
  SELECT doc_id, w,
    CASE WHEN len(w) = 0 THEN ''
         ELSE replace({fold}, chr(1), '') END AS text_phrased
  FROM toks CROSS JOIN pl
)
SELECT doc_id, text_phrased,
  len(w)::BIGINT AS n_tokens,
  CASE WHEN text_phrased = '' THEN 0
       ELSE len(str_split(text_phrased, ' ')) END::BIGINT
    AS n_tokens_phrased
FROM folded
"""


def _quality_model_sql() -> str:
    """DuckDB oracle for quality_model_docs: replant the quality signal
    from the SAME _QM_CLEAN/_QM_JUNK literals, re-derive the q_* features
    from first principles (the proven quality_docs SQL family, unrounded),
    fold the NaN->0 imputation into the degenerate-denominator CASEs, and
    replay sigmoid(w·x + b) with the frozen coefficients in the identical
    left-associated order (coefficients round-trip via '<repr>'::DOUBLE so
    both engines hold the same 64-bit values)."""
    clean = _QM_CLEAN.replace("'", "''")
    junk = _QM_JUNK.replace("'", "''")
    feats = [
        "f_n_chars",
        "f_n_words",
        "f_mean_wlen",
        "f_punct",
        "f_upper",
        "f_stop",
        "f_distinct",
    ]
    margin = f"('{_QM_INTERCEPT!r}'::DOUBLE)"
    for w, f in zip(_QM_COEF, feats):
        margin += f" + ('{w!r}'::DOUBLE) * {f}"
    stops = (
        "'the','and','of','to','a','in','is','it','you','that','was',"
        "'for','on','are','with','as','this','have','be'"
    )
    return rf"""
WITH p AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0 THEN text || '{clean}'
         ELSE text || '{junk}' END AS text,
    CASE WHEN doc_id % 2 = 0 THEN (1.0::DOUBLE) ELSE (0.0::DOUBLE) END AS label
  FROM documents
), b AS (
  SELECT doc_id, label,
    length(text) AS n_chars,
    list_filter(regexp_split_to_array(lower(text), '\s+'), w -> length(w) > 0) AS words,
    length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS punct,
    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_n
  FROM p
), m AS (
  SELECT doc_id, label,
    n_chars::DOUBLE AS f_n_chars,
    len(words)::DOUBLE AS f_n_words,
    CASE WHEN len(words) = 0 THEN (0.0::DOUBLE)
         ELSE list_sum(list_transform(words, w -> length(w)))::DOUBLE / len(words) END AS f_mean_wlen,
    CASE WHEN n_chars = 0 THEN (0.0::DOUBLE)
         ELSE punct::DOUBLE / n_chars END AS f_punct,
    CASE WHEN n_chars = 0 THEN (0.0::DOUBLE)
         ELSE upper_n::DOUBLE / n_chars END AS f_upper,
    CASE WHEN len(words) = 0 THEN (0.0::DOUBLE)
         ELSE len(list_filter(words, w -> w IN ({stops})))::DOUBLE / len(words) END AS f_stop,
    CASE WHEN len(words) = 0 THEN (0.0::DOUBLE)
         ELSE len(list_distinct(words))::DOUBLE / len(words) END AS f_distinct
  FROM b
), s AS (
  SELECT doc_id, label,
    (1.0::DOUBLE) / ((1.0::DOUBLE) + exp(-({margin}))) AS prob
  FROM m
)
SELECT doc_id, label, round(prob, 6) AS q_model_prob, prob >= 0.5 AS kept
FROM s
"""


def oracle_sql() -> dict[str, str]:
    verbosity = f"""
WITH per_doc AS (
  SELECT source, str_split(coalesce(text, ''), ' ') AS words FROM documents
), turn AS (
  SELECT source,
         len(words) AS wc,
         list_sum(list_transform(words, w -> length(w))) AS len_sum,
         len(list_filter(words, w -> length(w) > 6)) AS long_ct
  FROM per_doc
), turn_agg AS (
  SELECT source,
         round(avg(wc), 6) AS wc_mean,
         round(median(wc)::double, 6) AS wc_median,
         round(stddev_pop(wc), 6) AS wc_stdev,
         round(min(wc)::double, 6) AS wc_min,
         round(max(wc)::double, 6) AS wc_max,
         round(sum(wc)::double, 6) AS total_count,
         round(sum(long_ct)::double / sum(wc), 6) AS lw_count,
         round(sum(len_sum)::double / sum(wc), 6) AS word_len
  FROM turn GROUP BY source
), word AS (
  SELECT source, {_SYLL.format(w='w')} AS syll
  FROM (SELECT source, unnest(words) AS w FROM per_doc)
), word_agg AS (
  SELECT source,
         round(avg(syll), 6) AS syll_mean,
         round(median(syll)::double, 6) AS syll_median,
         round(stddev_pop(syll), 6) AS syll_stdev,
         round(min(syll)::double, 6) AS syll_min,
         round(max(syll)::double, 6) AS syll_max
  FROM word GROUP BY source
)
SELECT * FROM turn_agg JOIN word_agg USING (source)
"""

    lexdiv = """
WITH d AS (
  SELECT doc_id, str_split(coalesce(text, ''), ' ') AS words,
         len(str_split(coalesce(text, ''), ' ')) AS n
  FROM documents
), m AS (
  SELECT doc_id, n, words,
    round(CASE WHEN n >= 10 THEN list_sum(list_transform(generate_series(1, n-9),  i -> len(list_distinct(words[i:i+9]))))::DOUBLE / (10.0 * (n-9))
         ELSE len(list_distinct(words))/(n*1.0) END, 6) AS MATTR_10,
    round(CASE WHEN n >= 25 THEN list_sum(list_transform(generate_series(1, n-24), i -> len(list_distinct(words[i:i+24]))))::DOUBLE / (25.0 * (n-24))
         ELSE len(list_distinct(words))/(n*1.0) END, 6) AS MATTR_25,
    round(CASE WHEN n >= 50 THEN list_sum(list_transform(generate_series(1, n-49), i -> len(list_distinct(words[i:i+49]))))::DOUBLE / (50.0 * (n-49))
         ELSE len(list_distinct(words))/(n*1.0) END, 6) AS MATTR_50
  FROM d
), counts AS (
  SELECT doc_id, count(*) AS v, sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS v1, sum(c) AS n
  FROM (SELECT doc_id, w, count(*) AS c
        FROM (SELECT doc_id, unnest(words) AS w FROM d) GROUP BY doc_id, w)
  GROUP BY doc_id
)
SELECT m.doc_id, MATTR_10, MATTR_25, MATTR_50,
       round(100 * ln(counts.n / (1 - v1 / (v + 1e-5))), 6) AS HS
FROM m JOIN counts ON m.doc_id = counts.doc_id
"""

    nonverbal = """
WITH per_doc AS (
  SELECT lang, str_split(trim(text), ' ') AS toks FROM documents
), agg AS (
  SELECT lang, sum(len(toks)) AS total,
         sum(len(list_filter(toks, t -> t = '[laughter]'))) AS c_laughter,
         sum(len(list_filter(toks, t -> t = '[noise]'))) AS c_noise,
         sum(len(list_filter(toks, t -> t = '<unk>'))) AS c_unk
  FROM per_doc GROUP BY lang
)
SELECT lang,
       round(c_laughter::double / total, 6) AS laughter,
       round(c_noise::double / total, 6) AS noise,
       round(c_unk::double / total, 6) AS unk
FROM agg
"""

    token_counts = r"""
SELECT doc_id,
  len(list_filter(regexp_split_to_array(lower(text), '\s+'), w -> length(w) > 0)) AS n_words,
  len(regexp_extract_all(text, $re$'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\sA-Za-z0-9]+|\s+$re$)) AS n_tokens_bpe
FROM documents
"""

    _sw = {
        "en": "'the','and','of','to','a','in','is','it','you','that','was','for','on','are','with','as','this','have','be'",
        "es": "'el','la','de','que','y','en','un','una','es','se','no','los','las','por','con','para','como','su'",
        "fr": "'le','la','de','et','un','une','est','que','les','des','en','du','il','elle','pour','dans','ce','pas'",
        "de": "'der','die','das','und','ist','ein','eine','zu','den','von','mit','nicht','sich','auf','es','ich','auch'",
    }
    langid = rf"""
WITH w AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(lower(text), '\s+'), x -> length(x) > 0) AS words
  FROM documents
), h AS (
  SELECT doc_id,
    len(list_filter(words, x -> x IN ({_sw['en']}))) AS h_en,
    len(list_filter(words, x -> x IN ({_sw['es']}))) AS h_es,
    len(list_filter(words, x -> x IN ({_sw['fr']}))) AS h_fr,
    len(list_filter(words, x -> x IN ({_sw['de']}))) AS h_de
  FROM w
), g AS (
  SELECT doc_id, list_aggregate([
      {{'hits': h_en, 'lang': 'en'}}, {{'hits': h_es, 'lang': 'es'}},
      {{'hits': h_fr, 'lang': 'fr'}}, {{'hits': h_de, 'lang': 'de'}}
    ], 'max') AS best
  FROM h
)
SELECT doc_id, CASE WHEN best.hits > 0 THEN best.lang ELSE 'und' END AS lang_pred FROM g
"""

    fingerprint = f"""
SELECT doc_id, md5({_NORM.format(c='text')}) AS fingerprint_md5 FROM documents
"""

    exact_dedup = f"""
WITH h AS (SELECT doc_id, md5(coalesce({_NORM.format(c='text')}, '')) AS fp
           FROM documents)
SELECT min(doc_id) AS doc_id FROM h GROUP BY fp
"""

    def jaccard_sql(threshold: float) -> str:
        return f"""
WITH d AS (
  SELECT doc_id, str_split({_NORM.format(c='text')}, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id AS id, unnest({_SHINGLES3.format(w='w')}) AS s FROM d
), sizes AS (
  SELECT id, count(*) AS sz FROM sh GROUP BY id
), common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       round(c::double / (sa.sz + sb.sz - c), 6) AS jaccard
FROM common
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE c::double / (sa.sz + sb.sz - c) >= {threshold}
"""

    jaccard_pairs = jaccard_sql(0.6)

    # dedup clustering: same 0.6-Jaccard pair set, resolved to components by
    # a recursive transitive closure; cluster_id = min reachable doc id.
    dedup_clusters = f"""
WITH RECURSIVE d AS (
  SELECT doc_id, str_split({_NORM.format(c='text')}, ' ') AS w FROM documents
), sh AS (
  SELECT doc_id AS id, unnest({_SHINGLES3.format(w='w')}) AS s FROM d
), sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY id),
common AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS c
  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id GROUP BY a.id, b.id
), pairs AS (
  SELECT id_a, id_b FROM common
  JOIN sizes sa ON sa.id = id_a JOIN sizes sb ON sb.id = id_b
  WHERE c::double / (sa.sz + sb.sz - c) >= 0.6
), sym AS (
  SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT u, u AS v FROM (SELECT DISTINCT u FROM sym)
  UNION
  SELECT s.u, r.v FROM sym s JOIN reach r ON s.v = r.u
), comp AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u)
SELECT doc.doc_id, coalesce(comp.cluster_id, doc.doc_id) AS cluster_id
FROM documents doc LEFT JOIN comp ON doc.doc_id = comp.doc_id
"""
    # chunking: same 1-based start/stride arithmetic as ops/chunk.py
    # (stride 56 = 64 - 8; redundant trailing starts filtered; 0-token docs
    # emit nothing; chunk_idx = (start-1) // stride, valid because the
    # filter only removes a suffix of the start list)
    chunk_docs = r"""
WITH w AS (
  SELECT doc_id,
    list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
  FROM documents
), s AS (
  SELECT doc_id, w,
    unnest(list_filter(generate_series(1, len(w), 56),
                       s -> s = 1 OR s + 8 <= len(w))) AS st
  FROM w WHERE len(w) > 0
)
SELECT doc_id,
  ((st - 1) // 56)::INT AS chunk_idx,
  array_to_string(w[st:st+63], ' ') AS chunk_text,
  least(64, len(w) - st + 1)::INT AS n_tokens
FROM s
"""

    # hash split: identical md5-threshold expression, thresholds generated
    # from the same _hex_threshold so the two engines cannot drift
    from feature_extraction_spark.ops.chunk import _hex_threshold

    t_train = _hex_threshold(0.8)
    t_val = _hex_threshold(0.9)
    hash_split_docs = f"""
WITH h AS (
  SELECT doc_id, md5(source || chr(31) || 'r2') AS hh FROM documents
)
SELECT doc_id,
  CASE WHEN hh < '{t_train}' THEN 'train'
       WHEN hh < '{t_val}' THEN 'val'
       ELSE 'test' END AS split
FROM h
"""

    # mixture sampling: per-source md5 thresholds generated from the same
    # rate table and _hex_threshold as the Spark op
    mix_cases = " ".join(
        f"WHEN source = '{g}' AND md5(doc_id::VARCHAR || chr(31) || 'mix-r2')"
        f" < '{_hex_threshold(r)}' THEN TRUE"
        for g, r in _MIX_RATES.items()
    )
    mixture_docs = f"""
SELECT doc_id, source FROM documents
WHERE CASE {mix_cases} ELSE FALSE END
"""

    # target encoding: identical split expression + identical smoothed-mean
    # arithmetic (round-4 per the _r4 sums lesson); the global mean inside
    # the formula is UNrounded, matching ops/encode.fit_target_encoder
    t_te = _hex_threshold(0.8)
    target_encode_events = f"""
WITH s AS (
  SELECT event_id, event_type, value,
    CASE WHEN md5(user_id::VARCHAR || chr(31) || 'te-r3') < '{t_te}'
         THEN 'train' ELSE 'eval' END AS split
  FROM events
), pc AS (
  SELECT event_type, count(value) AS n, sum(value) AS sm
  FROM s WHERE split = 'train' GROUP BY event_type
), g AS (
  SELECT sum(sm) / sum(n) AS gm FROM pc
), enc AS (
  SELECT event_type, round((sm + 20.0 * gm) / (n + 20.0), 4) AS te_value
  FROM pc, g
)
SELECT s.event_id, s.event_type, s.split,
  coalesce(enc.te_value, (SELECT round(gm, 4) FROM g)) AS te
FROM s LEFT JOIN enc USING (event_type)
"""

    # quantile binning: DuckDB quantile_cont == Spark percentile (type-7);
    # edges rounded to 4 decimals on BOTH sides before bucketing, so the
    # bucket boundary is the same float in the two engines
    quantile_bin_events = """
WITH e AS (
  SELECT list_transform(
           quantile_cont(value::DOUBLE, [0.125, 0.25, 0.375, 0.5,
                                         0.625, 0.75, 0.875]),
           x -> round(x, 4)) AS edges
  FROM events
)
SELECT event_type,
  CASE WHEN value IS NULL OR isnan(value) THEN NULL
       ELSE len(list_filter(e.edges, x -> value::DOUBLE > x)) END AS bin,
  count(*) AS n,
  round(avg(value), 4) AS val_mean
FROM events, e
GROUP BY event_type, bin
"""

    # feature cross: identical length-prefixed md5 -> first-32-bits -> mod
    feature_cross_events = """
WITH b AS (
  SELECT event_type, user_id % 7 AS mod7,
    CAST('0x' || substr(
      md5(concat(length(event_type)::VARCHAR, ':', event_type, chr(31),
                 length((user_id % 7)::VARCHAR)::VARCHAR, ':',
                 (user_id % 7)::VARCHAR) || chr(31) || 'fx-r3'),
      1, 8) AS BIGINT) % 64 AS cross_bucket
  FROM events
)
SELECT cross_bucket::INT AS cross_bucket, count(*) AS n,
  count(DISTINCT (event_type, mod7)) AS n_tuples
FROM b GROUP BY cross_bucket
"""

    # A-ES weighted sample: u from the first 13 md5 hex digits (52 bits —
    # exact in a double and a BIGINT on both engines), priority ln(u)/w
    weighted_sample_docs = """
SELECT doc_id, n_chars,
  round(ln((CAST('0x' || substr(
              md5(doc_id::VARCHAR || chr(31) || 'ws-r3'), 1, 13)
            AS BIGINT) + 0.5) / 4503599627370496.0) / n_chars, 6) AS pri
FROM documents
WHERE n_chars > 0
ORDER BY ln((CAST('0x' || substr(
              md5(doc_id::VARCHAR || chr(31) || 'ws-r3'), 1, 13)
            AS BIGINT) + 0.5) / 4503599627370496.0) / n_chars DESC
LIMIT 50
"""

    # temporal embargo split, audited in row mode (label per event ts) and
    # entity mode (label per user from its min/max ts; straddlers embargo).
    # NULL-ts convention mirrors ops/chunk.py temporal_split exactly: a row
    # with NULL ts (row mode) or an entity whose EVERY ts is NULL (entity
    # mode; min/max skip NULLs) gets a NULL split, never a silent
    # 'test'/'embargo' — exercised by tests/test_chunk_split.py on synth
    # data with planted NULL timestamps (testdata events have none).
    temporal_split_events = """
WITH b AS (
  SELECT user_id,
    CASE WHEN max(ts) IS NULL THEN NULL
         WHEN max(ts) < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
         WHEN min(ts) >= TIMESTAMP '2024-01-22 00:00:00' THEN 'test'
         ELSE 'embargo' END AS split
  FROM events GROUP BY user_id
), r AS (
  SELECT CASE WHEN ts IS NULL THEN NULL
              WHEN ts < TIMESTAMP '2024-01-20 00:00:00' THEN 'train'
              WHEN ts < TIMESTAMP '2024-01-22 00:00:00' THEN 'embargo'
              ELSE 'test' END AS split,
         user_id, value
  FROM events
)
SELECT 'row' AS mode, split, count(*) AS n_events,
  count(DISTINCT user_id) AS n_users, round(sum(value), 4) AS sum_value
FROM r GROUP BY split
UNION ALL
SELECT 'entity' AS mode, b.split, count(*) AS n_events,
  count(DISTINCT e.user_id) AS n_users, round(sum(e.value), 4) AS sum_value
FROM events e JOIN b USING (user_id)
GROUP BY b.split
"""

    # minhash / simhash driver queries are candidate-generation + exact
    # Jaccard verification at threshold 0.8 with full-recall configs
    # (verified at sf0.001/sf0.01), so their value-level oracle is the
    # exact Jaccard pair set at 0.8.
    jaccard_pairs_08 = jaccard_sql(0.8)

    asof = """
WITH p AS (
  SELECT user_id, ts, max(value) AS pval FROM events
  WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT e.event_id,
       round(p.pval, 6) AS purchase_value,
       epoch_us(p.ts) AS purchase_ts_us
FROM events e ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND e.ts >= p.ts
"""

    asof_forward = """
WITH p AS (
  SELECT user_id, ts, max(value) AS pval FROM events
  WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT e.event_id,
       round(p.pval, 6) AS next_purchase_value,
       epoch_us(p.ts) AS next_purchase_ts_us
FROM events e ASOF LEFT JOIN p
  ON e.user_id = p.user_id AND e.ts <= p.ts
"""

    # nearest = closer of the backward/forward ASOF matches; exact-tie
    # CASE prefers backward, mirroring ops/asof.py
    asof_nearest = """
WITH p AS (
  SELECT user_id, ts, max(value) AS pval FROM events
  WHERE event_type = 'purchase' GROUP BY user_id, ts
), b AS (
  SELECT e.event_id, e.ts AS lts, p.pval AS bval, p.ts AS bts
  FROM events e ASOF LEFT JOIN p
    ON e.user_id = p.user_id AND e.ts >= p.ts
), f AS (
  SELECT e.event_id, p.pval AS fval, p.ts AS fts
  FROM events e ASOF LEFT JOIN p
    ON e.user_id = p.user_id AND e.ts <= p.ts
)
SELECT b.event_id,
  round(CASE WHEN f.fts IS NULL OR (b.bts IS NOT NULL AND
          epoch_us(b.lts) - epoch_us(b.bts) <= epoch_us(f.fts) - epoch_us(b.lts))
        THEN b.bval ELSE f.fval END, 6) AS nearest_purchase_value,
  epoch_us(CASE WHEN f.fts IS NULL OR (b.bts IS NOT NULL AND
          epoch_us(b.lts) - epoch_us(b.bts) <= epoch_us(f.fts) - epoch_us(b.lts))
        THEN b.bts ELSE f.fts END) AS nearest_purchase_ts_us
FROM b JOIN f USING (event_id)
"""

    sessionize = """
WITH g AS (
  SELECT user_id, event_id, ts,
    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000 THEN 1 ELSE 0 END AS flag
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts,
    sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, session_id::int AS session_id, count(*) AS n_events,
       epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us
FROM s GROUP BY user_id, session_id
"""

    session_stats = """
WITH g AS (
  SELECT user_id, event_id, ts, event_type, value,
    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 3600000000 THEN 1 ELSE 0 END AS flag
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, event_type, value,
    sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, session_id::int AS session_id,
  count(*) AS n_events,
  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchases,
  round(avg(value), 4) AS val_mean,
  round(stddev_pop(value), 4) AS val_std
FROM s GROUP BY user_id, session_id
"""

    latency = """
WITH g AS (
  SELECT user_id,
    (epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)))
      / 1000000.0 AS gap_s
  FROM events
)
SELECT user_id,
  round(max(gap_s), 4) AS gap_max, round(min(gap_s), 4) AS gap_min,
  round(avg(gap_s), 4) AS gap_mean, round(median(gap_s)::double, 4) AS gap_med,
  round(stddev_pop(gap_s), 4) AS gap_std, count(gap_s)::double AS gap_count
FROM g WHERE gap_s IS NOT NULL GROUP BY user_id
"""

    rolling = """
SELECT event_id,
  count(*) OVER w AS roll_cnt_1h,
  round(avg(value) OVER w, 4) AS roll_val_avg_1h,
  (sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER w)::BIGINT AS roll_purchases_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

    backfill = """
SELECT event_id,
  round(last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
    OVER (PARTITION BY user_id ORDER BY ts, event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS last_purchase_value
FROM events
"""

    transitions = """
WITH t AS (
  SELECT user_id,
    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
    event_type AS cur
  FROM events
)
SELECT user_id, prev || '->' || cur AS transition, count(*) AS n_transitions
FROM t WHERE prev IS NOT NULL GROUP BY user_id, prev, cur
"""

    pos_docs = _pos_docs_sql()

    quality = r"""
WITH b AS (
  SELECT doc_id, text,
    length(text) AS n_chars,
    list_filter(regexp_split_to_array(lower(text), '\s+'), w -> length(w) > 0) AS words,
    length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS punct,
    length(regexp_replace(text, '[^A-Z]', '', 'g')) AS upper_n
  FROM documents
), m AS (
  SELECT doc_id, n_chars, len(words) AS n_words,
    CASE WHEN len(words) = 0 THEN 'nan'::double
         ELSE list_sum(list_transform(words, w -> length(w)))::double / len(words) END AS mean_wlen,
    CASE WHEN n_chars = 0 THEN 'nan'::double ELSE punct::double / n_chars END AS punct_ratio,
    CASE WHEN n_chars = 0 THEN 'nan'::double ELSE upper_n::double / n_chars END AS upper_ratio,
    CASE WHEN len(words) = 0 THEN 'nan'::double
         ELSE len(list_filter(words, w -> w IN ('the','and','of','to','a','in','is','it','you','that','was','for','on','are','with','as','this','have','be')))::double / len(words) END AS stop_ratio,
    CASE WHEN len(words) = 0 THEN 'nan'::double
         ELSE len(list_distinct(words))::double / len(words) END AS distinct_ratio
  FROM b
)
SELECT doc_id,
  n_chars::double AS q_n_chars,
  n_words::double AS q_n_words,
  round(mean_wlen, 6) AS q_mean_word_len,
  round(punct_ratio, 6) AS q_punct_ratio,
  round(upper_ratio, 6) AS q_upper_ratio,
  round(stop_ratio, 6) AS q_stopword_ratio,
  round(distinct_ratio, 6) AS q_distinct_ratio,
  -- NaN guards mirror the Spark op: reward terms get 0 credit on NaN,
  -- the punctuation penalty term gets full penalty on NaN
  round(0.25 * least((CASE WHEN isnan(stop_ratio) THEN 0.0 ELSE stop_ratio END) * 3, 1.0)
      + 0.25 * least((CASE WHEN isnan(distinct_ratio) THEN 0.0 ELSE distinct_ratio END) * 1.25, 1.0)
      + 0.25 * (1.0 - least((CASE WHEN isnan(punct_ratio) THEN 1.0 ELSE punct_ratio END) * 4, 1.0))
      + 0.25 * (CASE WHEN mean_wlen BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END), 6) AS q_score
FROM m
"""

    daily_stats = """
SELECT user_id, strftime(ts::DATE, '%Y-%m-%d') AS day,
  count(*) AS n_events,
  sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchases,
  round(avg(value), 4) AS val_mean,
  round(stddev_pop(value), 4) AS val_std,
  round(median(value)::double, 4) AS val_med
FROM events GROUP BY user_id, ts::DATE
"""

    asof_tolerance = """
WITH p AS (
  SELECT user_id, ts, max(value) AS pval FROM events
  WHERE event_type = 'purchase' GROUP BY user_id, ts
), j AS (
  SELECT e.event_id, e.ts AS lts, p.ts AS rts, p.pval
  FROM events e ASOF LEFT JOIN p
    ON e.user_id = p.user_id AND e.ts >= p.ts
)
SELECT event_id,
  CASE WHEN epoch_us(lts) - epoch_us(rts) <= 86400000000 THEN round(pval, 6) END
    AS purchase_value,
  CASE WHEN epoch_us(lts) - epoch_us(rts) <= 86400000000 THEN epoch_us(rts) END
    AS purchase_ts_us
FROM j
"""

    # Same closed-form word_timing synthesis as q_timing_stats_events, with
    # identical double-arithmetic op order (cast-to-double then * 1e-4 etc).
    timing = """
WITH e AS (
  SELECT user_id, event_id,
    (event_id % 5 + 1)::BIGINT AS n,
    ((event_id % 3) * 500000)::BIGINT AS g,
    ((event_id % 2) * 300000)::BIGINT AS l
  FROM events
), seg AS (
  SELECT user_id, event_id, n, g, l,
    (l + n * 2000000 + (n - 1) * g + 400000)::DOUBLE * 1e-7 AS seg_sec
  FROM e
), seg2 AS (
  -- NULL-word_timing events (%101) keep their segment row but score
  -- wps 0 (no words observed)
  SELECT *, (CASE WHEN event_id % 101 = 0 THEN 0 ELSE n END) / seg_sec
    AS wps_seg
  FROM seg
), turn_agg AS (
  SELECT user_id,
    max(seg_sec) AS segments_max, min(seg_sec) AS segments_min,
    avg(seg_sec) AS segments_mean, median(seg_sec) AS segments_med,
    stddev_pop(seg_sec) AS segments_std,
    max(wps_seg) AS wps_max, min(wps_seg) AS wps_min,
    avg(wps_seg) AS wps_mean, median(wps_seg) AS wps_med,
    stddev_pop(wps_seg) AS wps_std,
    sum(seg_sec) AS spk_duration,
    count(*)::DOUBLE AS segment_count,
    sum(CASE WHEN seg_sec <= 1.0 THEN 1 ELSE 0 END)::DOUBLE AS short_utt_count
  FROM seg2 GROUP BY user_id
), word_rows AS (
  SELECT user_id, (2000000)::DOUBLE * 1e-4 AS wd
  FROM e, LATERAL (SELECT unnest(generate_series(1, e.n)) ) _u
  WHERE e.event_id % 101 <> 0
), word_agg AS (
  SELECT user_id,
    max(wd) AS words_max, min(wd) AS words_min, avg(wd) AS words_mean,
    median(wd) AS words_med, stddev_pop(wd) AS words_std,
    count(*)::DOUBLE AS word_count
  FROM word_rows GROUP BY user_id
), sil_rows AS (
  SELECT user_id, l::DOUBLE * 1e-4 AS sd FROM e
  WHERE l <> 0 AND event_id % 101 <> 0
  UNION ALL
  SELECT user_id, g::DOUBLE * 1e-4 AS sd
  FROM e, LATERAL (SELECT unnest(generate_series(1, e.n - 1))) _u
  WHERE g <> 0 AND e.event_id % 101 <> 0
  UNION ALL
  SELECT user_id, (400000)::DOUBLE * 1e-4 AS sd FROM e
  WHERE event_id % 101 <> 0
), sil_agg AS (
  SELECT user_id,
    max(sd) AS silences_max, min(sd) AS silences_min, avg(sd) AS silences_mean,
    median(sd) AS silences_med, stddev_pop(sd) AS silences_std,
    count(*)::DOUBLE AS sil_count,
    sum(sd) * 0.001 AS sil_duration
  FROM sil_rows GROUP BY user_id
), j AS (
  SELECT t.*, w.* EXCLUDE (user_id), s.* EXCLUDE (user_id),
         600000.0 * 1e-3 AS total_duration
  FROM turn_agg t
  JOIN word_agg w ON t.user_id = w.user_id
  JOIN sil_agg s ON t.user_id = s.user_id
)
SELECT user_id,
  round(segments_max, 6) AS segments_max, round(segments_min, 6) AS segments_min,
  round(segments_mean, 4) AS segments_mean, round(segments_med, 6) AS segments_med,
  round(segments_std, 4) AS segments_std,
  round(wps_max, 6) AS wps_max, round(wps_min, 6) AS wps_min,
  round(wps_mean, 4) AS wps_mean, round(wps_med, 6) AS wps_med,
  round(wps_std, 4) AS wps_std,
  round(words_max, 6) AS words_max, round(words_min, 6) AS words_min,
  round(words_mean, 4) AS words_mean, round(words_med, 6) AS words_med,
  round(words_std, 4) AS words_std,
  round(silences_max, 6) AS silences_max, round(silences_min, 6) AS silences_min,
  round(silences_mean, 6) AS silences_mean, round(silences_med, 6) AS silences_med,
  round(silences_std, 4) AS silences_std,
  round(spk_duration, 4) AS spk_duration,
  round(segment_count, 6) AS segment_count,
  round(short_utt_count, 6) AS short_utt_count,
  round(word_count, 6) AS word_count,
  round(sil_count, 6) AS sil_count,
  round(sil_duration, 4) AS sil_duration,
  round(spk_duration / sil_duration, 4) AS spk_sil_ratio,
  round(sil_count / spk_duration, 4) AS sps,
  round(word_count / spk_duration, 4) AS wps,
  round(total_duration, 6) AS total_duration,
  round(spk_duration / total_duration, 6) AS spk_ratio,
  round(sil_duration / total_duration, 6) AS sil_ratio,
  round(segment_count / (total_duration / 60.0), 4) AS segs_per_min,
  round(short_utt_count / (total_duration / 60.0), 4) AS short_utts_per_min
FROM j
"""

    hyp_mean = """
WITH w AS (
  SELECT doc_id, text, str_split(text, ' ') AS words FROM documents
), h AS (
  SELECT doc_id, text AS htext FROM w
  UNION ALL
  SELECT doc_id, array_to_string(words[2:len(words)], ' ') FROM w
  UNION ALL
  SELECT doc_id, array_to_string(words[1:len(words)-1], ' ') FROM w
), f AS (
  SELECT doc_id,
    len(str_split(htext, ' '))::DOUBLE AS n_words,
    length(htext)::DOUBLE AS n_chars
  FROM h
)
SELECT doc_id, round(avg(n_words), 6) AS n_words,
       round(avg(n_chars), 6) AS n_chars
FROM f GROUP BY doc_id
"""

    # aggregates ignore NULL scores; a user whose every value is NULL keeps
    # a row with NaN stats (mirrors confidence_stats' null-object contract)
    conf = """
SELECT user_id,
  CASE WHEN count(value) = 0 THEN 'nan'::DOUBLE ELSE round(max(value), 6) END AS conf_max,
  CASE WHEN count(value) = 0 THEN 'nan'::DOUBLE ELSE round(avg(value), 6) END AS conf_mean,
  CASE WHEN count(value) = 0 THEN 'nan'::DOUBLE ELSE round(stddev_pop(value), 6) END AS conf_std,
  CASE WHEN count(value) = 0 THEN 'nan'::DOUBLE ELSE round(min(value), 6) END AS conf_min,
  CASE WHEN count(value) = 0 THEN 'nan'::DOUBLE ELSE round(median(value)::DOUBLE, 6) END AS conf_med
FROM events GROUP BY user_id
"""

    multilevel = """
WITH e AS (
  SELECT user_id::VARCHAR AS conv_id, user_id::VARCHAR AS subject_id,
         ts::DATE AS d, date_trunc('week', ts)::DATE AS w, value
  FROM events
)
SELECT
  CASE WHEN conv_id IS NOT NULL THEN 'conv'
       WHEN d IS NOT NULL THEN 'day'
       WHEN w IS NOT NULL THEN 'week'
       ELSE 'subject' END AS level,
  conv_id, subject_id, strftime(d, '%Y-%m-%d') AS day,
  strftime(w, '%Y-%m-%d') AS week,
  count(*) AS n_events,
  round(sum(value), 3) AS val_sum
FROM e
GROUP BY GROUPING SETS ((conv_id), (subject_id, d), (subject_id, w), (subject_id))
"""

    tpch_q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < '1995-03-15'
  AND l_shipdate > '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""

    tpch_q1 = """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 3) AS sum_qty,
  round(sum(l_extendedprice), 3) AS sum_base_price,
  round(avg(l_quantity), 6) AS avg_qty,
  round(avg(l_discount), 6) AS avg_disc,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

    cosine_topk = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id,
  round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)), 6) AS cosine
FROM embeddings
ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) DESC, vec_id
LIMIT 10
"""

    neardup_emb = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
  round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
"""

    knn = """
WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3),
scored AS (
  SELECT q.q_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cosine
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT q_id, vec_id,
         row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
  FROM scored
)
SELECT q_id, vec_id, rank FROM ranked WHERE rank <= 5
"""

    vocab_filter = """
WITH w AS (
  SELECT doc_id,
    unnest(list_distinct(list_filter(str_split(text, ' '), x -> x <> ''))) AS word
  FROM documents
), v AS (
  SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word
), n AS (SELECT count(DISTINCT doc_id) AS nd FROM documents)
SELECT word, df FROM v, n WHERE df >= 5 AND df <= 0.5 * nd
"""

    truecase = """
WITH lw AS (
  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS w
  FROM documents
), lflat AS (
  SELECT t['pos'] AS pos, t['form'] AS form, t['prev'] AS prev
  FROM (SELECT unnest(list_transform(generate_series(1, len(w)),
                i -> {'pos': i, 'form': w[i],
                      'prev': CASE WHEN i > 1 THEN w[i-1] ELSE NULL END}))
          AS t FROM lw)
), learn AS (
  SELECT lower(form) AS lword, form, count(*) AS n
  FROM lflat
  WHERE pos > 1 AND NOT regexp_matches(prev, '[.!?]$')
  GROUP BY lower(form), form
), model AS (
  SELECT lword, form FROM (
    SELECT lword, form,
           row_number() OVER (PARTITION BY lword ORDER BY n DESC, form ASC) AS rk
    FROM learn) WHERE rk = 1
), aflat AS (
  SELECT doc_id, t['pos'] AS pos, t['form'] AS form
  FROM (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)),
                i -> {'pos': i, 'form': w[i]})) AS t
        FROM (SELECT doc_id, str_split(text, ' ') AS w FROM documents))
), applied AS (
  SELECT a.doc_id, a.pos, coalesce(m.form, a.form) AS out_form
  FROM aflat a LEFT JOIN model m ON lower(a.form) = m.lword
)
SELECT doc_id, coalesce(string_agg(out_form, ' ' ORDER BY pos), '') AS text_truecased
FROM applied GROUP BY doc_id
"""

    from feature_extraction_spark.ops.textquality import PII_PATTERNS

    pii_inner = (
        "text || ' contact u' || doc_id || '@example.com or 192.168.' || "
        "(doc_id % 256) || '.7 ssn 123-45-6789 tel +1 555 867 5309'"
    )
    pii_expr = pii_inner
    for _name, pat, repl in PII_PATTERNS:
        esc = pat.replace("'", "''").replace("\\", "\\")
        pii_expr = f"regexp_replace({pii_expr}, '{esc}', '{repl}', 'g')"
    pii_scrub = f"SELECT doc_id, {pii_expr} AS text_scrubbed FROM documents"

    sh8 = _shingles_sql("str_split(" + _NORM.format(c="text") + ", ' ')", 8)
    decontaminate = f"""
WITH d AS (
  SELECT doc_id, {sh8} AS sh FROM documents
), bench AS (
  SELECT DISTINCT unnest(sh) AS s FROM d WHERE doc_id % 37 = 0
), doc_sh AS (
  SELECT doc_id, unnest(sh) AS s FROM d
), contaminated AS (
  SELECT DISTINCT doc_id FROM doc_sh JOIN bench USING (s)
)
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)
"""

    # graded variant: raw-string gram match == the engine's xxhash64 match
    # up to hash collisions; n_matched/n_grams is an integer-ratio double,
    # bit-identical across engines (no rounding needed)
    contamination_frac = f"""
WITH d AS (
  SELECT doc_id, {sh8} AS sh FROM documents
), bench AS (
  SELECT DISTINCT unnest(sh) AS s FROM d WHERE doc_id % 37 = 0
), doc_sh AS (
  SELECT doc_id, unnest(sh) AS s FROM d
), scored AS (
  SELECT doc_id, count(*) AS n_grams,
         -- ::BIGINT: duckdb sums ints to HUGEINT, which pandas floats
         sum(CASE WHEN s IN (SELECT s FROM bench) THEN 1 ELSE 0 END)::BIGINT
           AS n_matched
  FROM doc_sh GROUP BY doc_id
)
SELECT doc_id, n_grams, n_matched,
       n_matched::DOUBLE / n_grams AS contamination
FROM scored
"""

    # planted-clone construction mirrors q_semdedup_emb exactly; at
    # threshold 0.9 the pair set is the clone pairs (max natural cosine
    # 0.51/0.60 at sf0.01/sf0.1), so the min-id keep rule is clustering-free
    semdedup_emb = """
WITH aug AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings
  WHERE vec_id % 10 = 0
), losers AS (
  SELECT DISTINCT b.vec_id
  FROM aug a JOIN aug b ON a.vec_id < b.vec_id
  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.9
)
SELECT vec_id FROM aug WHERE vec_id NOT IN (SELECT vec_id FROM losers)
"""

    stratified_sample = """
WITH ranked AS (
  SELECT doc_id, source,
    row_number() OVER (
      PARTITION BY source
      ORDER BY md5(doc_id::VARCHAR || chr(31) || 'strat-r2'), doc_id
    ) AS rk
  FROM documents
)
SELECT doc_id, source FROM ranked WHERE rk <= 20
"""

    return {
        "verbosity_docs": verbosity,
        "lexdiv_docs": lexdiv,
        "nonverbal_docs": nonverbal,
        "token_counts_docs": token_counts,
        "langid_docs": langid,
        "fingerprint_docs": fingerprint,
        "exact_dedup_docs": exact_dedup,
        "bpe_apply_docs": _bpe_apply_sql(),
        "pq_codes_emb": _pq_codes_sql(),
        "pq_adc_topk_emb": _pq_adc_sql(),
        "skew_report_events": _SKEW_REPORT_SQL,
        "dsir_weights_docs": _DSIR_WEIGHTS_SQL,
        "dsir_sample_docs": _DSIR_SAMPLE_SQL,
        "sq8_topk_emb": _sq8_topk_sql(),
        "hamming_topk_emb": _hamming_topk_sql(),
        "profile_events": _profile_events_sql(),
        "jaccard_pairs_docs": jaccard_pairs,
        "minhash_pairs_docs": jaccard_pairs_08,
        "simhash_pairs_docs": jaccard_pairs_08,
        # old-half pairs + increment pairs == full pair set (band symmetry)
        "minhash_incremental_docs": jaccard_pairs_08,
        # streaming pairs snapshot == batch pair set (prefix invariant)
        "stream_dedup_docs": jaccard_pairs_08,
        # token-budget mixture rates: same tokenizer as the chunker (no
        # lower()), budget = min over specified groups of tokens/share
        "mixture_rates_docs": """
WITH t AS (
  SELECT source, count(*) AS n_docs,
    sum(len(list_filter(str_split_regex(coalesce(text, ''), '\\s+'),
                        x -> x <> '')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
), s AS (
  SELECT *, CASE source WHEN 'src0' THEN 0.4::DOUBLE
                        WHEN 'src1' THEN 0.3::DOUBLE
                        WHEN 'src2' THEN 0.2::DOUBLE
                        WHEN 'src3' THEN 0.1::DOUBLE
            ELSE NULL END AS share
  FROM t
), b AS (SELECT min(n_tokens / share) AS budget FROM s WHERE share > 0)
SELECT source, n_docs, n_tokens, round(share, 6) AS share,
  round(CASE WHEN share IS NULL OR share <= 0 THEN 0.0
        ELSE share * b.budget / n_tokens END, 6) AS rate
FROM s CROSS JOIN b
""",
        # temperature-derived shares: s_g = tok_g^0.3 / sum tok^0.3, then
        # the same no-upsampling budget arithmetic as mixture_rates_docs
        "mixture_temp_docs": """
WITH t AS (
  SELECT source, count(*) AS n_docs,
    sum(len(list_filter(str_split_regex(coalesce(text, ''), '\\s+'),
                        x -> x <> '')))::BIGINT AS n_tokens
  FROM documents GROUP BY source
), s AS (
  SELECT *,
    pow(n_tokens::DOUBLE, 0.3)
      / (SELECT sum(pow(n_tokens::DOUBLE, 0.3)) FROM t) AS share
  FROM t
), b AS (SELECT min(n_tokens / share) AS budget FROM s WHERE share > 0)
SELECT source, n_docs, n_tokens, round(share, 6) AS share,
  round(CASE WHEN share <= 0 OR n_tokens = 0 THEN 0.0
        ELSE share * b.budget / n_tokens END, 6) AS rate
FROM s CROSS JOIN b
""",
        # entropy identity mirrored exactly: H = ln(n) - sum(c ln c)/n
        "entropy_events": """
WITH pc AS (
  SELECT user_id, event_type, count(*)::DOUBLE AS c
  FROM events GROUP BY user_id, event_type
), g AS (
  SELECT user_id, sum(c) AS n, count(*) AS n_cats,
         sum(c * ln(c)) AS clnc, sum(c * c) AS c2
  FROM pc GROUP BY user_id
)
SELECT user_id, n::BIGINT AS n, n_cats,
  round(ln(n) - clnc / n, 4) AS entropy,
  round(CASE WHEN n_cats > 1 THEN (ln(n) - clnc / n) / ln(n_cats::DOUBLE)
        ELSE 'nan'::DOUBLE END, 4) AS norm_entropy,
  round(1.0 - c2 / (n * n), 4) AS gini
FROM g
""",
        # PMI over the bigram space (joint + positional marginals); the
        # top-30 cut orders by the UNROUNDED pmi, ties by (w1, w2)
        "pmi_docs": """
WITH toks AS (
  SELECT doc_id,
    list_filter(str_split_regex(lower(coalesce(text, '')), '\\s+'),
                x -> x <> '') AS w
  FROM documents
), big AS (
  SELECT p[1] AS w1, p[2] AS w2, count(*) AS c12
  FROM (SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
        FROM toks WHERE len(w) >= 2)
  GROUP BY 1, 2
), m1 AS (SELECT w1, sum(c12) AS c1 FROM big GROUP BY w1),
m2 AS (SELECT w2, sum(c12) AS c2 FROM big GROUP BY w2),
n AS (SELECT sum(c12)::DOUBLE AS n2 FROM big),
scored AS (
  SELECT b.w1, b.w2, b.c12, m1.c1, m2.c2,
    ln(b.c12 / n.n2) - ln(m1.c1 / n.n2) - ln(m2.c2 / n.n2) AS pmi_raw
  FROM big b JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN n
  WHERE b.c12 >= 5
)
SELECT w1, w2, c12, c1::BIGINT AS c1, c2::BIGINT AS c2,
  round(pmi_raw, 4) AS pmi,
  round(pmi_raw / -ln(c12 / (SELECT n2 FROM n)), 4) AS npmi
FROM scored
ORDER BY pmi_raw DESC, w1, w2
LIMIT 30
""",
        "asof_purchase": asof,
        "asof_purchase_broadcast": asof,
        "asof_purchase_forward": asof_forward,
        "asof_purchase_nearest": asof_nearest,
        "sessionize_events": sessionize,
        "session_stats_events": session_stats,
        "latency_stats_events": latency,
        "rolling_events_1h": rolling,
        "backfill_purchase": backfill,
        "role_transitions_events": transitions,
        "pos_docs": pos_docs,
        "liwc_docs": _liwc_docs_sql(),
        "quality_docs": quality,
        # frozen-coefficient serving path (r5): sigmoid(w·x+b) replayed
        # over first-principles features — retires the rows-only status;
        # only the TRAINER (iterative L-BFGS) stays SQL-inexpressible
        "quality_model_docs": _quality_model_sql(),
        # gensim-Phrases train+apply over planted collocations (r5):
        # counting + threshold + greedy merge all replayed in SQL
        "phrase_merge_docs": _phrase_merge_sql(),
        "gopher_docs": _gopher_sql(),
        "bm25_topk_docs": _bm25_sql(BM25_QUERY),
        # exact trailing-window quantiles; windowed quantile_cont is the
        # same type-7 interpolation as the engine's sorted-array lerp
        "rolling_median_events": """
SELECT event_id,
  round(quantile_cont(value::DOUBLE, 0.25) OVER w, 4) AS roll_value_q25_10,
  round(quantile_cont(value::DOUBLE, 0.50) OVER w, 4) AS roll_value_q50_10,
  round(quantile_cont(value::DOUBLE, 0.75) OVER w, 4) AS roll_value_q75_10
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
""",
        # ExactSubstr-style duplicate spans, l=8, min_docs=2. The oracle
        # keys on the raw lowered 8-gram string (the engine shuffles its
        # xxhash64 — identity-preserving modulo a ~2^-32 collision bound).
        "dup_spans_docs": """
WITH toks AS (
  SELECT doc_id,
    list_filter(str_split_regex(coalesce(text, ''), '\\s+'), x -> x <> '') AS w
  FROM documents
),
wins AS (
  SELECT doc_id, i AS pos, lower(array_to_string(w[i:i+7], ' ')) AS g
  FROM toks, unnest(range(1, len(w) - 6)) AS t(i)
  WHERE len(w) >= 8
),
dup AS (SELECT g FROM wins GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
hits AS (SELECT doc_id, pos FROM wins WHERE g IN (SELECT g FROM dup)),
isl AS (
  SELECT doc_id, pos,
    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8
         THEN 1 ELSE 0 END AS new
  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sp AS (
  SELECT doc_id, pos,
    sum(new) OVER (PARTITION BY doc_id ORDER BY pos) AS span
  FROM isl
)
SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + 7)::BIGINT AS span_end,
  (max(pos) + 7 - min(pos) + 1)::BIGINT AS span_tokens,
  count(*)::BIGINT AS n_windows
FROM sp GROUP BY doc_id, span
""",
        # duplicate-span removal: keeper = global min (doc, pos) per 8-gram
        "despan_docs": """
WITH toks AS (
  SELECT doc_id, text,
    list_filter(str_split_regex(coalesce(text, ''), '\\s+'), x -> x <> '') AS w
  FROM documents
),
wins AS (
  SELECT doc_id, i AS pos, lower(array_to_string(w[i:i+7], ' ')) AS g
  FROM toks, unnest(range(1, len(w) - 6)) AS t(i)
  WHERE len(w) >= 8
),
dup AS (
  SELECT g, min(row(doc_id, pos)) AS kp
  FROM wins GROUP BY g HAVING count(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT w.doc_id, w.pos
  FROM wins w JOIN dup d ON w.g = d.g
  WHERE NOT (w.doc_id = d.kp[1] AND w.pos = d.kp[2])
),
cov AS (
  SELECT DISTINCT doc_id, unnest(range(pos, pos + 8)) AS tp FROM hits
),
covl AS (SELECT doc_id, list(tp) AS cl FROM cov GROUP BY doc_id)
SELECT t.doc_id,
  CASE WHEN t.text IS NULL THEN NULL ELSE
    -- array_to_string of an EMPTY list is NULL in DuckDB (Spark's
    -- concat_ws gives '') — coalesce for fully-removed docs
    coalesce(array_to_string(
      list_transform(
        list_filter(range(1, len(t.w) + 1),
                    i -> c.cl IS NULL OR NOT list_contains(c.cl, i)),
        i -> t.w[i]),
      ' '), '')
  END AS clean_text,
  (CASE WHEN c.cl IS NULL THEN 0 ELSE len(c.cl) END)::BIGINT
    AS n_removed_tokens
FROM toks t LEFT JOIN covl c USING (doc_id)
""",
        # add-k bigram LM self-scoring (k=0.1); mirrors ops/lm.py exactly:
        # p(w1)=(c1+k)/(T+kV), p(w2|w1)=(c12+k)/(c1+kV), log_ppl=-mean ln p
        "lm_ppl_docs": """
WITH d0 AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT 1000001, NULL
  UNION ALL SELECT 1000002, ''
  UNION ALL SELECT 1000003, '   '
),
toks AS (
  SELECT doc_id,
    list_filter(str_split_regex(lower(coalesce(text, '')), '\\s+'),
                x -> x <> '') AS w
  FROM d0
),
uni AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok
),
stats AS (SELECT sum(c) AS t_tokens, count(*) AS v_vocab FROM uni),
big AS (
  SELECT p[1] AS w1, p[2] AS w2, count(*) AS c
  FROM (SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
        FROM toks WHERE len(w) >= 2)
  GROUP BY 1, 2
),
stream AS (
  SELECT doc_id, 1 AS is_first, w[1] AS w1, NULL AS w2
  FROM toks WHERE len(w) >= 1
  UNION ALL
  SELECT doc_id, 0, p[1], p[2]
  FROM (SELECT doc_id, unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
        FROM toks WHERE len(w) >= 2)
),
scored AS (
  SELECT s.doc_id,
    CASE WHEN s.is_first = 1
      THEN ln((coalesce(u.c, 0) + 0.1) / (st.t_tokens + 0.1 * st.v_vocab))
      ELSE ln((coalesce(b.c, 0) + 0.1) / (coalesce(u.c, 0) + 0.1 * st.v_vocab))
    END AS lp
  FROM stream s
  LEFT JOIN uni u ON u.tok = s.w1
  LEFT JOIN big b ON b.w1 = s.w1 AND b.w2 = s.w2
  CROSS JOIN stats st
),
per AS (SELECT doc_id, sum(lp) AS lps FROM scored GROUP BY doc_id)
SELECT t.doc_id, len(t.w)::BIGINT AS n_tokens,
  round(CASE WHEN len(t.w) > 0 THEN -p.lps / len(t.w)
        ELSE 'nan'::DOUBLE END, 4) AS log_ppl
FROM toks t LEFT JOIN per p USING (doc_id)
""",
        "zscore_events": """
WITH stats AS (
  SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sd
  FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
  round(CASE WHEN sd IS NOT NULL AND sd <> 0 THEN (e.value - mu) / sd
        ELSE 'nan'::DOUBLE END, 4) AS value_norm
FROM events e JOIN stats USING (event_type)
""",
        # capacity >> vocabulary -> MG is exact (max_undercount 0)
        "heavy_hitters_docs": """
WITH toks AS (
  SELECT unnest(list_filter(str_split_regex(lower(coalesce(text, '')), '\\s+'),
                x -> x <> '')) AS term
  FROM documents
)
SELECT term, count(*) AS est_count, 0::BIGINT AS max_undercount
FROM toks GROUP BY term
ORDER BY est_count DESC, term
LIMIT 25
""",
        "daily_stats_events": daily_stats,
        "asof_purchase_tolerance": asof_tolerance,
        "multilevel_events": multilevel,
        "hypothesis_mean_docs": hyp_mean,
        "timing_stats_events": timing,
        "conf_stats_events": conf,
        "tpch_q1": tpch_q1,
        "tpch_q3": tpch_q3,
        "cosine_topk": cosine_topk,
        "knn_join": knn,
        "neardup_pairs_emb": neardup_emb,
        # the LSH query verifies candidates EXACTLY and runs a full-recall
        # config on the driver testdata (verified), so the exact-cosine
        # oracle applies at value level.
        "neardup_pairs_emb_lsh": neardup_emb,
        "graph_docs": _graph_docs_sql(),
        # iterative graph metrics over PLANTED closed-form structures:
        # pure per-row arithmetic on doc_id (see q_graph_planted_docs)
        "graph_planted_docs": """
WITH p AS (
  SELECT doc_id, (doc_id % 3)::INT AS fam, (3 + doc_id % 5)::INT AS n
  FROM documents
)
SELECT doc_id, fam, n,
  round(n::DOUBLE, 6) AS lcc_naive,
  round(CASE WHEN fam = 1 THEN n::DOUBLE ELSE (1.0::DOUBLE) END, 6)
    AS lsc_naive,
  round(CASE WHEN fam = 0 THEN (n - 1)::DOUBLE
             WHEN fam = 1 THEN floor(n / 2.0)
             ELSE (2.0::DOUBLE) END, 6) AS di_naive,
  round(CASE WHEN fam = 0 THEN (n + 1)::DOUBLE / 3
             WHEN fam = 1 THEN
               CASE WHEN n % 2 = 1 THEN (n + 1)::DOUBLE / 4
                    ELSE (n * n)::DOUBLE / (4 * (n - 1)) END
             ELSE ((n - 1) * (n - 1) + 1)::DOUBLE
                  / ((n * (n - 1))::DOUBLE / 2 + 1) END, 6) AS asp_naive
FROM p
""",
        "dedup_clusters_docs": dedup_clusters,
        "chunk_docs": chunk_docs,
        "hash_split_docs": hash_split_docs,
        "mixture_docs": mixture_docs,
        "target_encode_events": target_encode_events,
        "quantile_bin_events": quantile_bin_events,
        "feature_cross_events": feature_cross_events,
        "weighted_sample_docs": weighted_sample_docs,
        "temporal_split_events": temporal_split_events,
        "vocab_filter_docs": vocab_filter,
        "truecase_docs": truecase,
        "pii_scrub_docs": pii_scrub,
        "decontaminate_docs": decontaminate,
        # bloom pre-filter + exact verify == the exact broadcast-hash path
        "decontaminate_bloom_docs": decontaminate,
        "contamination_frac_docs": contamination_frac,
        # linified (8-word lines) + planted footers, then the CCNet keeper
        # rule replayed: row_number per md5(normalized line) ordered
        # (doc_id, line_idx); empty-normalized lines always kept.
        "line_dedup_docs": """
WITH base AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks FROM documents
), built AS (
  SELECT doc_id,
    array_to_string(list_transform(range(0, ((len(toks)-1)//8)+1),
        i -> array_to_string(toks[(i*8+1):(i*8+8)], ' ')), chr(10))
    || chr(10) || 'all rights reserved.'
    || CASE WHEN doc_id % 3 = 0
            THEN chr(10) || 'subscribe to our newsletter.' ELSE '' END
    || CASE WHEN doc_id % 5 = 0
            THEN chr(10) || array_to_string(toks[1:8], ' ') ELSE '' END
    AS t
  FROM base
), l AS (
  SELECT doc_id,
         generate_subscripts(string_split(t, chr(10)), 1) - 1 AS line_idx,
         unnest(string_split(t, chr(10))) AS line
  FROM built
), n AS (
  SELECT doc_id, line_idx, line,
         lower(trim(regexp_replace(line, '\\s+', ' ', 'g'))) AS nrm
  FROM l
), k AS (
  SELECT *, row_number() OVER (
    PARTITION BY md5(nrm) ORDER BY doc_id, line_idx) AS rn
  FROM n
)
SELECT doc_id,
  coalesce(string_agg(CASE WHEN nrm = '' OR rn = 1 THEN line END,
                      chr(10) ORDER BY line_idx), '') AS text_dedup,
  count(*)::BIGINT AS n_lines,
  sum(CASE WHEN nrm = '' OR rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_lines_kept
FROM k GROUP BY doc_id
""",
        # C4 §2.2 replay: line keep = terminal punct + >=5 words + no
        # 'javascript'; page keep = no 'lorem ipsum', no '{', no bad-word
        # token, >=3 kept lines. Same linify device, '.' on i%3<2 lines.
        "c4_filter_docs": """
WITH base AS (
  SELECT doc_id, string_split(coalesce(text, ''), ' ') AS toks FROM documents
), built AS (
  SELECT doc_id,
    array_to_string(list_transform(range(0, ((len(toks)-1)//8)+1),
        i -> array_to_string(toks[(i*8+1):(i*8+8)], ' ') ||
             CASE WHEN i % 3 < 2 THEN '.' ELSE '' END), chr(10))
    || CASE WHEN doc_id % 17 = 0
            THEN chr(10) || 'this page uses javascript for rendering.'
            ELSE '' END
    || CASE WHEN doc_id % 11 = 0
            THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END
    || CASE WHEN doc_id % 13 = 0
            THEN chr(10) || 'config = { enabled }' ELSE '' END
    || CASE WHEN doc_id % 7 = 0
            THEN chr(10) || 'fuck spam spam spam spam.' ELSE '' END
    AS t
  FROM base
), keptl AS (
  SELECT doc_id, t,
    list_filter(string_split(t, chr(10)), l ->
      list_contains(['.', '!', '?', '"'], right(trim(l), 1))
      AND len(list_filter(str_split_regex(trim(l), '\\s+'),
                          x -> x <> '')) >= 5
      AND NOT contains(lower(trim(l)), 'javascript')) AS kl
  FROM built
)
SELECT doc_id,
  (NOT contains(lower(t), 'lorem ipsum')
   AND NOT contains(t, '{')
   AND len(list_intersect(
         list_filter(str_split_regex(lower(t), '\\s+'), x -> x <> ''),
         ['fuck', 'shit', 'porn', 'xxx'])) = 0
   AND len(kl) >= 3) AS kept,
  len(kl)::BIGINT AS n_lines_kept,
  array_to_string(kl, chr(10)) AS text_c4
FROM keptl
""",
        # lm_ppl's value-oracled pipeline + exact rank terciles:
        # floor(3*(rn-1)/n) with (log_ppl, doc_id) tiebreak; NaN (empty
        # docs) sorts greatest in BOTH engines -> tail bucket.
        "ppl_buckets_docs": """
WITH toks AS (
  SELECT doc_id,
    list_filter(str_split_regex(lower(coalesce(text, '')), '\\s+'),
                x -> x <> '') AS w
  FROM documents
),
uni AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest(w) AS tok FROM toks) GROUP BY tok
),
stats AS (SELECT sum(c) AS t_tokens, count(*) AS v_vocab FROM uni),
big AS (
  SELECT p[1] AS w1, p[2] AS w2, count(*) AS c
  FROM (SELECT unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
        FROM toks WHERE len(w) >= 2)
  GROUP BY 1, 2
),
stream AS (
  SELECT doc_id, 1 AS is_first, w[1] AS w1, NULL AS w2
  FROM toks WHERE len(w) >= 1
  UNION ALL
  SELECT doc_id, 0, p[1], p[2]
  FROM (SELECT doc_id, unnest(list_zip(w[1:len(w)-1], w[2:len(w)])) AS p
        FROM toks WHERE len(w) >= 2)
),
scored AS (
  SELECT s.doc_id,
    CASE WHEN s.is_first = 1
      THEN ln((coalesce(u.c, 0) + 0.1) / (st.t_tokens + 0.1 * st.v_vocab))
      ELSE ln((coalesce(b.c, 0) + 0.1) / (coalesce(u.c, 0) + 0.1 * st.v_vocab))
    END AS lp
  FROM stream s
  LEFT JOIN uni u ON u.tok = s.w1
  LEFT JOIN big b ON b.w1 = s.w1 AND b.w2 = s.w2
  CROSS JOIN stats st
),
per AS (SELECT doc_id, sum(lp) AS lps FROM scored GROUP BY doc_id),
ranked0 AS (
  SELECT t.doc_id,
    round(CASE WHEN len(t.w) > 0 THEN -p.lps / len(t.w)
          ELSE 'nan'::DOUBLE END, 4) AS log_ppl
  FROM toks t LEFT JOIN per p USING (doc_id)
),
rk AS (
  SELECT doc_id, log_ppl,
    row_number() OVER (ORDER BY log_ppl ASC, doc_id ASC) AS rn,
    count(*) OVER () AS n
  FROM ranked0
)
SELECT doc_id, log_ppl,
  ((3*(rn-1))//n)::INT AS bucket_idx,
  (['head', 'middle', 'tail'])[((3*(rn-1))//n)::INT + 1] AS bucket
FROM rk
""",
        # running-sum offsets: start = sum of previous rendered lengths
        # (+1 per separator), exact integer algebra in both engines
        "render_turns_events": """
WITH t AS (
  SELECT user_id::VARCHAR AS conv_id, event_id AS turn_idx,
         coalesce(event_type, '') || ': ' || coalesce(props, '') AS rendered,
         event_type
  FROM events
), o AS (
  SELECT conv_id, turn_idx, rendered, event_type,
    coalesce(sum(length(rendered) + 1) OVER (
      PARTITION BY conv_id ORDER BY turn_idx
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
      AS start_char
  FROM t
)
SELECT conv_id, turn_idx, rendered, start_char,
  (start_char + length(rendered))::BIGINT AS end_char,
  (event_type = 'purchase') AS trainable
FROM o
""",
        "render_conv_events": """
WITH t AS (
  SELECT user_id::VARCHAR AS conv_id, event_id AS turn_idx,
         coalesce(event_type, '') || ': ' || coalesce(props, '') AS rendered,
         event_type
  FROM events
)
SELECT conv_id,
  string_agg(rendered, chr(10) ORDER BY turn_idx) AS text,
  count(*)::BIGINT AS n_turns,
  (sum(length(rendered)) + count(*) - 1)::BIGINT AS n_chars,
  sum(CASE WHEN event_type = 'purchase' THEN length(rendered)
      ELSE 0 END)::BIGINT AS n_trainable_chars
FROM t GROUP BY conv_id
""",
        # identical md5(concat_ws-with-0x1f) in both engines -> identical
        # permutation; the oracle is the global-window form whose output
        # the sharded scale path reproduces exactly
        "shuffle_order_docs": """
SELECT doc_id,
  row_number() OVER (
    ORDER BY md5(concat_ws(chr(31), 'ep1', doc_id)) ASC, doc_id ASC
  ) AS shuffle_rank
FROM documents
""",
        # positives excluded BEFORE the per-query rank window, so each
        # query yields exactly k negatives
        "hard_negatives_emb": """
WITH q AS (
  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 3
), pos AS (
  SELECT q_id, q_id AS vec_id FROM q
  UNION ALL
  SELECT q_id, q_id + 1 FROM q
), scored AS (
  SELECT q.q_id, e.vec_id,
         list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS cosine
  FROM embeddings e CROSS JOIN q
), filt AS (
  SELECT s.q_id, s.vec_id, s.cosine
  FROM scored s
  ANTI JOIN pos p ON s.q_id = p.q_id AND s.vec_id = p.vec_id
), ranked AS (
  SELECT q_id, vec_id, cosine,
         row_number() OVER (
           PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
  FROM filt
)
SELECT q_id, vec_id, round(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= 5
""",
        # identical JSON bytes built by concat in both engines; corrupt =
        # deterministic truncation (%97, malformed JSON) AND a planted
        # valid-JSON/wrong-type user_id (%89) — Spark PERMISSIVE keeps
        # the partial result (other fields recovered, mismatched field
        # null, corrupt set), mirrored here as a failed typed extract
        "jsonl_parse_events": """
WITH s AS (
  SELECT event_id AS orig_event_id,
    '{"event_id": ' || event_id || ', "event_type": "' || event_type ||
    '", "user_id": ' || user_id || '}' AS line,
    '{"event_id": ' || event_id || ', "event_type": "' || event_type ||
    '", "user_id": "x' || user_id || '"}' AS line_badtype
  FROM events
), j AS (
  SELECT orig_event_id,
    CASE WHEN orig_event_id % 97 = 0 THEN substr(line, 1, 10)
         WHEN orig_event_id % 89 = 0 THEN line_badtype
         ELSE line END AS line
  FROM s
)
SELECT orig_event_id,
  CASE WHEN json_valid(line)
       THEN try_cast(json_extract_string(line, '$.event_id') AS BIGINT)
  END AS event_id,
  CASE WHEN json_valid(line)
       THEN json_extract_string(line, '$.event_type') END AS event_type,
  CASE WHEN json_valid(line)
       THEN try_cast(json_extract_string(line, '$.user_id') AS BIGINT)
  END AS user_id,
  CASE WHEN NOT json_valid(line) THEN TRUE
       ELSE try_cast(json_extract_string(line, '$.user_id') AS BIGINT)
            IS NULL
  END AS is_corrupt
FROM j
""",
        # suffix running sum DESC, -1 for the last separator; kept iff the
        # suffix ending here still fits the 400-char budget
        "truncate_conv_events": """
WITH t AS (
  SELECT user_id::VARCHAR AS conv_id, event_id AS turn_idx,
         coalesce(event_type, '') || ': ' || coalesce(props, '') AS rendered
  FROM events
), o AS (
  SELECT conv_id, turn_idx,
    (sum(length(rendered) + 1) OVER (
      PARTITION BY conv_id ORDER BY turn_idx DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1)::BIGINT
      AS cum_chars
  FROM t
)
SELECT conv_id, turn_idx, cum_chars, (cum_chars <= 400) AS kept FROM o
""",
        # one row per (label, dim): generate_subscripts/unnest zip
        # positionally; dims are 0-based to match posexplode
        "emb_pool_label": """
WITH e AS (
  SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding)::DOUBLE AS val
  FROM embeddings WHERE embedding IS NOT NULL
), n AS (
  SELECT label, count(*) AS n_rows FROM embeddings
  WHERE embedding IS NOT NULL GROUP BY label
)
SELECT e.label, n.n_rows, e.dim, round(avg(e.val), 6) AS val
FROM e JOIN n USING (label)
GROUP BY e.label, n.n_rows, e.dim
""",
        "semdedup_emb": semdedup_emb,
        "stratified_sample_docs": stratified_sample,
        # ivf_topk_indexed runs full-probe in the driver (candidates = whole
        # table), so its output is the exact brute-force top-k — same
        # oracle as cosine_topk. Pruned-nprobe recall stays pytest-covered.
        "ivf_topk_indexed": cosine_topk,
        "multimodal_features": _multimodal_sql(),
        # real BMP codec round-trip: the oracle re-derives the channel
        # means and byte size from the synthetic pixel formula + BMP
        # layout arithmetic alone (never parses bytes) — a match proves
        # encode_bmp and decode_bmp moved actual pixels. One exact
        # integer-sum division per mean (sum::DOUBLE / count) matches the
        # kernel's numpy int64-sum division bit for bit.
        "bmp_stats_media": """
WITH m AS (
  SELECT t.range AS media_id,
         8 + t.range % 9 AS w,
         8 + (t.range * 3) % 9 AS h
  FROM range(100) t
), px AS (
  SELECT m.media_id, m.w, m.h, y.range AS y, x.range AS x
  FROM m
  CROSS JOIN range(17) y
  CROSS JOIN range(17) x
  WHERE y.range < m.h AND x.range < m.w
)
SELECT media_id,
  (54 + max(h) * (((max(w) * 3 + 3) // 4) * 4))::BIGINT AS n_bytes,
  max(w)::INT AS width,
  max(h)::INT AS height,
  sum((media_id * 31 + y * 17 + x * 5 + 22) % 256)::DOUBLE / count(*) AS mean_r,
  sum((media_id * 31 + y * 17 + x * 5 + 11) % 256)::DOUBLE / count(*) AS mean_g,
  sum((media_id * 31 + y * 17 + x * 5) % 256)::DOUBLE / count(*) AS mean_b
FROM px
GROUP BY media_id
""",
        # WAV stats re-derived from the synthetic PCM formula (never the
        # bytes): exact int64 sums -> one IEEE division (+ one sqrt), so
        # the doubles match bit-for-bit with no rounding
        "wav_stats_media": """
WITH m AS (
  SELECT t.range AS media_id,
         400 + t.range % 257 AS k,
         8000 + (t.range % 4) * 4000 AS sr
  FROM range(100) t
), s AS (
  SELECT m.media_id, m.k, m.sr,
         (m.media_id * 7919 + i.range * 2654435761) % 65536 - 32768 AS v
  FROM m CROSS JOIN range(657) i
  WHERE i.range < m.k
)
SELECT media_id,
  (44 + 2 * max(k))::BIGINT AS n_bytes,
  max(sr)::INT AS sample_rate,
  max(k)::BIGINT AS n_samples,
  max(k) * 1000.0 / max(sr) AS duration_ms,
  max(abs(v))::INT AS peak,
  sqrt(sum(v * v)::DOUBLE / count(*)) AS rms,
  sum(v)::DOUBLE / count(*) AS mean_amp
FROM s GROUP BY media_id
""",
        # granule-decomposed range join == plain BETWEEN join
        "interval_join_events": """
SELECT p.event_id, p.user_id, i.iv_id
FROM events p
JOIN (
  SELECT event_id AS iv_id, user_id, ts AS s,
         ts + INTERVAL 45 MINUTE AS e
  FROM events WHERE event_id < 200
) i ON p.user_id = i.user_id AND p.ts >= i.s AND p.ts < i.e
""",
        # fixed-edge histogram quantiles: lo=0, hi=100, bins=200 (w=0.5);
        # identical bin/interpolation arithmetic (0.5 and p in {.25,.5,.75}
        # are exact binary fractions, so the doubles agree bit-for-bit;
        # _r4 guards the division ulp)
        "hist_quantile_events": """
WITH hist AS (
  SELECT user_id,
         least(greatest(CAST(floor(value/0.5) AS BIGINT), 0), 199) AS bin,
         count(*) AS n
  FROM events
  WHERE value IS NOT NULL AND NOT isnan(value)
  GROUP BY 1, 2
), c AS (
  SELECT user_id, bin, n,
         sum(n) OVER (PARTITION BY user_id ORDER BY bin) AS cum,
         sum(n) OVER (PARTITION BY user_id) AS tot
  FROM hist
)
SELECT user_id,
  round(min(CASE WHEN cum >= 0.25*tot AND cum-n < 0.25*tot
    THEN bin*0.5 + 0.5*least(greatest((0.25*tot-(cum-n))/n, 0), 1) END), 4) AS hq25,
  round(min(CASE WHEN cum >= 0.5*tot AND cum-n < 0.5*tot
    THEN bin*0.5 + 0.5*least(greatest((0.5*tot-(cum-n))/n, 0), 1) END), 4) AS hq50,
  round(min(CASE WHEN cum >= 0.75*tot AND cum-n < 0.75*tot
    THEN bin*0.5 + 0.5*least(greatest((0.75*tot-(cum-n))/n, 0), 1) END), 4) AS hq75
FROM c GROUP BY user_id
""",
    }
