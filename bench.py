#!/usr/bin/env python3
"""Benchmark harness.

Runs (1) the flagship point-in-time transcript feature pipeline over a
deterministic synthetic transcripts table sized from the SF directory, and
(2) the headline driver queries over $SPARK_GRAFT_SF_DIR, on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The transcripts table is generated once per (sf, seed) into /tmp and reused;
generation time is excluded from the pipeline metric (the pipeline is the
product; the generator is test scaffolding).
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SEED = 42

# conversations per sf: calibrated so sf0.1 yields ~600k turns
# (mean turns/conv ~4.2 under the truncated-Pareto size distribution)
_N_CONVS = {"sf0.001": 1_500, "sf0.01": 15_000, "sf0.1": 150_000}


def _sf_name() -> str:
    return os.path.basename(SF_DIR.rstrip("/")) or "sf0.1"


def _force(df) -> int:
    """Force FULL computation of every column via the noop sink.

    NB: ``count()`` is not a forcer — Catalyst elides outer joins and prunes
    window columns when only the count is needed (a LeftOuter join's count
    equals the left side's), silently timing a fraction of the plan."""
    df.write.format("noop").mode("overwrite").save()
    return -1


def flagship_pipeline(t):
    """Turn feature matrix: sessionize -> role transitions -> rolling
    windows -> backfill, then the whole-conversation verbosity aggregate
    joined on ``conv_id``. That last join is not point-in-time: every turn
    row sees the pack of its whole conversation, later turns included."""
    import pyspark.sql.functions as F

    from feature_extraction_spark.ops.backfill import backfill
    from feature_extraction_spark.ops.sessionize import sessionize
    from feature_extraction_spark.ops.turn_stats import verbosity_stats
    from feature_extraction_spark.ops.windows import (
        rolling_turn_features,
        with_role_transition,
    )

    x = sessionize(t, gap_seconds=300.0)
    x = with_role_transition(x)
    x = rolling_turn_features(x, trailing_seconds=600, trailing_rows=10)
    x = x.withColumn(
        "tool_val", F.when(F.col("tool").isNotNull(), F.length("tool").cast("double"))
    )
    x = backfill(x, ["tool_val"])
    conv_feats = verbosity_stats(t, level="conv")
    return x.join(conv_feats, on="conv_id", how="left")


def main() -> None:
    t_start = time.monotonic()
    from feature_extraction_spark.session import get_spark
    from feature_extraction_spark.synth import synth_transcripts

    spark = get_spark(
        "bench",
        cores=CPUS,
        shuffle_partitions=CPUS,
        # memory proportional to cores (cluster-size proxy; see BASELINE.md)
        extra_conf={"spark.driver.memory": f"{max(8, int(CPUS * 1.5))}g"},
    )

    sf = _sf_name()
    n_convs = _N_CONVS.get(sf, 15_000)
    tpath = f"/tmp/spark_graft_bench/transcripts_{sf}_seed{SEED}"
    if not os.path.exists(os.path.join(tpath, "_SUCCESS")):
        synth_transcripts(spark, n_convs=n_convs, seed=SEED).write.mode(
            "overwrite"
        ).parquet(tpath)
    t = spark.read.parquet(tpath)
    n_turns = t.count()

    timings: dict[str, float] = {}

    # Warm-up runs trigger whole-stage-codegen compilation + JIT tiering —
    # one-time per-JVM costs that a long-lived cluster executor amortizes
    # over billions of rows. min-of-3 timed runs is the steady-state number
    # (JIT promotion is monotone but noisy; min is the stable capability).
    def _timed(df, warmups: int, reps: int) -> float:
        return _timed_thunk(lambda: df, warmups, reps)

    def _timed_thunk(mk, warmups: int, reps: int) -> float:
        """Time construction + full forcing of mk()'s DataFrame. Queries are
        REBUILT inside the loop: operators that materialize an internal
        stage at construction (e.g. the LSH candidate localCheckpoint)
        must pay that cost inside the measured window, not before it."""
        for _ in range(warmups):
            _force(mk())
        best = float("inf")
        for _ in range(reps):
            q0 = time.monotonic()
            _force(mk())
            best = min(best, time.monotonic() - q0)
        return best

    pipe = flagship_pipeline(t)
    # 5 reps (not 3): the headline number must survive this box's
    # multi-minute neighbor spikes — observed min-of-3 catching 23 s for a
    # 4.6 s steady-state plan when all three reps landed inside one spike
    pipeline_sec = _timed(pipe, warmups=2, reps=5)
    out_rows = n_turns  # left-outer join preserves turn grain
    timings["flagship_pipeline"] = round(pipeline_sec, 3)
    # progress to stderr only — the driver parses the single stdout JSON line
    print(f"flagship_pipeline: {pipeline_sec:.3f}s", file=sys.stderr)

    # headline driver queries over the SF dir
    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    headline = [
        "verbosity_docs", "lexdiv_docs", "asof_purchase", "sessionize_events",
        "rolling_events_1h", "backfill_purchase", "latency_stats_events",
        "tpch_q1", "exact_dedup_docs", "jaccard_pairs_docs",
        "minhash_pairs_docs", "cosine_topk", "liwc_docs", "quality_docs",
        "daily_stats_events", "asof_purchase_tolerance", "multilevel_events",
        "tpch_q3", "timing_stats_events", "session_stats_events",
        "dedup_clusters_docs", "chunk_docs", "hash_split_docs", "mixture_docs",
        "gopher_docs", "bm25_topk_docs", "heavy_hitters_docs", "lm_ppl_docs",
        "dup_spans_docs", "despan_docs", "rolling_median_events",
        "interval_join_events", "hist_quantile_events",
        "target_encode_events", "quantile_bin_events", "feature_cross_events",
        "weighted_sample_docs", "temporal_split_events",
        "minhash_incremental_docs", "entropy_events", "pmi_docs",
        "mixture_rates_docs", "bpe_apply_docs", "wav_stats_media",
        "pq_adc_topk_emb", "skew_report_events", "dsir_weights_docs",
        "sq8_topk_emb", "hamming_topk_emb", "profile_events",
        "mixture_temp_docs", "contamination_frac_docs",
        "line_dedup_docs", "c4_filter_docs", "ppl_buckets_docs",
        "render_turns_events", "render_conv_events",
        "truncate_conv_events", "jsonl_parse_events",
        "hard_negatives_emb", "shuffle_order_docs",
        # r5 additions. graph_planted_docs is deliberately NOT a bench
        # entry (39 s at sf0.1 — the per-group networkx kernel is a
        # correctness gate, not a perf query; graph_docs is excluded for
        # the same reason).
        "quality_model_docs", "phrase_merge_docs",
    ]
    # tier-1 runs the FLAGSHIP protocol (warmups=2, min-of-5) since r4:
    # min-of-2 left per-query regressions undetectable below ~2x on this
    # host (r2->r3 "1.25x drift" adjudication cost a judge session); sf1
    # (tier 2/3) is the regression tier for corpus/embedding ops.
    for name in headline:
        mk = lambda name=name: queries[name](spark, SF_DIR)
        timings[name] = round(_timed_thunk(mk, warmups=2, reps=5), 3)
        print(f"{name}: {timings[name]:.3f}s", file=sys.stderr)

    # ---- composite pipelines (r5, VERDICT r4 #9): the end-to-end fused
    # plans, not just their pieces — a regression in the COMPOSITION
    # (broken exchange reuse, a stage that re-scans) shows up here even
    # when every stage op benches flat.
    def mk_prepare_sft():
        from feature_extraction_spark.ops.pipeline import prepare_sft

        return prepare_sft(t, max_chars=2000, dedup_lines=True)

    def mk_prepare_corpus():
        from feature_extraction_spark.ops.pipeline import prepare_corpus

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        return prepare_corpus(docs, max_tokens=128)

    for name, mk in (
        ("prepare_sft", mk_prepare_sft),
        ("prepare_corpus", mk_prepare_corpus),
    ):
        timings[name] = round(_timed_thunk(mk, warmups=2, reps=5), 3)
        print(f"{name}: {timings[name]:.3f}s", file=sys.stderr)

    # ---- tier 2: corpus ops at sf1 (10x documents) ----------------------
    # At sf0.1 most corpus queries are sub-second and compile/constant-
    # overhead dominated; regressions hide below noise. Tier 2 re-times
    # the expensive corpus operators over a 50k-doc synthetic documents
    # table (synth_documents: same schema, planted near/exact dups) so the
    # sf0.01 -> sf0.1 -> sf1 curve is on record. Generated once into /tmp
    # and reused; enabled at sf0.1 (the driver's config) or via
    # SPARK_GRAFT_TIER2=1, disabled with SPARK_GRAFT_TIER2=0.
    tier2_env = os.environ.get("SPARK_GRAFT_TIER2")
    run_tier2 = tier2_env == "1" or (tier2_env != "0" and sf == "sf0.1")
    timings_sf1: dict[str, float] = {}
    if run_tier2:
        from feature_extraction_spark.synth import synth_documents

        docs_dir = "/tmp/spark_graft_bench/docs_sf1_seed7"
        if not os.path.exists(os.path.join(docs_dir, "documents.parquet", "_SUCCESS")):
            synth_documents(spark, n_docs=50_000, seed=7).write.mode(
                "overwrite"
            ).parquet(os.path.join(docs_dir, "documents.parquet"))
        tier2 = [
            "exact_dedup_docs", "jaccard_pairs_docs", "minhash_pairs_docs",
            "gopher_docs", "lm_ppl_docs", "dup_spans_docs",
            "dedup_clusters_docs", "line_dedup_docs",
        ]
        for name in tier2:
            mk = lambda name=name: queries[name](spark, docs_dir)
            timings_sf1[name] = round(_timed_thunk(mk, warmups=1, reps=2), 3)
            print(f"sf1/{name}: {timings_sf1[name]:.3f}s", file=sys.stderr)

    # ---- tier 3: embedding/ANN ops at 10x vectors ------------------------
    # The sf0.1 embeddings table is 2k x 64-dim — sub-second for every
    # similarity op, so ANN regressions hid below the noise floor. Tier 3
    # re-times the similarity ops over a 20k-vector synthetic table
    # (synth_embeddings: same schema, real cluster structure) alongside
    # tier 2.
    timings_emb: dict[str, float] = {}
    if run_tier2:
        from feature_extraction_spark.synth import synth_embeddings

        emb_dir = "/tmp/spark_graft_bench/emb_sf1_seed11"
        if not os.path.exists(
            os.path.join(emb_dir, "embeddings.parquet", "_SUCCESS")
        ):
            synth_embeddings(spark, n_vecs=20_000, seed=11).write.mode(
                "overwrite"
            ).parquet(os.path.join(emb_dir, "embeddings.parquet"))
        tier3 = [
            "cosine_topk", "knn_join", "ivf_topk_indexed", "semdedup_emb",
            "pq_codes_emb", "pq_adc_topk_emb",
        ]
        for name in tier3:
            mk = lambda name=name: queries[name](spark, emb_dir)
            timings_emb[name] = round(_timed_thunk(mk, warmups=1, reps=2), 3)
            print(f"emb10x/{name}: {timings_emb[name]:.3f}s", file=sys.stderr)

        # neardup at production config, NOT the registry query: the
        # registry's neardup_pairs_emb_lsh deliberately runs a SHALLOW
        # recall-1.0 config (2 planes x 16 tables at threshold 0.35) so it
        # value-matches the exact-cosine oracle on the near-orthogonal
        # driver testdata — at 20k vectors that config puts ~n/4 vectors
        # in every bucket of every table, i.e. the full quadratic 16x
        # over (observed: >15 min, unbounded). The scale path the tier
        # must regress is the production config from the op's docstring
        # (threshold 0.9, 8 planes x 4 tables) over the clustered synth
        # table, where banding actually prunes.
        def mk_neardup_prod():
            from feature_extraction_spark.ops.similarity import (
                cosine_neardup_pairs,
            )

            emb = spark.read.parquet(f"{emb_dir}/embeddings.parquet")
            return cosine_neardup_pairs(
                emb, threshold=0.9, method="lsh", planes=8, tables=4
            )

        timings_emb["neardup_pairs_emb_lsh_prod"] = round(
            _timed_thunk(mk_neardup_prod, warmups=1, reps=2), 3
        )
        print(
            f"emb10x/neardup_pairs_emb_lsh_prod: "
            f"{timings_emb['neardup_pairs_emb_lsh_prod']:.3f}s",
            file=sys.stderr,
        )

    total = sum(timings.values())
    print(
        json.dumps(
            {
                "metric": "total_bench_sec",
                "value": round(total, 3),
                "unit": "sec",
                "queries": timings,
                "queries_sf1": timings_sf1,
                "queries_emb10x": timings_emb,
                "sf1_docs": 50_000 if timings_sf1 else 0,
                "emb10x_vecs": 20_000 if timings_emb else 0,
                "sf": sf,
                "n_turns": n_turns,
                "pipeline_rows": out_rows,
                "turns_per_sec": round(n_turns / pipeline_sec, 1),
                "cpus": CPUS,
                "wall_total_sec": round(time.monotonic() - t_start, 3),
            }
        )
    )


if __name__ == "__main__":
    sys.exit(main())
