"""Physical-plan shape guards for the engine's core scale claims (BENCH/
PLANS.md): exchange counts, broadcast placement, and parquet pushdown.
These lock in the plans the 100 TB story depends on, so a refactor that
silently adds a shuffle or breaks pushdown fails CI instead of the bench."""

import pyspark.sql.functions as F
import pytest

SHUFFLE = "Exchange hashpartitioning"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def turns(spark, transcripts, tmp_path_factory):
    """Parquet-backed copy of the transcripts table: plan assertions need a
    clean scan source (the synth fixture's own generator lineage contains a
    window exchange that would be double-counted per consumer)."""
    p = str(tmp_path_factory.mktemp("plans") / "turns")
    transcripts.write.mode("overwrite").parquet(p)
    return spark.read.parquet(p)


def _children(node) -> list:
    ch = node.children()
    return [ch.apply(i) for i in range(ch.size())]


def _initial_tree(df):
    """Root of the physical plan Spark would run first: the initial plan
    under AQE (every exchange planned, none re-optimized yet)."""
    p = df._jdf.queryExecution().executedPlan()
    return p.initialPlan() if p.nodeName() == "AdaptiveSparkPlan" else p


def _exchanges(node) -> int:
    return (node.nodeName() == "Exchange") + sum(_exchanges(c) for c in _children(node))


def _find(node, name: str):
    if node.nodeName() == name:
        return node
    return next((f for c in _children(node) if (f := _find(c, name)) is not None), None)


def _asof_union_sides(df) -> tuple[int, int, int]:
    """(exchanges above the as-of union, in its left side, in its right
    side) of an ``asof_join`` plan."""
    root = _initial_tree(df)
    union = _find(root, "Union")
    assert union is not None, root.toString()
    left, right = _children(union)
    return _exchanges(root) - _exchanges(union), _exchanges(left), _exchanges(right)


def test_asof_join_single_shuffle(spark, turns):
    """Union-tag as-of join: each side is shuffled at most once on the key,
    before the union; nothing shuffles above the union (the window reads
    the union's carried-through key partitioning)."""
    from feature_extraction_spark.ops.asof import asof_join

    right = turns.groupBy("conv_id", "ts").agg(F.max("turn_idx").alias("v"))
    out = asof_join(
        turns.select("conv_id", "turn_idx", "ts"), right,
        on="conv_id", value_cols=["v"],
    )
    above, left, right_side = _asof_union_sides(out)
    # the unpartitioned left scan: one key exchange; the right: its own
    # pre-aggregation's exchange plus one key exchange
    assert (above, left, right_side) == (0, 1, 2), _plan(out)
    assert _plan(out).count(SHUFFLE) == 3, _plan(out)


def test_asof_join_keeps_sessionized_left_partitioning(spark, turns):
    """A sessionize(...) left side arrives hash-partitioned by conv_id, so
    the as-of join adds no exchange on the left: the turn table is shuffled
    once in the whole chain, and only the right side crosses the network.
    Values match the broadcast strategy, which shuffles no left side, with
    AQE coalescing off so the union really spans several partitions."""
    from feature_extraction_spark.ops.asof import asof_join, asof_join_broadcast
    from feature_extraction_spark.ops.sessionize import sessionize

    left = sessionize(turns, gap_seconds=300.0)
    right = turns.filter(F.col("turn_idx") % 3 == 0).select(
        "conv_id",
        (F.col("ts") + F.expr("INTERVAL 7 SECONDS")).alias("ts"),
        F.col("turn_idx").alias("v"),
    )
    out = asof_join(left, right, on="conv_id", value_cols=["v"])
    assert _asof_union_sides(out) == (0, 1, 1), _plan(out)
    assert _plan(out).count(SHUFFLE) == 2, _plan(out)

    key = ["conv_id", "turn_idx"]
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(coalesce)
    spark.conf.set(coalesce, "false")
    try:
        got = out.orderBy(*key).collect()
    finally:
        spark.conf.set(coalesce, saved)
    exp = (
        asof_join_broadcast(left, right, on="conv_id", value_cols=["v"])
        .orderBy(*key)
        .collect()
    )
    assert len(got) == turns.count()
    assert got == exp


def test_asof_join_broadcast_no_fact_shuffle(spark, turns):
    """Broadcast strategy: the left/fact side is never repartitioned by key
    (skew immunity) — zero shuffle exchanges outside the tiny right-side
    collect_list aggregation."""
    from feature_extraction_spark.ops.asof import asof_join_broadcast

    right = turns.select("conv_id", "ts", F.col("turn_idx").alias("v"))
    out = asof_join_broadcast(
        turns.select("conv_id", "turn_idx", "ts"), right,
        on="conv_id", value_cols=["v"],
    )
    plan = _plan(out)
    assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan, plan
    # only the right dim's series-packing aggregation may hash-shuffle
    # (bounded input); the fact scan flows into the join with no exchange
    assert plan.count(SHUFFLE) == 1, plan


def test_timing_stats_single_shuffle(spark):
    """U9 tagged-stream kernel: one explode + ONE conditional hash
    aggregation — exactly one shuffle, not one per grain."""
    from feature_extraction_spark.ops.timing import timing_stats

    df = spark.range(0, 1000).select(
        F.concat(F.lit("c"), (F.col("id") % 7).cast("string")).alias("conv_id"),
        F.lit(0).cast("long").alias("offset"),
        F.lit(30_000_000).cast("long").alias("duration"),
        F.expr(
            "transform(sequence(0, int(id % 4)), i -> named_struct("
            "'Word', concat('w', i), 'Duration', bigint(2000000), "
            "'Offset', bigint(i) * 2500000))"
        ).alias("word_timing"),
    )
    out = timing_stats(df, level="conv", durations=None)
    plan = _plan(out)
    assert plan.count(SHUFFLE) == 1, plan


def test_windowed_flagship_chain_single_shuffle(spark, turns):
    """sessionize -> role transition -> rolling -> backfill all share ONE
    conv_id exchange (re-sorts within partitions are fine; re-shuffles are
    not)."""
    from feature_extraction_spark.ops.backfill import backfill
    from feature_extraction_spark.ops.sessionize import sessionize
    from feature_extraction_spark.ops.windows import (
        rolling_turn_features,
        with_role_transition,
    )

    t = sessionize(turns, gap_seconds=300.0)
    t = with_role_transition(t)
    t = rolling_turn_features(t, trailing_seconds=600, trailing_rows=10)
    t = t.withColumn("pv", F.when(F.col("role") == "user", 1.0))
    t = backfill(t, ["pv"])
    plan = _plan(t)
    assert plan.count(SHUFFLE) == 1, plan


def test_parquet_filter_and_column_pushdown(spark, tmp_path):
    """A projection+filter over parquet must reach the scan: PushedFilters
    non-empty and ReadSchema pruned to the selected columns only."""
    p = str(tmp_path / "docs")
    spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("web").alias("source"),
    ).write.mode("overwrite").parquet(p)
    df = (
        spark.read.parquet(p)
        .filter(F.col("doc_id") > 500)
        .select("doc_id", "text")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,500)]" in plan, plan
    read_schema = plan.split("ReadSchema: ")[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema, plan
    assert "lang" not in read_schema and "source" not in read_schema, plan


def test_time_partitioned_layout_prunes_partitions(spark, turns, tmp_path):
    """The 100 TB data-layout story: a table written partitioned by day
    answers a time-range query by scanning ONLY the matching day
    directories — the plan carries a PartitionFilter and the scan's file
    list contains no other day."""
    import pyspark.sql.functions as F

    p = str(tmp_path / "by_day")
    turns.withColumn("day", F.to_date("ts")).write.mode(
        "overwrite"
    ).partitionBy("day").parquet(p)
    days = sorted(
        r["day"] for r in spark.read.parquet(p).select("day").distinct().collect()
    )
    assert len(days) >= 3, "fixture must span several days"
    target = days[1]
    q = spark.read.parquet(p).filter(F.col("day") == F.lit(target))
    plan = _plan(q)
    # the scan carries the day equality as a PARTITION filter (pruned from
    # the directory index before any file is opened), not a data filter
    assert "PartitionFilters: [isnotnull(day" in plan, plan
    import re

    pf = plan.split("PartitionFilters: ")[1].splitlines()[0]
    assert re.search(r"\(day#\d+ = \S+\)", pf), pf
    # and the pruned scan returns exactly that day's rows
    assert q.count() == turns.filter(F.to_date("ts") == F.lit(target)).count()


def test_dedup_self_join_reuses_exchange(spark, turns):
    """The shingle-index self-join demands the SAME exchange on both sides
    (explicit repartition on the join key): the shuffle stage is computed
    once and reused, so the executed plan shows a ReusedExchange."""
    from feature_extraction_spark.ops.dedup import ngram_jaccard_pairs

    docs = turns.limit(200).select(
        F.col("turn_idx").alias("doc_id"), "text"
    ).filter(F.col("text").isNotNull())
    out = ngram_jaccard_pairs(docs, n=3, threshold=0.9, max_shingle_df=None)
    # AQE finalizes the plan in place only for THIS query execution, so run
    # an action on the DataFrame itself (a separate noop write would leave
    # this execution's plan at isFinalPlan=false without ReusedExchange)
    out.collect()
    plan = _plan(out)
    assert "ReusedExchange" in plan, plan


def test_stratified_sample_single_shuffle_and_pruned_scan(spark, turns):
    """Quota sampler: ONE exchange (the row_number window keyed by the
    strata), and the projection prunes the parquet scan to the columns the
    sample actually returns."""
    from feature_extraction_spark.ops.chunk import stratified_sample_exact

    out = stratified_sample_exact(
        turns, "role", 5, key_cols=["conv_id", "turn_idx"], salt="p"
    ).select("conv_id", "turn_idx", "role")
    plan = _plan(out)
    assert plan.count(SHUFFLE) == 1, plan
    # ReadSchema must not include text/tool/ts — only the 3 output columns
    import re

    schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert schemas and all("text" not in s for s in schemas), plan


def test_semdedup_pairs_shares_cluster_exchange(spark):
    """SemDeDup's self-join: both sides demand the same repartition by
    cluster id, so the exchange is computed once and reused — and the
    within-cluster join is a real equi-join (no cartesian/nested-loop)."""
    from feature_extraction_spark.ops.similarity import semdedup_pairs

    emb = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.col("id") % 7).cast("double"),
            (F.col("id") % 3).cast("double"),
            F.lit(1.0),
        ).alias("embedding"),
    )
    cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
    pairs = semdedup_pairs(emb, cents, threshold=0.99)
    pairs.collect()  # AQE-final plan (ReusedExchange only appears post-run)
    plan = _plan(pairs)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan, plan
    assert "ReusedExchange" in plan, plan


def test_verbosity_stats_no_object_aggregate(spark, turns):
    """The round-3 scaling diagnosis (BENCH/scaling.json) traced a 42 GB
    spill + 2.5x CPU inflation to median's ObjectHashAggregate sort-based
    fallback at millions of groups. verbosity_stats must stay on the
    exact-histogram plan: pure codegen HashAggregates only."""
    from feature_extraction_spark.ops.turn_stats import verbosity_stats

    plan = (
        verbosity_stats(turns, level="conv")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "ObjectHashAggregate" not in plan
    assert "SortAggregate" not in plan


def test_target_encoder_apply_broadcast_no_fact_shuffle(spark, turns):
    """Applying a fitted target encoder is a broadcast join: the fact table
    reaches the output with ZERO hash exchanges of its own (the encoder's
    fit aggregation owns the only shuffles, over the train slice)."""
    from feature_extraction_spark.ops.encode import (
        apply_target_encoder,
        fit_target_encoder,
    )

    enc = fit_target_encoder(turns, "role", "turn_idx")
    out = apply_target_encoder(turns.select("conv_id", "role"), enc, "role")
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan, plan
    # fit path: per-category hash agg (2 exchanges: partial->final over
    # role) — the fact side itself must contribute none
    before_join = plan.split("BroadcastHashJoin")[1].split("BroadcastExchange")[0]
    assert SHUFFLE not in before_join, plan


def test_quantile_bin_apply_no_fact_shuffle(spark, turns):
    """Bucketing against fitted edges is map-only on the fact side: the
    broadcast edge array is the only thing exchanged."""
    from feature_extraction_spark.ops.encode import (
        apply_quantile_bins,
        fit_quantile_bins,
    )

    edges = fit_quantile_bins(turns, "turn_idx", n_bins=4)
    out = apply_quantile_bins(turns.select("conv_id", "turn_idx"), edges, "turn_idx")
    plan = _plan(out)
    assert SHUFFLE not in plan, plan  # single-partition agg + broadcast only


def test_feature_cross_zero_shuffle(spark, turns):
    """The hashed cross is a pure per-row projection over the scan."""
    from feature_extraction_spark.ops.encode import feature_cross

    out = feature_cross(turns.select("conv_id", "role"), ["conv_id", "role"], 64)
    plan = _plan(out)
    assert SHUFFLE not in plan and "Exchange" not in plan, plan


def test_weighted_sample_take_ordered(spark, turns):
    """A-ES top-k compiles to TakeOrderedAndProject (per-partition heaps),
    never a global Sort + Limit."""
    from feature_extraction_spark.ops.chunk import weighted_sample

    out = weighted_sample(turns, "turn_idx", 10, "conv_id")
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Sort [" not in plan, plan


def test_pmi_single_corpus_shuffle(spark, turns):
    """PMI: the corpus-grain bigram stream is aggregated once; every later
    exchange operates on the vocabulary-sized pair table."""
    from feature_extraction_spark.ops.lm import pmi_collocations

    docs = turns.select(F.col("turn_idx").alias("doc_id"), F.col("text"))
    out = pmi_collocations(docs, min_count=2)
    plan = _plan(out)
    # the pair table is materialized at construction; every consumer (emit
    # filter, both marginals, the total) reads the checkpoint, so the
    # corpus parquet is scanned ZERO times in the final plan and exactly
    # once overall (inside the materialization)
    assert plan.count("FileScan parquet") == 0, plan
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan or "Scan parquet" in plan, plan
