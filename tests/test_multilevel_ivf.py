"""multi_level_agg (GROUPING SETS single-pass levels) and IVF ANN tests."""

import math
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_extraction_spark.ops.levels import (
    multi_level_agg,
    with_entity_keys,
)
from feature_extraction_spark.ops.similarity import (
    build_ann_index,
    cosine_neardup_pairs,
    cosine_topk,
    ivf_assign,
    ivf_topk_indexed,
    ivf_train,
)


def test_multi_level_agg_matches_per_level(spark, transcripts):
    """One GROUPING SETS pass == separate groupBy per level (the reference's
    per---level jobs, kaldi extract_timing_feats.py:62-92)."""
    aggs = {
        "n_turns": F.count(F.lit(1)),
        "wc_sum": F.sum(F.size(F.split(F.col("text"), " ", -1))),
    }
    levels = ["conv", "day", "subject"]
    out = multi_level_agg(transcripts, levels, dict(aggs)).toPandas()

    base = with_entity_keys(transcripts)
    from feature_extraction_spark.ops.levels import keys_for

    for lv in levels:
        keys = keys_for(lv)
        exp = (
            base.groupBy(*keys)
            .agg(*[c.alias(n) for n, c in aggs.items()])
            .toPandas()
            .sort_values(keys)
            .reset_index(drop=True)
        )
        got = (
            out[out["level"] == lv][keys + list(aggs)]
            .sort_values(keys)
            .reset_index(drop=True)
        )
        assert len(got) == len(exp), (lv, len(got), len(exp))
        for n in aggs:
            assert (got[n].values == exp[n].values).all(), (lv, n)


def test_multi_level_agg_single_shuffle(spark, transcripts):
    """The plan contains exactly one Exchange below the aggregate (Expand ->
    partial agg -> shuffle -> final agg), not one per level."""
    out = multi_level_agg(
        transcripts, ["conv", "day", "subject"], {"n": F.count(F.lit(1))}
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan
    # exactly one Exchange between the Expand (grouping-set row replication)
    # and the final aggregate — the source below may have its own exchanges
    above_expand = plan.split("Expand")[0]
    assert above_expand.count("Exchange") == 1, plan


def test_attach_subject_inner_broadcast(spark):
    """attach_subject is an inner equi-join (a conversation without a
    subject row is dropped) executed as a broadcast hash join, even with
    size-based broadcasting switched off."""
    from feature_extraction_spark.ops.levels import attach_subject

    turns = spark.createDataFrame(
        [("c1", 0), ("c1", 1), ("c2", 0), ("c3", 0)], "conv_id string, turn_idx int"
    )
    dim = spark.createDataFrame(
        [("c1", "s1"), ("c2", "s2"), ("c9", "s9")], "conv_id string, subject_id string"
    )
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = attach_subject(turns, dim)
        got = sorted(map(tuple, out.select("conv_id", "turn_idx", "subject_id").collect()))
        plan = out._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert got == [("c1", 0, "s1"), ("c1", 1, "s1"), ("c2", 0, "s2")]
    assert "BroadcastHashJoin" in plan and "Inner" in plan, plan


@pytest.fixture(scope="module")
def embeddings(spark):
    rng = np.random.default_rng(7)
    # 3 well-separated clusters + noise so IVF has real structure
    centers = rng.normal(size=(3, 16)) * 5
    rows = []
    for i in range(300):
        c = i % 3
        v = centers[c] + rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_train_deterministic(spark, embeddings):
    c1 = ivf_train(embeddings, n_centroids=6, iters=2, seed=42)
    c2 = ivf_train(embeddings, n_centroids=6, iters=2, seed=42)
    assert np.allclose(np.array(c1), np.array(c2))


def test_ivf_assign_covers_all(spark, embeddings):
    cents = ivf_train(embeddings, n_centroids=6, iters=2, seed=42)
    a = ivf_assign(embeddings, cents).groupBy("ivf_cluster").count().toPandas()
    assert a["count"].sum() == 300
    assert a["ivf_cluster"].between(0, 5).all()


def test_ivf_topk_recall_vs_exact(spark, embeddings, tmp_path):
    """A pruned probe (3 of 6 partitions) keeps the exact top-10."""
    idx = str(tmp_path / "ann_recall")
    build_ann_index(embeddings, idx, n_centroids=6, iters=2, seed=42)
    q = embeddings.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    q = [float(x) for x in q]
    exact = {r["vec_id"] for r in cosine_topk(embeddings, q, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in ivf_topk_indexed(spark, idx, q, k=10, nprobe=3).collect()
    }
    recall = len(exact & approx) / 10
    assert recall >= 0.9, (recall, exact, approx)


def test_cosine_neardup_lsh_recall(spark, embeddings):
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(
            embeddings, threshold=0.9, method="exact"
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(
            embeddings, threshold=0.9, method="lsh", tables=6
        ).collect()
    }
    assert lsh <= exact  # verification step guarantees no false positives
    if exact:
        recall = len(exact & lsh) / len(exact)
        assert recall >= 0.8, (recall, len(exact), len(lsh))


def test_with_entity_keys_preserves_caller_columns(spark):
    """Regression (round-2 review): caller-attached day/week (e.g.
    site-local calendar) must not be recomputed from ts."""
    import datetime as dt

    from feature_extraction_spark.ops.levels import with_entity_keys

    df = spark.createDataFrame(
        [("c1", dt.datetime(2024, 1, 1, 23, 30), dt.date(2024, 1, 2))],
        "conv_id string, ts timestamp, day date",
    )
    out = with_entity_keys(df).collect()[0]
    assert out["day"] == dt.date(2024, 1, 2)  # caller's local day kept
    assert out["week"] is not None  # missing keys still derived


def test_ann_index_persisted_probe_matches_fresh(spark, embeddings, tmp_path):
    """build_ann_index commits ivf_train's centroids, and a probe equals
    the exact re-rank of the nprobe nearest clusters of a fresh
    ivf_train + ivf_assign at the same (n_centroids, iters, seed) — the
    persisted index changes where the work happens, never the answer."""
    idx = str(tmp_path / "ann")
    cents = build_ann_index(embeddings, idx, n_centroids=6, iters=2, seed=42)
    fresh_cents = ivf_train(embeddings, n_centroids=6, iters=2, seed=42)
    assert np.allclose(np.array(cents), np.array(fresh_cents))

    q = embeddings.filter(F.col("vec_id") == 5).collect()[0]["embedding"]
    q = [float(x) for x in q]

    def cos(a, b):
        return sum(x * y for x, y in zip(a, b)) / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
        )

    probe = sorted(range(6), key=lambda c: -cos(q, fresh_cents[c]))[:3]
    cands = ivf_assign(embeddings, fresh_cents).filter(
        F.col("ivf_cluster").isin(probe)
    )
    fresh = cosine_topk(cands, q, k=8).collect()
    idxd = ivf_topk_indexed(spark, idx, q, k=8, nprobe=3).collect()
    assert [r.vec_id for r in idxd] == [r.vec_id for r in fresh]
    assert np.allclose(
        [r.cosine for r in idxd], [r.cosine for r in fresh]
    )


def test_ann_index_probe_plan_prunes_partitions(spark, embeddings, tmp_path):
    """The indexed probe's plan must contain NO Lloyd jobs and NO exchange:
    a partition-pruned scan + projection + TakeOrderedAndProject. Partition
    pruning is visible as the cluster filter landing in the scan's
    PartitionFilters."""
    idx = str(tmp_path / "ann2")
    build_ann_index(embeddings, idx, n_centroids=6, iters=1, seed=42)
    q = embeddings.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    out = ivf_topk_indexed(spark, idx, [float(x) for x in q], k=5, nprobe=2)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "TakeOrderedAndProject" in plan
    # the pruned scan reads 2 of 6 cluster partitions: fewer rows than
    # the table holds
    m = re.search(r"PartitionFilters: \[.*ivf_cluster#\d+ IN \(([\d, ]+)\)", plan)
    assert m, plan
    probed = [int(c) for c in m.group(1).split(",")]
    assert len(probed) == 2
    scanned = (
        spark.read.parquet(f"{idx}/assignments")
        .filter(F.col("ivf_cluster").isin(probed))
        .count()
    )
    assert 0 < scanned < embeddings.count()


@pytest.fixture(params=["false", "true"], ids=["ansi_off", "ansi_on"])
def ansi(spark, request):
    saved = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", request.param)
    yield request.param
    spark.conf.set("spark.sql.ansi.enabled", saved)


# eight unit directions 45 degrees apart, plus a zero-norm row (vec_id 8)
_DIRS = [
    (i, [float(round(math.cos(i * math.pi / 4), 12)),
         float(round(math.sin(i * math.pi / 4), 12))])
    for i in range(8)
]
_ZERO = (8, [0.0, 0.0])


def test_zero_norm_embedding_gives_null_cosine(spark, ansi):
    """A zero-norm embedding has cosine NULL, in either ANSI mode: it ranks
    last in cosine_topk, assigns to no IVF cluster, and pairs with
    nothing."""
    df = spark.createDataFrame(
        _DIRS + [_ZERO], "vec_id long, embedding array<double>"
    )
    top = cosine_topk(df, [1.0, 0.0], k=9).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cosine"] == pytest.approx(1.0)
    assert top[-1]["vec_id"] == 8 and top[-1]["cosine"] is None

    cents = ivf_train(df, n_centroids=3, iters=2, seed=42)
    assigned = {
        r["vec_id"]: r["ivf_cluster"] for r in ivf_assign(df, cents).collect()
    }
    assert assigned.pop(8) is None
    assert all(c is not None for c in assigned.values())

    for method in ("exact", "lsh"):
        pairs = cosine_neardup_pairs(df, threshold=0.5, method=method).collect()
        assert all(8 not in (r["id_a"], r["id_b"]) for r in pairs), method
        assert all(r["cosine"] >= 0.5 for r in pairs), method


def test_ann_index_zero_norm_centroid_ranks_last(spark, ansi, tmp_path):
    """ivf_train never seeds a centroid from the zero-norm row: nine
    centroids asked over eight directions give eight. A committed centroid
    table that does hold a zero-norm centroid (no partition behind it) must
    still probe the nearest centroid, never the zero-norm one."""
    from feature_extraction_spark.sources.snapshots import commit_snapshot

    df = spark.createDataFrame(
        _DIRS + [_ZERO], "vec_id long, embedding array<double>"
    )
    idx = str(tmp_path / f"ann_zero_{ansi}")
    cents = build_ann_index(df, idx, n_centroids=9, iters=1, seed=42)
    assert len(cents) == 8 and [0.0, 0.0] not in [list(c) for c in cents]
    commit_snapshot(
        spark.createDataFrame(
            [(8, [0.0, 0.0])] + [(c, list(v)) for c, v in enumerate(cents)],
            "ivf_cluster int, centroid array<double>",
        ),
        f"{idx}/centroids",
        mode="overwrite",
    )
    for vec_id, vec in _DIRS:
        top = ivf_topk_indexed(spark, idx, vec, k=1, nprobe=1).collect()
        assert [r["vec_id"] for r in top] == [vec_id]


def test_exact_neardup_guard_raises_on_large_input(spark):
    from feature_extraction_spark.ops.similarity import cosine_neardup_pairs

    big = spark.range(600).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("embedding"),
    )
    with pytest.raises(ValueError, match="lsh"):
        cosine_neardup_pairs(big, method="exact", exact_max_rows=500)
    # under the bound it runs; 0 disables the guard entirely
    small = big.limit(10)
    assert cosine_neardup_pairs(small, method="exact").count() >= 0
    assert (
        cosine_neardup_pairs(small, method="exact", exact_max_rows=0).count()
        >= 0
    )
