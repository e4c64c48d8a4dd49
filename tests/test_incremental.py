"""Incremental aggregation (ops/incremental.py): the merge algebra equals
the batch answer."""

import math

import pyspark.sql.functions as F

from feature_extraction_spark.ops.incremental import (
    merge_stat_states,
    partial_stat_state,
)
from feature_extraction_spark.synth import synth_transcripts


def _wc(df):
    return df.withColumn("wc", F.size(F.split("text", " ", -1)).cast("double"))


def _batch_stats(df):
    return {
        r["conv_id"]: r
        for r in _wc(df)
        .groupBy("conv_id")
        .agg(
            F.count("wc").alias("c"),
            F.mean("wc").alias("m"),
            F.stddev_pop("wc").alias("s"),
            F.min("wc").alias("lo"),
            F.max("wc").alias("hi"),
        )
        .collect()
    }


def _check_equals_batch(state_rows, batch):
    """Finalize each state row at read time (count n, mean sum/n,
    population std from sumsq) and compare with the batch aggregates."""
    got = {r["conv_id"]: r for r in state_rows}
    assert set(got) == set(batch)
    for k, b in batch.items():
        g = got[k]
        mean = g["sum"] / g["n"]
        std = math.sqrt(max(g["sumsq"] / g["n"] - mean * mean, 0.0))
        assert g["n"] == b["c"]
        assert math.isclose(mean, b["m"], rel_tol=1e-9)
        assert math.isclose(std, b["s"], rel_tol=1e-6, abs_tol=1e-9)
        assert g["min"] == b["lo"] and g["max"] == b["hi"]


def test_partial_merge_finalize_equals_batch(spark):
    parts = [synth_transcripts(spark, n_convs=30, seed=s) for s in (1, 2, 3)]
    whole = parts[0].unionByName(parts[1]).unionByName(parts[2])
    states = [partial_stat_state(_wc(p), "wc") for p in parts]
    merged = merge_stat_states(*states).collect()
    _check_equals_batch(merged, _batch_stats(whole))


def test_merge_handles_disjoint_and_overlapping_entities(spark):
    a = spark.createDataFrame(
        [("c1", 1.0), ("c1", 3.0), ("c2", 10.0)], "conv_id string, v double"
    )
    b = spark.createDataFrame(
        [("c2", 20.0), ("c3", 5.0)], "conv_id string, v double"
    )
    merged = merge_stat_states(
        partial_stat_state(a, "v"), partial_stat_state(b, "v")
    )
    out = {r["conv_id"]: r.asDict() for r in merged.collect()}
    assert out["c1"] == dict(conv_id="c1", n=2, sum=4.0, sumsq=10.0,
                             min=1.0, max=3.0)
    assert out["c2"] == dict(conv_id="c2", n=2, sum=30.0, sumsq=500.0,
                             min=10.0, max=20.0)
    assert out["c3"] == dict(conv_id="c3", n=1, sum=5.0, sumsq=25.0,
                             min=5.0, max=5.0)
