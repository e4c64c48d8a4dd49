"""Target encoding, quantile binning, feature crosses, weighted sampling,
and temporal embargo splits — value parity vs independent pandas/numpy
computation, leakage isolation, and determinism guarantees."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from feature_extraction_spark.ops.chunk import temporal_split, weighted_sample
from feature_extraction_spark.ops.encode import (
    apply_quantile_bins,
    apply_target_encoder,
    feature_cross,
    fit_quantile_bins,
    fit_target_encoder,
    quantile_bin,
)


@pytest.fixture(scope="module")
def cats(spark):
    rows = [
        (i, ["a", "b", "c", "d"][i % 4], float((i * 7) % 11), i % 3)
        for i in range(200)
    ]
    return spark.createDataFrame(rows, "id bigint, cat string, y double, fold int")


def test_target_encode_matches_pandas(cats):
    s = 5.0
    enc = fit_target_encoder(cats, "cat", "y", smoothing=s).toPandas()
    pdf = cats.toPandas()
    g = pdf["y"].mean()
    grp = pdf.groupby("cat")["y"].agg(["sum", "count"])
    for _, r in enc.iterrows():
        want = (grp.loc[r["cat"], "sum"] + s * g) / (grp.loc[r["cat"], "count"] + s)
        assert abs(r["te_value"] - round(want, 6)) < 1e-9
        assert abs(r["te_global"] - round(g, 6)) < 1e-9


def test_target_encode_unseen_category_gets_global(spark, cats):
    enc = fit_target_encoder(cats, "cat", "y", smoothing=5.0)
    novel = spark.createDataFrame([(999, "zzz")], "id bigint, cat string")
    out = apply_target_encoder(novel, enc, "cat").toPandas()
    g = round(cats.toPandas()["y"].mean(), 6)
    assert abs(out["te"].iloc[0] - g) < 1e-9


def test_target_encode_leakage_isolation(cats):
    """Eval rows must not influence the encoding: fitting on train only
    gives the same te for eval rows as for train rows of the same cat."""
    train = cats.filter(F.col("fold") < 2)
    enc = fit_target_encoder(train, "cat", "y", smoothing=20.0)
    out = apply_target_encoder(cats, enc, "cat").toPandas()
    per_cat = out.groupby("cat")["te"].nunique()
    assert (per_cat == 1).all()
    # and the values come from train stats, not the full frame
    tr = train.toPandas()
    g = tr["y"].mean()
    grp = tr.groupby("cat")["y"].agg(["sum", "count"])
    a = out[out["cat"] == "a"]["te"].iloc[0]
    want = (grp.loc["a", "sum"] + 20.0 * g) / (grp.loc["a", "count"] + 20.0)
    assert abs(a - round(want, 6)) < 1e-9


def test_quantile_bins_match_numpy(spark, cats):
    edges = fit_quantile_bins(cats, "y", n_bins=4).collect()[0]["bin_edges"]
    want = np.quantile(cats.toPandas()["y"].to_numpy(), [0.25, 0.5, 0.75])
    assert np.allclose(edges, np.round(want, 4))
    out = quantile_bin(cats, "y", n_bins=4).toPandas()
    for _, r in out.iterrows():
        assert r["bin"] == int(sum(r["y"] > e for e in edges))
    # roughly balanced buckets
    counts = out["bin"].value_counts()
    assert set(counts.index) <= {0, 1, 2, 3}


def test_quantile_bins_null_nan_bucket_is_null(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, 2.0), (3, None), (4, float("nan"))],
        "id bigint, y double",
    )
    edges = fit_quantile_bins(df.filter("id <= 2"), "y", n_bins=2)
    out = apply_quantile_bins(df, edges, "y").toPandas().set_index("id")
    assert pd.isna(out.loc[3, "bin"]) and pd.isna(out.loc[4, "bin"])
    assert out.loc[1, "bin"] == 0 and out.loc[2, "bin"] == 1


def test_feature_cross_deterministic_and_bounded(cats):
    a = feature_cross(cats, ["cat", "fold"], n_buckets=8).toPandas()
    b = feature_cross(cats, ["cat", "fold"], n_buckets=8).toPandas()
    assert (a.sort_values("id")["cross_bucket"].to_numpy()
            == b.sort_values("id")["cross_bucket"].to_numpy()).all()
    assert a["cross_bucket"].between(0, 7).all()
    # same (cat, fold) tuple -> same bucket; distinct tuples spread out
    per_tuple = a.groupby(["cat", "fold"])["cross_bucket"].nunique()
    assert (per_tuple == 1).all()
    assert a.groupby(["cat", "fold"])["cross_bucket"].first().nunique() > 1


def test_weighted_sample_determinism_and_bias(spark):
    n = 2000
    df = spark.createDataFrame(
        [(i, 100.0 if i % 10 == 0 else 1.0) for i in range(n)],
        "id bigint, w double",
    )
    s1 = weighted_sample(df, "w", 300, "id", salt="s").toPandas()
    s2 = weighted_sample(df, "w", 300, "id", salt="s").toPandas()
    assert sorted(s1["id"]) == sorted(s2["id"])
    assert len(s1) == 300
    # heavy ids (10% of rows, 100x weight) should dominate the sample
    heavy = (s1["id"] % 10 == 0).mean()
    assert heavy > 0.5
    # A-ES priority parity vs numpy for a few rows
    got = weighted_sample(df, "w", 5, "id", salt="s", priority_col="pri").toPandas()
    import hashlib

    for _, r in got.iterrows():
        hx = hashlib.md5(f"{int(r['id'])}\x1fs".encode()).hexdigest()
        u = (int(hx[:13], 16) + 0.5) / float(1 << 52)
        assert abs(r["pri"] - math.log(u) / r["w"]) < 1e-12


def test_weighted_sample_excludes_nonpositive(spark):
    """Zero/negative/NULL/NaN weights carry no probability mass. The NaN
    case is the sharp one: Spark orders NaN above every number, so an
    unguarded `w > 0` filter admits it and its NaN priority would sort to
    the TOP of the sample."""
    df = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, None), (4, 2.0), (5, float("nan"))],
        "id bigint, w double",
    )
    out = weighted_sample(df, "w", 10, "id").toPandas()
    assert sorted(out["id"]) == [4]


def test_temporal_split_null_ts_is_null_split(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00"), (2, None), (3, None), (4, "2024-01-09 00:00:00")],
        "uid bigint, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    row = temporal_split(df, "ts", "2024-01-05 00:00:00").toPandas().set_index("uid")
    assert pd.isna(row.loc[2, "split"]) and pd.isna(row.loc[3, "split"])
    assert row.loc[1, "split"] == "train" and row.loc[4, "split"] == "test"
    # entity mode: uid 2/3 have no timestamps at all -> NULL split; an
    # entity with SOME timestamps is labeled from the non-null bounds
    ent = temporal_split(
        df, "ts", "2024-01-05 00:00:00", entity_cols="uid"
    ).toPandas().set_index("uid")
    assert pd.isna(ent.loc[2, "split"]) and pd.isna(ent.loc[3, "split"])
    assert ent.loc[1, "split"] == "train" and ent.loc[4, "split"] == "test"


def test_temporal_split_row_mode(spark):
    df = spark.createDataFrame(
        [(i, f"2024-01-0{1 + i} 00:00:00") for i in range(5)],
        "id bigint, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = temporal_split(
        df, "ts", "2024-01-03 00:00:00", embargo_seconds=86400.0
    ).toPandas().set_index("id")["split"]
    assert list(out.loc[[0, 1]]) == ["train", "train"]
    assert out.loc[2] == "embargo"
    assert list(out.loc[[3, 4]]) == ["test", "test"]


def test_temporal_split_entity_mode_quarantines_straddlers(spark):
    rows = [
        (1, "2024-01-01 00:00:00"), (1, "2024-01-02 00:00:00"),  # all before
        (2, "2024-01-02 00:00:00"), (2, "2024-01-05 00:00:00"),  # straddles
        (3, "2024-01-05 00:00:00"), (3, "2024-01-06 00:00:00"),  # all after
        (4, "2024-01-03 12:00:00"),  # inside the embargo window
    ]
    df = spark.createDataFrame(rows, "uid bigint, ts string").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = temporal_split(
        df, "ts", "2024-01-03 00:00:00", embargo_seconds=86400.0,
        entity_cols="uid",
    ).toPandas()
    lab = out.groupby("uid")["split"].agg(["nunique", "first"])
    assert (lab["nunique"] == 1).all()  # entity integrity
    assert lab.loc[1, "first"] == "train"
    assert lab.loc[2, "first"] == "embargo"
    assert lab.loc[3, "first"] == "test"
    assert lab.loc[4, "first"] == "embargo"


def test_temporal_split_no_leakage_boundary(spark):
    """Nothing labeled train is >= cutoff; nothing labeled test is
    < cutoff + embargo — in both modes."""
    df = spark.range(0, 1000).select(
        F.col("id"),
        (F.col("id") % 97).alias("uid"),
        F.timestamp_micros(F.col("id") * 3_600_000_000).alias("ts"),
    )
    cut = "1970-01-10 00:00:00"
    emb = 2 * 86400.0
    for mode in (None, "uid"):
        out = temporal_split(df, "ts", cut, emb, entity_cols=mode)
        bad_train = out.filter(
            (F.col("split") == "train") & (F.col("ts") >= F.lit(cut).cast("timestamp"))
        ).count()
        bad_test = out.filter(
            (F.col("split") == "test")
            & (F.unix_micros("ts") < F.unix_micros(F.lit(cut).cast("timestamp")) + int(emb * 1e6))
        ).count()
        assert bad_train == 0 and bad_test == 0


def test_mixture_rates_math_and_composition(spark):
    from feature_extraction_spark.ops.chunk import mixture_rates, mixture_sample

    rows = []
    did = 0
    for g, n_docs, words in [("a", 400, 10), ("b", 200, 5), ("c", 100, 2)]:
        for _ in range(n_docs):
            rows.append((did, g, " ".join(["w"] * words)))
            did += 1
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    # tokens: a=4000, b=1000, c=200; shares a:0.5 b:0.25 c:0.25
    out = mixture_rates(df, "source", {"a": 0.5, "b": 0.25, "c": 0.25}).toPandas().set_index("source")
    # budget T = min(4000/.5, 1000/.25, 200/.25) = 800 (c binds)
    assert out.loc["c", "rate"] == 1.0
    assert abs(out.loc["a", "rate"] - 0.5 * 800 / 4000) < 1e-9
    assert abs(out.loc["b", "rate"] - 0.25 * 800 / 1000) < 1e-9
    assert set(out["n_tokens"]) == {4000, 1000, 200}
    # group absent from the spec -> rate 0
    out2 = mixture_rates(df, "source", {"a": 1.0}).toPandas().set_index("source")
    assert out2.loc["b", "rate"] == 0.0 and out2.loc["c", "rate"] == 0.0
    assert out2.loc["a", "rate"] == 1.0
    # composition: realized token mixture approximates the target
    rates = {g: float(r) for g, r in out["rate"].items()}
    kept = mixture_sample(df, "source", rates, key_cols="doc_id", salt="mr")
    import pyspark.sql.functions as F
    from feature_extraction_spark.functions.text import ws_tokens_expr

    tk = kept.groupBy("source").agg(
        F.sum(F.size(ws_tokens_expr(F.col("text")))).alias("t")
    ).toPandas().set_index("source")["t"]
    tot = tk.sum()
    assert abs(tk.get("a", 0) / tot - 0.5) < 0.12
    assert abs(tk.get("c", 0) / tot - 0.25) < 0.12


def test_mixture_rates_strict_raises_on_missing_or_empty(spark):
    from feature_extraction_spark.ops.chunk import mixture_rates

    df = spark.createDataFrame(
        [(1, "a", "one two"), (2, "b", ""), (3, "a", "three")],
        "doc_id bigint, source string, text string",
    )
    # 'c' absent entirely; 'b' present but token-empty
    with pytest.raises(ValueError, match=r"missing.*\['c'\]"):
        mixture_rates(df, "source", {"a": 0.5, "c": 0.5}, strict=True)
    with pytest.raises(ValueError, match=r"token-empty: \['b'\]"):
        mixture_rates(df, "source", {"a": 0.5, "b": 0.5}, strict=True)
    # non-strict: token-empty specified group binds budget to 0 with
    # rate 0.0 (never a 0/0 NULL); absent group is dropped
    out = {
        r["source"]: r
        for r in mixture_rates(df, "source", {"a": 0.5, "b": 0.5}).collect()
    }
    assert out["b"]["rate"] == 0.0 and out["a"]["rate"] == 0.0
    out2 = mixture_rates(df, "source", {"a": 0.5, "c": 0.5}).collect()
    assert sorted(r["source"] for r in out2) == ["a", "b"]


def test_mixture_rates_temperature_math(spark):
    from feature_extraction_spark.ops.chunk import mixture_rates_temperature

    rows = []
    did = 0
    for g, n_docs, words in [("a", 400, 10), ("b", 200, 5), ("c", 100, 2)]:
        for _ in range(n_docs):
            rows.append((did, g, " ".join(["w"] * words)))
            did += 1
    # plant a zero-token group: must get share 0 / rate 0 without
    # binding the budget
    rows.append((did, "z", ""))
    df = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    out = (
        mixture_rates_temperature(df, "source", alpha=0.3)
        .toPandas()
        .set_index("source")
    )
    # tokens: a=4000, b=1000, c=200; shares from tok^0.3
    toks = {"a": 4000.0, "b": 1000.0, "c": 200.0}
    z = sum(t ** 0.3 for t in toks.values())
    shares = {g: t ** 0.3 / z for g, t in toks.items()}
    budget = min(toks[g] / shares[g] for g in toks)
    for g in toks:
        assert abs(out.loc[g, "share"] - shares[g]) < 1e-6
        exp_rate = shares[g] * budget / toks[g]
        assert abs(out.loc[g, "rate"] - exp_rate) < 1e-6
    # temperature upweights the low-resource group: the SMALLEST group
    # binds (rate exactly 1.0) and bigger groups are down-sampled harder
    assert out.loc["c", "rate"] == 1.0
    assert out.loc["a", "rate"] < out.loc["b", "rate"] < 1.0
    assert out.loc["z", "share"] == 0.0 and out.loc["z", "rate"] == 0.0
    # alpha=1 reproduces the natural mixture: every rate is 1.0
    nat = (
        mixture_rates_temperature(df, "source", alpha=1.0)
        .toPandas()
        .set_index("source")
    )
    for g in toks:
        assert nat.loc[g, "rate"] == 1.0
    with pytest.raises(ValueError):
        mixture_rates_temperature(df, "source", alpha=0.0)
