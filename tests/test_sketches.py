"""Sketch aggregates (ops/sketches.py): every approximation is tested
against the exact answer with its published error bound."""


def test_heavy_hitters_exact_when_capacity_suffices(spark, transcripts):
    from collections import Counter

    from feature_extraction_spark.ops.sketches import heavy_hitter_terms

    got = heavy_hitter_terms(transcripts, k=15, capacity=200_000).toPandas()
    texts = [r["text"] for r in transcripts.select("text").collect()]
    exact = Counter(w for t in texts for w in (t or "").lower().split())
    top = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:15]
    assert [(r["term"], r["est_count"]) for _, r in got.iterrows()] == top
    assert (got["max_undercount"] == 0).all()


def test_heavy_hitters_mg_guarantee_under_pressure(spark):
    """Small capacity on skewed data: every estimate obeys
    true - max_undercount <= est <= true, and the heaviest item wins."""
    from collections import Counter

    import pyspark.sql.functions as F

    from feature_extraction_spark.ops.sketches import heavy_hitters

    n = 20_000
    # zipf-ish: item_j with frequency ~ n/(j+1)
    df = spark.range(n).select(
        F.concat(
            F.lit("item_"),
            F.floor(F.sqrt(F.col("id") % 10_000)).cast("string"),
        ).alias("term")
    ).repartition(8)
    rows = [r["term"] for r in df.collect()]
    exact = Counter(rows)
    got = heavy_hitters(df, col="term", k=10, capacity=16).toPandas()
    assert len(got) == 10
    und = int(got["max_undercount"].iloc[0])
    assert 0 < und <= len(rows) // (16 + 1) * 8  # per-partition sum bound
    for _, r in got.iterrows():
        true = exact[r["term"]]
        assert r["est_count"] <= true <= r["est_count"] + und, (
            r["term"], r["est_count"], true, und
        )
    # the true heaviest item must be ranked first
    heaviest = max(exact.items(), key=lambda kv: kv[1])[0]
    assert got["term"].iloc[0] == heaviest


def test_heavy_hitters_null_safe(spark):
    import pyspark.sql.functions as F

    from feature_extraction_spark.ops.sketches import heavy_hitters

    df = spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",)], "term string"
    )
    got = heavy_hitters(df, col="term", k=5, capacity=10).toPandas()
    assert list(got["term"]) == ["a", "b"]
    assert list(got["est_count"]) == [2, 1]
