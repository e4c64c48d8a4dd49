"""Learned quality filter: separable planted corpora, held-out scoring,
gopher weak labels, NaN-document handling, and the filter contract."""

import pytest
from pyspark.sql import functions as F

from feature_extraction_spark.ops.quality_model import (
    quality_filter,
    score_quality,
    train_quality_classifier,
)

GOOD = [
    "the committee said that it would have to review the proposal and "
    "that many of the details were still to be worked out with care",
    "we walked to the market in the morning and bought bread with the "
    "money that the neighbors had given to us for the small repairs",
    "she explained that the results of the study were consistent with "
    "what the earlier work had shown and that more data would help",
    "the river rises in the hills to the north and flows past the town "
    "where the old mill still stands beside the stone bridge",
]
BAD = [
    "buy buy buy buy buy buy buy buy buy buy buy buy buy buy buy buy",
    "!!! $$$ WIN NOW !!! $$$ CLICK CLICK CLICK !!! $$$ FREE FREE !!!",
    "zzzz qqqq xxxx zzzz qqqq xxxx zzzz qqqq xxxx zzzz qqqq xxxx",
    "AAAAA BBBBB AAAAA BBBBB AAAAA BBBBB AAAAA BBBBB AAAAA BBBBB",
]


@pytest.fixture(scope="module")
def labeled(spark):
    rows = [(i, t, 1.0) for i, t in enumerate(GOOD)]
    rows += [(100 + i, t, 0.0) for i, t in enumerate(BAD)]
    return spark.createDataFrame(rows, "doc_id long, text string, label double")


@pytest.fixture(scope="module")
def model(labeled):
    return train_quality_classifier(labeled)


def test_separates_planted_classes(spark, model):
    # held-out docs, same distributions, unseen by training
    held = spark.createDataFrame(
        [
            (0, "the workers said that they would have to finish the wall "
                "before the rain came and that the tools were in the shed"),
            (1, "$$$ WIN WIN WIN !!! CLICK NOW NOW NOW $$$ FREE FREE FREE"),
            (2, "spam spam spam spam spam spam spam spam spam spam spam"),
        ],
        "doc_id long, text string",
    )
    probs = {r.doc_id: r.q_model_prob for r in score_quality(model, held).collect()}
    assert probs[0] > 0.5
    assert probs[1] < 0.5 and probs[2] < 0.5


def test_score_in_unit_interval_and_rows_preserved(labeled, model):
    out = score_quality(model, labeled)
    assert out.count() == labeled.count()
    vals = [r.q_model_prob for r in out.collect()]
    assert all(0.0 <= v <= 1.0 for v in vals)


def test_nan_doc_gets_scored_not_dropped(spark, model):
    weird = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, None)], "doc_id long, text string"
    )
    out = score_quality(model, weird).collect()
    assert len(out) == 3
    assert all(r.q_model_prob is not None for r in out)


def test_quality_filter_threshold(labeled, model):
    kept = quality_filter(model, labeled, min_prob=0.5)
    ids = {r.doc_id for r in kept.collect()}
    assert ids == set(range(len(GOOD)))  # exactly the planted good docs


def test_gopher_weak_labels_train_end_to_end(spark):
    """The Gopher keep-decision as a weak label trains a classifier that
    scores the kept documents above the rejected ones."""
    from feature_extraction_spark.ops.gopher import with_gopher_quality

    # long docs that pass gopher's min_words=50 WITHOUT tripping the
    # duplicate-n-gram rules: each joins all four distinct good sentences
    # with a per-doc marker (repeating one sentence x4 fails dup_5gram)
    good_long = [
        (i, f"on day number {i} " + " and then ".join(GOOD))
        for i in range(6)
    ]
    bad_long = [(100 + i, (BAD[i % len(BAD)] + " ") * 4) for i in range(6)]
    df = spark.createDataFrame(good_long + bad_long, "doc_id long, text string")
    lab = with_gopher_quality(df).withColumn(
        "label", F.col("gopher_keep").cast("double")
    )
    counts = {r.label: r["count"] for r in lab.groupBy("label").count().collect()}
    assert counts.get(1.0, 0) > 0 and counts.get(0.0, 0) > 0
    m = train_quality_classifier(lab.select("doc_id", "text", "label"))
    scored = score_quality(m, df)
    mean_good = scored.filter(F.col("doc_id") < 100).agg(
        F.avg("q_model_prob")
    ).collect()[0][0]
    mean_bad = scored.filter(F.col("doc_id") >= 100).agg(
        F.avg("q_model_prob")
    ).collect()[0][0]
    assert mean_good > mean_bad


def test_score_with_live_session_observations(spark, labeled, model):
    # Regression: scoring must not serialize any object graph that reaches
    # the SparkSession. The fitted Spark-ML model's training summary holds
    # one, and sessions with registered Observations (the engine's lineage
    # metrics) make that graph unserializable — a closure capturing the
    # model dies with NotSerializableException: ObservationManager. The
    # QualityModel is plain floats and scoring is native expressions, so
    # this must pass regardless of session observation state.
    from pyspark.sql import Observation

    obs = Observation("qm_live_obs")
    labeled.observe(obs, F.count(F.lit(1)).alias("n")).collect()
    assert obs.get["n"] == labeled.count()
    out = score_quality(model, labeled)
    probs = [r.q_model_prob for r in out.collect()]
    assert all(0.0 <= p <= 1.0 for p in probs)
