"""Learned document-quality filter — the model-based stage that follows
heuristic rules in the standard LLM-data pipeline (GPT-3 appendix A /
CCNet: train a linear classifier to prefer reference-corpus-like text,
filter the crawl by predicted probability).

Spark-first shape: the features are the engine's own native q_* columns
(ops/textquality.with_quality_score — pure JVM expressions), assembled
row-locally into an ml vector; the model is Spark-ML LogisticRegression
(distributed L-BFGS, deterministic for fixed data/params). Scoring is one
broadcast of the coefficient vector + row-local math — no shuffle at all;
at 100 TB the filter is a map-only pass whose predicate can feed a
parquet/partition pruning write.

Labels: any boolean/0-1 column. The registry's frozen model was trained
on a planted corpus (``__spark_entry__._qm_planted``);
tests/test_trainer_provenance.py re-fits it and checks the literals.

Oracle contract (r5): the SCORING path is value-oracled in the driver —
`quality_model_docs` freezes trained coefficients as literals (same
contract as the BPE merge list / PQ codebook) and DuckDB replays
sigmoid(w·x + b) over first-principles features. Only the TRAINER
(iterative L-BFGS) is SQL-inexpressible; its value evidence is
tests/test_quality_model.py (planted separable corpora, AUC on held-out
split, NaN-document scoring, refit determinism).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.ops.textquality import with_quality_score

QUALITY_FEATURES = [
    "q_n_chars",
    "q_n_words",
    "q_mean_word_len",
    "q_punct_ratio",
    "q_upper_ratio",
    "q_stopword_ratio",
    "q_distinct_ratio",
]


@dataclass
class QualityModel:
    """Fitted classifier as plain data: the exact feature recipe plus the
    learned weights. Deliberately NOT the Spark-ML model object — the
    fitted LogisticRegressionModel carries its training summary, whose
    SparkSession reference makes any closure that captures the model
    unserializable once the session has live observations (the engine's
    lineage metrics register those). Plain floats sidestep that entirely
    and let scoring run as native column expressions."""

    features: list[str]
    coefficients: list[float]
    intercept: float


def _imputed_features(features: list[str]) -> list:
    """NaN/NULL -> 0 imputation per feature column — THE single definition
    shared by training (_feature_vector) and scoring (score_quality). The
    model is only correct when scoring imputes bit-identically to
    training, so the recipe must not exist twice (empty or whitespace-only
    docs carry NaN ratios by the library's convention; the model must
    score them, not reject the rows)."""
    return [
        F.when(F.isnan(F.col(c)) | F.col(c).isNull(), 0.0)
        .otherwise(F.col(c))
        .cast("double")
        for c in features
    ]


def _feature_vector(df: DataFrame, text_col: str) -> DataFrame:
    """q_* columns -> ml dense vector via the shared imputation recipe."""
    from pyspark.ml.functions import array_to_vector

    df = with_quality_score(df, text_col=text_col)
    arr = F.array(*_imputed_features(QUALITY_FEATURES))
    return df.withColumn("_qfeat", array_to_vector(arr))


def train_quality_classifier(
    df: DataFrame,
    label_col: str = "label",
    text_col: str = "text",
    reg_param: float = 0.0,
    max_iter: int = 50,
) -> QualityModel:
    """Fit logistic regression on the native quality features. Built-in
    feature standardization (LR default) makes the raw-count columns
    (chars/words) commensurable with the ratio columns."""
    from pyspark.ml.classification import LogisticRegression

    train = _feature_vector(df, text_col).select(
        F.col(label_col).cast("double").alias("label"), F.col("_qfeat")
    )
    lr = LogisticRegression(
        featuresCol="_qfeat", labelCol="label", regParam=reg_param, maxIter=max_iter
    )
    fitted = lr.fit(train)
    return QualityModel(
        features=list(QUALITY_FEATURES),
        coefficients=[float(c) for c in fitted.coefficients],
        intercept=float(fitted.intercept),
    )


def score_quality(
    model: QualityModel,
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "q_model_prob",
) -> DataFrame:
    """Add P(high quality) per document as sigmoid(w·x + b) in NATIVE
    column expressions — the weights are literals folded into the plan, so
    the whole scorer stays inside whole-stage codegen (no ScalaUDF, no
    model object shipped to executors). Map-only: no shuffle. Identical
    math to LogisticRegressionModel.transform's binary probability
    (Spark ML returns original-scale coefficients even when it trained
    standardized)."""
    feat = with_quality_score(df, text_col=text_col)
    imputed = _imputed_features(model.features)
    margin = F.lit(float(model.intercept))
    for w, x in zip(model.coefficients, imputed):
        margin = margin + F.lit(float(w)) * x
    return feat.withColumn(out_col, F.lit(1.0) / (F.lit(1.0) + F.exp(-margin)))


def quality_filter(
    model: QualityModel,
    df: DataFrame,
    min_prob: float = 0.5,
    text_col: str = "text",
) -> DataFrame:
    """Keep documents the classifier scores at or above ``min_prob``.
    GPT-3 instead keeps a stochastic Pareto-lottery of low scorers to
    avoid hard distribution cuts; compose ``score_quality`` with
    ``mixture_sample`` on the low-score slice for that behavior."""
    return score_quality(model, df, text_col).filter(
        F.col("q_model_prob") >= min_prob
    )
