"""The frozen registry literals are what their trainers produce.

`pq_codes_emb` / `pq_adc_topk_emb` score with `_PQ_CODEBOOK` and
`quality_model_docs` with `_QM_COEF` / `_QM_INTERCEPT`. Those literals were
fitted once on the sf0.01 testdata; re-fitting with the same
parameters must reproduce them exactly, so the trainers stay the
provenance of what the queries serve.
"""

import os

import pytest

import __spark_entry__ as e
from feature_extraction_spark.ops.pq import pq_train
from feature_extraction_spark.ops.quality_model import (
    QUALITY_FEATURES,
    train_quality_classifier,
)

SF = os.path.join(os.path.dirname(e.SF1), "sf0.01")

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF), reason="sf0.01 testdata not present"
)


def test_pq_train_reproduces_frozen_codebook(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    cb = pq_train(emb, m=8, k=8, iters=2)
    rounded = [[[round(x, 4) for x in cent] for cent in sub] for sub in cb]
    assert rounded == e._PQ_CODEBOOK


def test_train_quality_classifier_reproduces_frozen_model(spark):
    model = train_quality_classifier(e._qm_planted(spark, SF))
    assert model.features == QUALITY_FEATURES
    assert model.coefficients == e._QM_COEF
    assert model.intercept == e._QM_INTERCEPT
