"""BM25 / TF-IDF: parity vs the pure-python oracle and plan-shape checks."""

import numpy as np
import pytest

from feature_extraction_spark.oracle import kernels as ok
from feature_extraction_spark.ops.ranking import bm25_topk

DOCS = [
    (0, "hash join beats nested loop join on large tables"),
    (1, "the vector scan reads column batches"),
    (2, "join join join join join"),
    (3, None),
    (4, ""),
    (5, "hash partitioning and hash aggregation with a hash table"),
    (6, "merge sort order by limit offset"),
    (7, "scan filter project join aggregate sort exchange"),
]
QUERY = "hash JOIN scan"


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_bm25_parity(docs_df):
    got = bm25_topk(docs_df, QUERY, k=8).toPandas()
    exp = ok.bm25_scores({i: t for i, t in DOCS}, QUERY)
    # same doc set (only matching docs), same scores
    assert set(got["doc_id"]) == set(exp)
    for _, r in got.iterrows():
        assert np.allclose(r["bm25"], exp[r["doc_id"]]), (
            r["doc_id"], r["bm25"], exp[r["doc_id"]]
        )
    # ranking is score-desc, id-asc
    keys = [(-exp[i], i) for i in got["doc_id"]]
    assert keys == sorted(keys)


def test_bm25_k_limits(docs_df):
    got = bm25_topk(docs_df, QUERY, k=2).toPandas()
    exp = ok.bm25_scores({i: t for i, t in DOCS}, QUERY)
    top2 = sorted(exp, key=lambda i: (-exp[i], i))[:2]
    assert list(got["doc_id"]) == top2


def test_bm25_empty_query(docs_df):
    assert bm25_topk(docs_df, "   ", k=5).count() == 0


def test_bm25_repeated_query_terms_dedup(docs_df):
    a = bm25_topk(docs_df, "join join hash scan hash", k=8).toPandas()
    b = bm25_topk(docs_df, "join hash scan", k=8).toPandas()
    assert a.equals(b)


def test_bm25_no_corpus_grain_shuffle(docs_df):
    """The exploded stream must be filtered to query terms BEFORE the
    explode: the physical plan's Generate input carries an array filter."""
    plan = bm25_topk(docs_df, QUERY, k=5)._jdf.queryExecution().optimizedPlan().toString()
    gen = [ln for ln in plan.split("\n") if "Generate" in ln or "explode" in ln.lower()]
    assert any("filter" in ln.lower() for ln in gen), plan
