"""U8 LDA topic model: two-vocabulary corpus separates cleanly, mixtures
are proper distributions, seeded runs reproduce, and empty/pruned docs
keep a row (reference analog: archived/train_topic_model.py:67-169)."""

import math

import pytest
from pyspark.sql import functions as F

from feature_extraction_spark.ops.topics import (
    doc_topics,
    train_topics,
)

# two disjoint vocabularies — sports vs cooking — with per-doc variation so
# the df filter keeps every content word but LDA sees distinct documents
SPORT = "goal striker keeper defender midfield pitch referee corner tackle"
COOK = "flour butter sugar oven yeast dough whisk simmer saucepan"


def _mk(words, i, n=30):
    ws = words.split()
    return " ".join(ws[(i + j) % len(ws)] for j in range(n))


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [(i, _mk(SPORT, i)) for i in range(10)]
    rows += [(100 + i, _mk(COOK, i)) for i in range(10)]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def model(corpus):
    # "em" at toy scale: the online optimizer (the 100 TB default) needs a
    # real corpus to escape its degenerate one-topic optimum on 20 docs;
    # em recovers the planted structure exactly and is seeded-deterministic
    return train_topics(corpus, k=2, min_df=2, max_iter=30, seed=7, optimizer="em")


def test_two_topic_purity(corpus, model):
    out = doc_topics(model, corpus).collect()
    assert len(out) == 20
    by_cluster = {0: set(), 1: set()}
    for r in out:
        by_cluster[0 if r.doc_id < 100 else 1].add(r.dominant_topic)
    # each ground-truth cluster maps to ONE topic, and they differ
    assert all(len(s) == 1 for s in by_cluster.values())
    assert by_cluster[0] != by_cluster[1]


def test_mixtures_are_distributions(corpus, model):
    out = doc_topics(model, corpus).collect()
    for r in out:
        assert len(r.topic_weights) == 2
        assert math.isclose(sum(r.topic_weights), 1.0, rel_tol=1e-9)
        assert all(w >= 0 for w in r.topic_weights)
        assert math.isclose(
            r.dominant_weight, max(r.topic_weights), rel_tol=1e-12
        )


def test_topic_terms_vocabularies_separate(model):
    """Each topic's top terms (the reference's ``show_topics`` view) come
    from exactly one ground-truth vocabulary."""
    topics = model.lda_model.describeTopics(5).collect()
    assert len(topics) == 2
    sport, cook = set(SPORT.split()), set(COOK.split())
    for r in topics:
        tset = {model.vocabulary[i] for i in r["termIndices"]}
        assert tset <= sport or tset <= cook
        assert all(w > 0 for w in r["termWeights"])


def test_seeded_reproducibility(corpus, model):
    m2 = train_topics(corpus, k=2, min_df=2, max_iter=30, seed=7, optimizer="em")
    a = {r.doc_id: r.topic_weights for r in doc_topics(model, corpus).collect()}
    b = {r.doc_id: r.topic_weights for r in doc_topics(m2, corpus).collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == pytest.approx(b[k], rel=1e-12)


def test_pruned_doc_keeps_row(spark, model, corpus):
    # a doc whose every token is out-of-vocab (df=1 < min_df) still gets a
    # mixture row: the prior, not a dropped row
    extra = spark.createDataFrame(
        [(999, "zzzuniquetoken qqqsingleton")], "doc_id long, text string"
    )
    out = doc_topics(model, corpus.unionByName(extra))
    row = out.filter(F.col("doc_id") == 999).collect()
    assert len(row) == 1
    assert math.isclose(sum(row[0].topic_weights), 1.0, rel_tol=1e-9)


def test_single_doc_scoring_uses_trained_vocab(spark, model):
    # Regression: scoring must prune against the TRAINED vocabulary, not a
    # document-frequency filter re-derived from the scoring corpus. With
    # the old behavior a 1-doc scoring call had df=1 for every token
    # (< min_df=2), pruned everything, and returned the uniform prior for
    # any input. A single on-topic doc must score a non-uniform mixture.
    one = spark.createDataFrame([(7777, _mk(SPORT, 3))], "doc_id long, text string")
    row = doc_topics(model, one).collect()
    assert len(row) == 1
    w = row[0].topic_weights
    assert math.isclose(sum(w), 1.0, rel_tol=1e-9)
    assert max(w) > 0.6  # decisively not the uniform [0.5, 0.5] prior
