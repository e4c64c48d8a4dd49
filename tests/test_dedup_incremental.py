"""Incremental MinHash-LSH dedup: the full-corpus pair set must equal the
old-corpus pair set plus the increment's pairs, the band state must compose
across increments, and increment pairs must all touch a new document."""

import pytest
from pyspark.sql import functions as F

from feature_extraction_spark.ops.dedup import (
    minhash_band_state,
    minhash_lsh_dedup,
    minhash_lsh_dedup_incremental,
)
from feature_extraction_spark.synth import synth_documents

# the 128/32 defaults give full recall at threshold 0.8:
# P(miss) ~ (1 - 0.8^4)^32 = 4e-8


@pytest.fixture(scope="module")
def docs(spark):
    d = synth_documents(spark, n_docs=400, seed=11).cache()
    d.count()
    return d


def _pairs(df):
    return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect()}


def _state(df):
    return {(r.id, r.band, r.bucket) for r in df.collect()}


def test_incremental_equals_full(docs):
    old = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    full = _pairs(minhash_lsh_dedup(docs, threshold=0.8))
    assert full, "fixture must plant near-dup pairs"
    old_pairs = _pairs(minhash_lsh_dedup(old, threshold=0.8))
    state = minhash_band_state(old)
    inc, new_state = minhash_lsh_dedup_incremental(
        state, old, new, threshold=0.8
    )
    inc_pairs = _pairs(inc)
    assert old_pairs | inc_pairs == full
    # every incremental pair touches at least one NEW doc
    new_ids = {r.doc_id for r in new.select("doc_id").collect()}
    assert all(a in new_ids or b in new_ids for a, b, _ in inc_pairs)
    assert inc_pairs.isdisjoint(old_pairs)
    # the returned state is exactly the full corpus's band state
    assert _state(new_state) == _state(minhash_band_state(docs))


def test_two_increments_compose(docs):
    p0 = docs.filter(F.col("doc_id") % 3 == 0)
    p1 = docs.filter(F.col("doc_id") % 3 == 1)
    p2 = docs.filter(F.col("doc_id") % 3 == 2)
    acc = _pairs(minhash_lsh_dedup(p0, threshold=0.8))
    state = minhash_band_state(p0)
    inc1, state = minhash_lsh_dedup_incremental(
        state, p0, p1, threshold=0.8
    )
    acc |= _pairs(inc1)
    inc2, state = minhash_lsh_dedup_incremental(
        state, p0.unionByName(p1), p2, threshold=0.8
    )
    acc |= _pairs(inc2)
    assert acc == _pairs(minhash_lsh_dedup(docs, threshold=0.8))
    assert _state(state) == _state(minhash_band_state(docs))


def test_empty_increment_is_noop(docs, spark):
    old = docs.filter(F.col("doc_id") % 2 == 0)
    empty = docs.filter(F.lit(False))
    state = minhash_band_state(old)
    inc, new_state = minhash_lsh_dedup_incremental(
        state, old, empty, threshold=0.8
    )
    assert inc.count() == 0
    assert _state(new_state) == _state(state)
