"""Continuous streaming dedup: after any prefix of micro-batches the
accumulated pair snapshot equals the batch minhash_lsh_dedup over all
documents ingested so far; batch replay (the crash window) is idempotent."""

import pytest
from pyspark.sql import functions as F

from feature_extraction_spark.ops.dedup import minhash_lsh_dedup
from feature_extraction_spark.sources.snapshots import (
    commit_snapshot,
    last_committed_version,
    read_snapshot,
)
from feature_extraction_spark.streaming.dedup import make_dedup_upserter
from feature_extraction_spark.synth import synth_documents


def _pairs_set(df):
    return {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in df.collect()}


def _state_pairs(spark, state_dir):
    t = f"{state_dir}/pairs"
    v = last_committed_version(spark, t)
    assert v is not None
    return _pairs_set(read_snapshot(spark, t, v))


@pytest.fixture(scope="module")
def docs(spark):
    d = synth_documents(spark, n_docs=300, seed=13).cache()
    d.count()
    return d


def test_direct_upserts_match_batch_prefixes(spark, docs, tmp_path):
    state = str(tmp_path / "state")
    up = make_dedup_upserter(state, threshold=0.8)
    b0 = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)

    up(b0, 0)
    assert _state_pairs(spark, state) == _pairs_set(
        minhash_lsh_dedup(b0, threshold=0.8)
    )
    up(b1, 1)
    assert _state_pairs(spark, state) == _pairs_set(
        minhash_lsh_dedup(b0.unionByName(b1), threshold=0.8)
    )
    up(b2, 2)
    full = _pairs_set(minhash_lsh_dedup(docs, threshold=0.8))
    assert _state_pairs(spark, state) == full

    # replay of an already-committed batch is a no-op
    up(b2, 2)
    assert _state_pairs(spark, state) == full


def test_replay_after_partial_commit_is_idempotent(spark, docs, tmp_path):
    """The crash window: bands+docs committed, pairs not. Simulated by
    folding batch 1 twice with a FRESH pairs watermark (batch ids 1 then
    2, same rows) — the anti-join guards must keep bands/docs/pairs
    identical to the single-fold result."""
    state = str(tmp_path / "state")
    up = make_dedup_upserter(state, threshold=0.8)
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    up(b0, 0)
    up(b1, 1)
    once = _state_pairs(spark, state)
    bands_once = read_snapshot(
        spark, f"{state}/bands",
        last_committed_version(spark, f"{state}/bands"),
    ).count()
    docs_once = read_snapshot(
        spark, f"{state}/docs",
        last_committed_version(spark, f"{state}/docs"),
    ).count()
    up(b1, 2)  # same rows, new batch id — the replay-with-advanced-id case
    assert _state_pairs(spark, state) == once
    assert read_snapshot(
        spark, f"{state}/bands",
        last_committed_version(spark, f"{state}/bands"),
    ).count() == bands_once
    assert read_snapshot(
        spark, f"{state}/docs",
        last_committed_version(spark, f"{state}/docs"),
    ).count() == docs_once


def test_real_stream_availablenow(spark, docs, tmp_path):
    """End-to-end through Structured Streaming: two availableNow catch-ups
    over a growing parquet source; the pair snapshot equals the batch run."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)
    first.write.mode("append").parquet(src)

    def catchup():
        stream = spark.readStream.schema(docs.schema).parquet(src)
        up = make_dedup_upserter(state, threshold=0.8, stream_key=ckpt)
        q = (
            stream.writeStream.option("checkpointLocation", ckpt)
            .foreachBatch(up)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    catchup()
    assert _state_pairs(spark, state) == _pairs_set(
        minhash_lsh_dedup(first, threshold=0.8)
    )
    second.write.mode("append").parquet(src)
    catchup()
    assert _state_pairs(spark, state) == _pairs_set(
        minhash_lsh_dedup(docs, threshold=0.8)
    )


def test_batch_from_another_stream_raises(spark, docs, tmp_path):
    """A stream restarted with a fresh checkpoint restarts its batch ids at
    0. Its batches must be refused, not skipped as replays of the old
    stream's ids (that would silently drop them) and not folded (the fresh
    query re-reads the corpus from the start)."""
    state = str(tmp_path / "state")
    up_a = make_dedup_upserter(state, threshold=0.8, stream_key="A")
    up_a(docs.filter(F.col("doc_id") % 2 == 0), 0)
    up_a(docs.filter(F.col("doc_id") % 2 == 1), 1)
    t = f"{state}/pairs"
    v = last_committed_version(spark, t)
    before = _state_pairs(spark, state)
    up_b = make_dedup_upserter(state, threshold=0.8, stream_key="B")
    with pytest.raises(RuntimeError, match="'A'"):
        up_b(docs.filter(F.col("doc_id") % 2 == 0), 0)
    assert last_committed_version(spark, t) == v
    assert _state_pairs(spark, state) == before


def test_string_id_corpus_keeps_declared_pair_schema(spark, docs, tmp_path):
    """ADVICE r3: the pairs state schema is derived from the batch id type
    (not a hardcoded bigint DDL), so a string-id corpus commits string
    id_a/id_b from batch 1 onward and later batches union cleanly."""
    sdocs = docs.withColumn(
        "doc_id", F.concat(F.lit("doc-"), F.col("doc_id"))
    ).cache()
    state = str(tmp_path / "state_str")
    up = make_dedup_upserter(state, threshold=0.8)
    # batch 0 chosen to produce ZERO pairs (single doc) — the empty-pairs
    # frame is exactly what used to pin the wrong bigint schema
    up(sdocs.limit(1), 0)
    t = f"{state}/pairs"
    v0 = last_committed_version(spark, t)
    s0 = read_snapshot(spark, t, v0)
    assert dict(s0.dtypes)["id_a"] == "string"
    up(sdocs, 1)
    v1 = last_committed_version(spark, t)
    got = read_snapshot(spark, t, v1)
    assert dict(got.dtypes)["id_a"] == "string"
    exp = minhash_lsh_dedup(sdocs, threshold=0.8)
    assert _pairs_set(got) == _pairs_set(exp)


def test_band_state_under_another_lsh_config_is_refused(spark, docs, tmp_path):
    """A bands snapshot records the LSH config it was built with; folding a
    batch under another config, or into a state without that record, raises
    instead of probing bands that cannot collide with the batch's."""
    b0 = docs.filter(F.col("doc_id") % 2 == 0)
    b1 = docs.filter(F.col("doc_id") % 2 == 1)
    state = str(tmp_path / "state")
    make_dedup_upserter(state, num_hashes=64, bands=16)(b0, 0)
    with pytest.raises(ValueError, match="rebuild the state"):
        make_dedup_upserter(state)(b1, 1)

    bare = str(tmp_path / "bare")
    commit_snapshot(
        spark.createDataFrame([(0, 0, 0)], "id long, band int, bucket long"),
        f"{bare}/bands",
    )
    with pytest.raises(ValueError, match="rebuild the state"):
        make_dedup_upserter(bare)(b1, 0)
