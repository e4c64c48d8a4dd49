"""Streaming feature-store maintenance: incremental snapshot state ==
batch recomputation, and batch-replay idempotency."""

import pytest
from pyspark.sql import functions as F

from feature_extraction_spark.ops.incremental import partial_stat_state
from feature_extraction_spark.sources.snapshots import (
    _committed_versions,
    last_committed_version,
    read_manifest,
    read_snapshot,
)
from feature_extraction_spark.streaming.feature_store import make_state_upserter


def _state_rows(state):
    cols = ("conv_id", "n", "sum", "sumsq", "min", "max")
    return sorted(state.select(*cols).collect())


def _assert_state_equals_batch(spark, state, t):
    """The streamed state's raw (n, sum, sumsq, min, max) per entity equal
    one ``partial_stat_state`` over all of the input ``t``. Exact: the
    values are integer text lengths, so every sum is exact in a double."""
    got = _state_rows(read_snapshot(spark, state))
    assert got == _state_rows(partial_stat_state(t, "value"))


def _turns_with_value(transcripts):
    return transcripts.withColumn(
        "value", F.length(F.coalesce(F.col("text"), F.lit(""))).cast("double")
    )


def _catchup(stream, state, ckpt):
    """One availableNow run of ``stream`` folded into ``state``; the
    checkpoint location doubles as the stream identity."""
    return (
        stream.writeStream.option("checkpointLocation", ckpt)
        .foreachBatch(make_state_upserter(state, "value", stream_key=ckpt))
        .trigger(availableNow=True)
        .start()
    )


def test_stream_state_matches_batch_over_two_catchups(
    spark, transcripts, tmp_path
):
    """Two availableNow catch-up runs over a growing parquet source: the
    final state equals one batch aggregation over everything."""
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    t = _turns_with_value(transcripts)
    first = t.filter(F.col("turn_idx") % 2 == 0)
    second = t.filter(F.col("turn_idx") % 2 == 1)
    first.write.mode("append").parquet(src)

    def run_catchup():
        stream = spark.readStream.schema(t.schema).parquet(src)
        _catchup(stream, state, ckpt).awaitTermination(120)

    run_catchup()
    v1 = last_committed_version(spark, state)
    assert v1 is not None

    second.write.mode("append").parquet(src)
    run_catchup()
    v2 = last_committed_version(spark, state)
    assert v2 > v1

    _assert_state_equals_batch(spark, state, t)


def test_upsert_replay_is_idempotent(spark, transcripts, tmp_path):
    """Re-delivering the same batch_id (the crash window between snapshot
    commit and stream checkpoint advance) must not double-count."""
    state = str(tmp_path / "state2")
    t = _turns_with_value(transcripts).limit(500)
    up = make_state_upserter(state, "value", level="conv")
    up(t, 0)
    v_after = last_committed_version(spark, state)
    before = (
        read_snapshot(spark, state).orderBy("conv_id").toPandas()
    )
    up(t, 0)  # replay
    assert last_committed_version(spark, state) == v_after
    after = read_snapshot(spark, state).orderBy("conv_id").toPandas()
    assert before.equals(after)
    # a NEW batch does advance the state
    up(t, 1)
    assert last_committed_version(spark, state) == v_after + 1
    m = read_manifest(spark, state, v_after + 1)
    assert m["stream_batch_id"] == 1
    _assert_state_equals_batch(spark, state, t.unionByName(t))


def test_fresh_checkpoint_raises_not_silently_skips(spark, transcripts, tmp_path):
    """A stream restarted with a NEW checkpoint restarts batch ids at 0; a
    bare numeric watermark would silently discard all its batches (data
    loss) or double-count history. The upserter must refuse loudly unless
    the caller declares a deliberate handover."""
    import pytest

    state = str(tmp_path / "state3")
    t = _turns_with_value(transcripts).limit(500)
    up_a = make_state_upserter(state, "value", level="conv", stream_key="ckpt-A")
    up_a(t, 0)
    up_a(t, 1)
    up_b = make_state_upserter(state, "value", level="conv", stream_key="ckpt-B")
    with pytest.raises(RuntimeError, match="ckpt-A"):
        up_b(t, 0)
    # deliberate handover: batch 0 of the new stream FOLDS (no skip) and
    # takes over the recorded identity
    v_before = last_committed_version(spark, state)
    up_b2 = make_state_upserter(
        state, "value", level="conv", stream_key="ckpt-B",
        allow_stream_handover=True,
    )
    up_b2(t, 0)
    v_after = last_committed_version(spark, state)
    assert v_after == v_before + 1
    m = read_manifest(spark, state, v_after)
    assert m["stream_key"] == "ckpt-B" and m["stream_batch_id"] == 0
    # ...and the new identity's replay guard works from there
    up_b2(t, 0)
    assert last_committed_version(spark, state) == v_after


def test_retention_bounds_snapshot_storage(spark, transcripts, tmp_path):
    """An always-on stream overwrite-commits a full state copy per batch;
    keep_snapshots must bound the table directory instead of letting it
    grow as batches x |state|."""
    state = str(tmp_path / "state4")
    t = _turns_with_value(transcripts).limit(300)
    up = make_state_upserter(
        state, "value", level="conv", stream_key="ck", keep_snapshots=2
    )
    for b in range(5):
        up(t.filter(F.col("turn_idx") % 5 == b), b)
    vs = _committed_versions(spark, state)
    assert vs == [4, 5]  # exactly keep_snapshots survivors
    # latest state still reads fine and equals the full-batch aggregation
    _assert_state_equals_batch(spark, state, t)


def test_crash_between_microbatches_restart_equals_uninterrupted(
    spark, transcripts, tmp_path
):
    """Kill the query mid-run (after some micro-batches committed, with
    the next batch's offsets already WAL-ed — the real crash window),
    restart from the same checkpoint dir, and assert the final state
    equals an uninterrupted run over the same source. Replay idempotence
    implies this; this demonstrates it under an actual query restart."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    src = str(tmp_path / "crash_src")
    state = str(tmp_path / "crash_state")
    ckpt = str(tmp_path / "crash_ckpt")
    t = _turns_with_value(transcripts).limit(600)
    # several files -> several micro-batches under maxFilesPerTrigger=1
    t.repartition(5).write.parquet(src)
    schema = t.schema

    def reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )

    real = make_state_upserter(state, "value", level="conv", stream_key=ckpt)
    seen = {"n": 0}

    def bomb(batch_df, batch_id):
        if seen["n"] == 2:
            raise RuntimeError("injected crash between micro-batches")
        real(batch_df, batch_id)
        seen["n"] += 1

    q = (
        reader().writeStream.option("checkpointLocation", ckpt)
        .outputMode("update").foreachBatch(bomb)
        .trigger(availableNow=True).start()
    )
    with pytest.raises(StreamingQueryException, match="injected crash"):
        q.awaitTermination(120)
    v_crashed = last_committed_version(spark, state)
    assert v_crashed is not None  # some batches landed before the crash

    # restart from the SAME checkpoint with the plain upserter: resumes at
    # the failed batch (same batch_id, same data) and drains the rest
    q2 = (
        reader().writeStream.option("checkpointLocation", ckpt)
        .outputMode("update").foreachBatch(real)
        .trigger(availableNow=True).start()
    )
    q2.awaitTermination(120)
    assert last_committed_version(spark, state) > v_crashed

    # uninterrupted reference run over the same source
    state_ref = str(tmp_path / "ref_state")
    ckpt_ref = str(tmp_path / "ref_ckpt")
    _catchup(reader(), state_ref, ckpt_ref).awaitTermination(120)

    got = _state_rows(read_snapshot(spark, state))
    assert got == _state_rows(read_snapshot(spark, state_ref))
    # and both equal the plain batch aggregation of the source
    _assert_state_equals_batch(spark, state, spark.read.parquet(src))
