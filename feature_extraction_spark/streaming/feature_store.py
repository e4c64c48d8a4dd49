"""Streaming feature-store maintenance: fold each micro-batch into a
snapshot-committed mergeable-state table.

This closes the loop between Structured Streaming and the incremental
aggregation algebra (ops/incremental.py): a streaming source feeds
``foreachBatch``; every micro-batch is reduced to per-entity partial
stat states (one hash aggregation over |batch| rows) and merged with the
current state snapshot (|entities| rows), and the result is committed as
the next snapshot of the state table. Per update the engine touches
|batch| + |state| bytes — never the stream's history.

Exactly-once without a transactional sink: Structured Streaming replays a
failed micro-batch under the SAME batch_id, and the state commit is atomic
(sources/snapshots.py marker protocol) and records the batch_id it folded
in. ``replay_guard`` skips a replayed batch whose id is already committed,
so the crash window between snapshot-commit and stream-checkpoint-advance
cannot double-count (tested by direct replay in tests/test_feature_store.py).
streaming/dedup.py guards its pair table with the same function.

Reference analog: none — the reference re-runs batch scripts per data drop
(extract_timing_features.py:187-218); this is the always-on form.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from feature_extraction_spark.ops.incremental import (
    merge_stat_states,
    partial_stat_state,
)
from feature_extraction_spark.sources.snapshots import (
    commit_snapshot,
    expire_snapshots,
    last_committed_version,
    read_manifest,
    read_snapshot,
)


def replay_guard(
    spark,
    table: str,
    batch_id: int,
    stream_key: str | None,
    allow_stream_handover: bool,
) -> tuple[int | None, bool]:
    """Decide whether micro-batch ``batch_id`` of stream ``stream_key``
    folds into ``table``, the snapshot table whose manifests carry the
    stream's batch-id watermark (``stream_batch_id``, ``stream_key``).

    Returns ``(last, skip)``: ``last`` is the table's last committed
    version (None before the first commit), ``skip`` is True when the
    batch id is already committed by the same stream (a replay).

    Batch ids are only monotonic within one checkpoint: a query restarted
    with a FRESH checkpoint restarts at batch 0, so a bare numeric guard
    would silently skip every new batch up to the old high-water mark —
    permanent data loss. So a watermark recorded under another stream key
    raises (the fresh query also re-reads the source from its configured
    start, so folding it into existing state would double-count history),
    unless ``allow_stream_handover`` declares a deliberate handover to a
    query that reads strictly new data; the batch then folds regardless of
    the old watermark."""
    last = last_committed_version(spark, table)
    if last is None:
        return None, False
    m = read_manifest(spark, table, last)
    recorded_key = m.get("stream_key")
    if stream_key is not None and recorded_key not in (None, stream_key):
        if allow_stream_handover:
            return last, False
        raise RuntimeError(
            f"state table {table!r} was last written by stream "
            f"{recorded_key!r}, not {stream_key!r} — its batch-id watermark "
            "is meaningless for this query and folding a restarted-from-"
            "scratch stream would double-count history. Reuse the original "
            "checkpoint or target a fresh state table."
        )
    done = m.get("stream_batch_id")
    return last, done is not None and int(batch_id) <= int(done)


def make_state_upserter(
    state_table: str,
    value_col: str,
    level: str = "conv",
    stream_key: str | None = None,
    allow_stream_handover: bool = False,
    keep_snapshots: int = 2,
) -> Callable[[DataFrame, int], None]:
    """The foreachBatch callable: fold one micro-batch's (n, sum, sumsq,
    min, max) stat state over ``value_col`` into the state snapshot table,
    idempotently under batch replay. Wire it as
    ``stream.writeStream.option("checkpointLocation", ckpt)
    .foreachBatch(make_state_upserter(table, col, stream_key=ckpt))``.

    ``stream_key`` identifies the stream INSTANCE (use the checkpoint
    location); every commit records it, and ``replay_guard`` refuses a
    batch from another stream unless ``allow_stream_handover=True``.

    ``keep_snapshots``: every commit is a full state copy, so an
    always-on stream grows storage as batches x |state| without
    retention; superseded snapshots beyond this many are expired after
    each commit (>= 2 keeps one rollback target; raise it for time
    travel, never below 1)."""

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        last, skip = replay_guard(
            spark, state_table, batch_id, stream_key, allow_stream_handover
        )
        if skip:
            return
        delta = partial_stat_state(batch_df, value_col, level=level)
        if last is None:
            state = delta
        else:
            state = merge_stat_states(
                read_snapshot(spark, state_table, last), delta
            )
        meta = {"stream_batch_id": int(batch_id)}
        if stream_key is not None:
            meta["stream_key"] = stream_key
        commit_snapshot(state, state_table, mode="overwrite", extra_meta=meta)
        expire_snapshots(spark, state_table, keep_last=keep_snapshots)

    return upsert
