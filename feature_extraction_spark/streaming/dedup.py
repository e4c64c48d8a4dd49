"""Continuous (streaming) near-duplicate detection: fold each micro-batch
of documents into the persisted MinHash band index and emit the verified
near-dup pairs it creates — the always-on form of incremental LSH dedup
(ops/dedup.minhash_lsh_dedup_incremental).

Three snapshot-committed state tables under one directory:

- ``bands``: the (id, band, bucket) LSH index of everything ingested
- ``docs``:  the (id, text) store verification reads (at real scale this
  is the corpus table itself; the stream maintains it here so the module
  is self-contained)
- ``pairs``: the accumulated verified pair set (id_a, id_b, jaccard)

Per micro-batch the engine shingles/hashes/bands ONLY the batch, probes
the band index, verifies candidates against the text store (semi-join
pruned), and commits the three tables in a fixed order with the pairs
table carrying the batch-id watermark LAST — so a crash anywhere in the
window replays the batch, the anti-join guards make the bands/docs
commits content-idempotent, and a batch whose pairs are already committed
is skipped entirely. The pairs table's watermark goes through the feature
store's ``replay_guard`` (streaming/feature_store.py), so a batch from
another stream, e.g. one restarted with a fresh checkpoint, raises instead
of being skipped; tested by direct replay.

The invariant inherited from the batch op: after any prefix of batches,
``pairs`` equals the full-corpus ``minhash_lsh_dedup`` pair set over the
documents ingested so far (band-collision symmetry; asserted in
tests/test_streaming_dedup.py).
"""

from __future__ import annotations

import inspect
import posixpath

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feature_extraction_spark.ops.dedup import minhash_lsh_dedup_incremental
from feature_extraction_spark.sources.snapshots import (
    commit_snapshot,
    expire_snapshots,
    last_committed_version,
    read_manifest,
    read_snapshot,
)
from feature_extraction_spark.streaming.feature_store import replay_guard


def make_dedup_upserter(
    state_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    keep_snapshots: int = 2,
    stream_key: str | None = None,
    **lsh_kwargs,
):
    """The ``foreachBatch`` callable maintaining the three dedup states.

    ``lsh_kwargs`` (num_hashes/bands/shingle_n/seed; 128 hashes in 32
    bands by default) must stay constant for the lifetime of a state
    directory — signatures are pure functions of them, and states under
    different configs do not compose. Every bands snapshot records the
    resolved config in its manifest (``lsh``); a batch whose config differs
    from the committed one raises instead of silently missing new-old
    pairs. A bands state without that record (written before it existed,
    when the defaults were 64 hashes in 16 bands and one-permutation
    signatures could be chosen) is refused and must be rebuilt.

    ``stream_key`` identifies the stream instance (use the checkpoint
    location); a batch from another stream than the one that last
    committed ``pairs`` raises (see ``replay_guard``).
    """
    bands_t = posixpath.join(state_dir, "bands")
    docs_t = posixpath.join(state_dir, "docs")
    pairs_t = posixpath.join(state_dir, "pairs")
    lsh = {
        k: lsh_kwargs.get(k, p.default)
        for k, p in inspect.signature(
            minhash_lsh_dedup_incremental
        ).parameters.items()
        if k in ("num_hashes", "bands", "shingle_n", "seed")
    }

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # no handover: a fresh checkpoint re-reads the corpus from the start
        last_pairs, skip = replay_guard(
            spark, pairs_t, batch_id, stream_key, False
        )
        if skip:
            return  # replay of a fully-committed batch
        last_bands = last_committed_version(spark, bands_t)
        if last_bands is not None:
            committed = read_manifest(spark, bands_t, last_bands).get("lsh")
            if committed != lsh:
                raise ValueError(
                    f"band state {bands_t} was built with LSH config "
                    f"{committed}, this stream uses {lsh}; rebuild the state"
                )
        batch = (
            batch_df.select(
                F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
            )
            .dropDuplicates(["doc_id"])
            .localCheckpoint(eager=True)  # batch is re-read 4x below
        )
        ids = batch.select("doc_id")

        def _read_or_empty(table: str, schema_like: DataFrame) -> DataFrame:
            v = last_committed_version(spark, table)
            if v is None:
                return schema_like.limit(0)
            return read_snapshot(spark, table, v)

        # anti-join guards: a crash AFTER the bands/docs commit but BEFORE
        # the pairs commit replays this batch — strip its rows from the
        # prior states so re-folding is content-idempotent
        empty_bands = batch.select(
            F.col("doc_id").alias("id"),
            F.lit(0).alias("band"),
            F.xxhash64("doc_id").alias("bucket"),
        ).limit(0)
        old_bands = _read_or_empty(bands_t, empty_bands).join(
            ids.withColumnRenamed("doc_id", "id"), on="id", how="left_anti"
        )
        old_docs = _read_or_empty(docs_t, batch).join(
            ids, on="doc_id", how="left_anti"
        )
        # pairs schema is derived from the BATCH id type (not a hardcoded
        # bigint DDL) so string-id corpora keep a consistent state schema
        # from batch 1 onward
        empty_pairs = batch.select(
            F.col("doc_id").alias("id_a"),
            F.col("doc_id").alias("id_b"),
            F.lit(0.0).cast("double").alias("jaccard"),
        ).limit(0)
        old_pairs = (
            read_snapshot(spark, pairs_t, last_pairs)
            if last_pairs is not None
            else empty_pairs
        )

        new_pairs, new_bands = minhash_lsh_dedup_incremental(
            old_bands, old_docs, batch, id_col="doc_id", text_col="text",
            threshold=threshold, **lsh_kwargs,
        )
        meta = {"stream_batch_id": int(batch_id)}
        if stream_key is not None:
            meta["stream_key"] = stream_key
        commit_snapshot(
            new_bands, bands_t, mode="overwrite",
            extra_meta={**meta, "lsh": lsh},
        )
        commit_snapshot(
            old_docs.unionByName(batch), docs_t, mode="overwrite",
            extra_meta=meta,
        )
        commit_snapshot(
            old_pairs.unionByName(new_pairs).dropDuplicates(["id_a", "id_b"]),
            pairs_t, mode="overwrite", extra_meta=meta,
        )
        for t in (bands_t, docs_t, pairs_t):
            expire_snapshots(spark, t, keep_last=keep_snapshots)

    return upsert
