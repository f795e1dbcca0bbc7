"""Streaming chunk-table maintenance — the RAG-ingest pipeline's state:
the overlapping context-window chunk spans of every live document
(functions/text.py::chunk_spans), kept current from a document change
feed. The chunk table is what an embedding/retrieval index is built
over, so its maintenance round is the first stage of every incremental
RAG ingest: re-chunk ONLY the touched documents, retire the chunks of
deleted/updated ones.

Chunking is per-document-local, so the delta rewrite is exactly one
anti-join + union per batch (an incremental parquet/Delta write at
cluster scale) and stream-equals-batch equality is EXACT — no caps, no
sketches, no float anywhere (the digest column is md5 text).

Same skeleton as the rest of the maintenance family (streaming/feed.py):
parquet change-feed readStream → latest-op-per-key collapse →
foreachBatch availableNow drain threading the state, superseded
snapshots released per batch.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions import text as TX
from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.streaming import feed as FEED
from sql_cdc_spark.streaming.dedup_maintenance import (
    CHANGE_SCHEMA,
    collapse_batch,
)

__all__ = [
    "CHANGE_SCHEMA",
    "ChunkState",
    "build_chunk_state",
    "apply_chunk_changes",
    "run_chunk_maintenance",
]

# the chunk grid is owned by functions/text.py next to chunk_spans —
# one constant pair serves the batch query and this maintenance module
CHUNK_CHARS = TX.CHUNK_CHARS
CHUNK_STRIDE = TX.CHUNK_STRIDE


class ChunkState(NamedTuple):
    """Materialized chunk table: (doc_id, chunk_index, chunk_start,
    chunk_len, chunk_digest)."""

    chunks: DataFrame

    def release(self) -> None:
        release_local_checkpoint(self.chunks)


def build_chunk_state(
    docs: DataFrame,
    chunk_chars: int = CHUNK_CHARS,
    stride: int = CHUNK_STRIDE,
) -> ChunkState:
    """Full chunking pass over a (doc_id, text) corpus."""
    return ChunkState(
        FEED.ckpt(TX.chunk_spans(docs, chunk_chars, stride))
    )


def apply_chunk_changes(
    state: ChunkState,
    upserts: DataFrame,
    deletes: DataFrame,
    chunk_chars: int = CHUNK_CHARS,
    stride: int = CHUNK_STRIDE,
) -> ChunkState:
    """One maintenance round: drop every touched doc's chunks, append
    the upserted docs' fresh spans. Compute is O(|batch| chars); the
    corpus-sized table is touched by exactly one anti-join + union."""
    touched = upserts.select("doc_id").unionByName(deletes).distinct()
    kept = state.chunks.join(F.broadcast(touched), "doc_id", "left_anti")
    fresh = TX.chunk_spans(upserts, chunk_chars, stride)
    return ChunkState(FEED.ckpt(kept.unionByName(fresh)))


def run_chunk_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial: ChunkState,
) -> tuple[ChunkState, int]:
    """Drain the document change feed with trigger(availableNow),
    applying each micro-batch; returns (final_state, n_batches).
    Ownership: as ``feed.drain_feed``."""

    def _apply(prev: ChunkState, batch_df: DataFrame, batch_id: int) -> ChunkState:
        upserts, deletes = collapse_batch(batch_df)
        return apply_chunk_changes(prev, upserts, deletes)

    return FEED.drain_feed(
        spark, feed_dir, CHANGE_SCHEMA, checkpoint_dir, initial, _apply,
        lambda s: s.release(),
    )
