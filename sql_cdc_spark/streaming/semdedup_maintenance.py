"""Streaming semantic-dedup maintenance — the SemDeDup election behind
sim_semantic_dedup kept current from an embedding change feed, so a
continuously-ingesting vector corpus keeps an up-to-date dropped/keeper
table without re-electing the world per batch.

Why per-bucket recomputation is exact: a vector's election row (dropped
by its smallest same-bucket mate at cosine ≥ τ, or kept) depends ONLY on
its own bucket's membership. A change batch alters membership in exactly
the buckets its touched vectors leave or enter (an embedding edit can
move a vector between buckets — both sides are affected), so re-running
the election inside those buckets and carrying every other bucket's rows
over reproduces the full recompute bit-for-bit — including the
RESURRECTION case: deleting a keeper un-drops the mates it was keeper
for (or re-drops them under the next-smallest mate), which pure
row-level patching would miss.

Per-batch work: bucketing is O(|batch| · dim) map-side; the affected
bucket list is batch-bounded and broadcasts; the re-election is the
per-bucket Arrow kernel restricted to affected buckets; the state rewrite
is one broadcast anti-join + union per table — at cluster scale an
incremental parquet/Delta write, never a corpus re-scan.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.queries.similarity_q import (
    bucket_vectors,
    elect_dropped_arrow,
)
from sql_cdc_spark.streaming import feed as FEED
from sql_cdc_spark.streaming.ann_maintenance import (
    CHANGE_SCHEMA,
    collapse_batch,
)

__all__ = [
    "CHANGE_SCHEMA",
    "SemDedupState",
    "build_semdedup_state",
    "apply_semdedup_changes",
    "run_semdedup_maintenance",
]


class SemDedupState(NamedTuple):
    """Materialized incremental semantic-dedup state."""

    vb: DataFrame       # (vec_id, embedding, bucket) — bucketed corpus
    dropped: DataFrame  # (vec_id, keeper_id, cos_sim, bucket) — election

    def release(self) -> None:
        for f in (self.vb, self.dropped):
            release_local_checkpoint(f)


def build_semdedup_state(vectors: DataFrame) -> SemDedupState:
    """Full build from a (vec_id, embedding) corpus."""
    vb = FEED.ckpt(bucket_vectors(vectors))
    return SemDedupState(vb, FEED.ckpt(elect_dropped_arrow(vb)))


def apply_semdedup_changes(
    state: SemDedupState,
    upserts: DataFrame,
    deletes: DataFrame,
) -> SemDedupState:
    """One maintenance round: re-elect exactly the buckets the batch's
    vectors leave or enter; every other bucket's rows carry over."""
    changed = upserts.select("vec_id").unionByName(deletes).distinct()
    cb = F.broadcast(changed)
    new_vb = bucket_vectors(upserts)
    aff = FEED.ckpt(
        state.vb.join(cb, "vec_id", "left_semi")
        .select("bucket")
        .unionByName(new_vb.select("bucket"))
        .distinct()
    )
    ab = F.broadcast(aff)
    vb2 = FEED.ckpt(
        state.vb.join(cb, "vec_id", "left_anti").unionByName(new_vb)
    )
    re_elected = elect_dropped_arrow(vb2.join(ab, "bucket", "left_semi"))
    dropped2 = FEED.ckpt(
        state.dropped.join(ab, "bucket", "left_anti")
        .select(*state.dropped.columns)
        .unionByName(re_elected.select(*state.dropped.columns))
    )
    release_local_checkpoint(aff)
    return SemDedupState(vb2, dropped2)


def run_semdedup_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial: SemDedupState,
) -> tuple[SemDedupState, int]:
    """Drain the embedding change feed with trigger(availableNow),
    applying each micro-batch; returns (final_state, n_batches)."""
    def _apply(
        prev: SemDedupState, batch_df: DataFrame, batch_id: int
    ) -> SemDedupState:
        upserts, deletes = collapse_batch(batch_df)
        return apply_semdedup_changes(prev, upserts, deletes)

    return FEED.drain_feed(
        spark, feed_dir, CHANGE_SCHEMA, checkpoint_dir, initial, _apply,
        lambda s: s.release(),
    )
