"""Streaming k-NN-graph maintenance — the bucketed top-1 neighbor table
behind sim_knn_join_arrow (and therefore the mutual-kNN edge set and the
PageRank hub report derived from it) kept current from an embedding
change feed, the graph-family member of the SemDeDup / ANN-posting
maintenance family.

Why per-bucket recomputation is exact: a vector's nearest-neighbor row
(argmax cosine over its OWN SRP bucket, the sim_knn_join_arrow semantics)
depends only on its bucket's membership. A change batch alters
membership in exactly the buckets its touched vectors leave or enter
(an embedding edit can move a vector between buckets — both sides are
affected), so re-running the election inside those buckets and carrying
every other bucket's rows over reproduces the full recompute
bit-for-bit — including the second-choice case row-level patching
misses: deleting a vector that was someone's nearest neighbor must
re-elect that mate's next-best, and inserting a closer vector must
displace existing best rows throughout its bucket.

Per-batch work: bucketing is O(|batch| · dim) map-side; the affected
bucket list is batch-bounded and broadcasts; the re-election is the
per-bucket Arrow kernel restricted to affected buckets (its group key
tags each row with the bucket the anti-join needs); the state rewrite
is one broadcast anti-join + union per table.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.queries.similarity_q import (
    bucket_vectors,
    elect_nearest_arrow,
)
from sql_cdc_spark.streaming import feed as FEED
from sql_cdc_spark.streaming.ann_maintenance import (
    CHANGE_SCHEMA,
    collapse_batch,
)

__all__ = [
    "CHANGE_SCHEMA",
    "KnnState",
    "build_knn_state",
    "apply_knn_changes",
    "run_knn_maintenance",
    "mutual_edges_from_state",
]


class KnnState(NamedTuple):
    """Materialized incremental k-NN-graph state."""

    vb: DataFrame    # (vec_id, embedding, bucket) — bucketed corpus
    best: DataFrame  # (vec_id, nn_id, cos_sim, bucket) — top-1 table

    def release(self) -> None:
        for f in (self.vb, self.best):
            release_local_checkpoint(f)


def build_knn_state(vectors: DataFrame) -> KnnState:
    """Full build from a (vec_id, embedding) corpus."""
    vb = FEED.ckpt(bucket_vectors(vectors))
    return KnnState(vb, FEED.ckpt(elect_nearest_arrow(vb, with_bucket=True)))


def apply_knn_changes(
    state: KnnState,
    upserts: DataFrame,
    deletes: DataFrame,
) -> KnnState:
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
    re_elected = elect_nearest_arrow(
        vb2.join(ab, "bucket", "left_semi"), with_bucket=True
    )
    best2 = FEED.ckpt(
        state.best.join(ab, "bucket", "left_anti")
        .select(*state.best.columns)
        .unionByName(re_elected.select(*state.best.columns))
    )
    release_local_checkpoint(aff)
    return KnnState(vb2, best2)


def mutual_edges_from_state(state: KnnState) -> DataFrame:
    """The undirected mutual-NN edge set (sim_mutual_knn's core) served
    from the maintained table — the SAME shared fold AND mutuality
    predicate, no knn recompute."""
    from sql_cdc_spark.queries.similarity_q import mutual_edges

    return mutual_edges(state.best)


def run_knn_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial: KnnState,
) -> tuple[KnnState, int]:
    """Drain the embedding change feed with trigger(availableNow),
    applying each micro-batch; returns (final_state, n_batches)."""

    def _apply(prev: KnnState, batch_df: DataFrame, batch_id: int) -> KnnState:
        upserts, deletes = collapse_batch(batch_df)
        return apply_knn_changes(prev, upserts, deletes)

    return FEED.drain_feed(
        spark, feed_dir, CHANGE_SCHEMA, checkpoint_dir, initial, _apply,
        lambda s: s.release(),
    )
