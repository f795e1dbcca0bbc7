"""Streaming SCD Type 2 maintenance — the dimension-history table kept
current from a change feed, the warehouse twin of the rollup / near-dup /
ANN-posting / sketch / vocabulary maintenance family.

Each micro-batch merges through ``operators.cdc.scd2_apply``: touched
keys' open rows close at the batch's first version for the key, the
batch's changes chain into new validity intervals, untouched keys are
never recomputed. A version high-watermark gives the merge cursor
semantics (the reference's sync-state pattern,
invoice-api/server.js:150-171): a replayed or overlapping batch is
filtered to versions strictly above the watermark, so re-delivery is a
no-op and the ``scd2_apply`` contract (batch versions > history versions
per key) holds mechanically for any in-order CDC feed.

Stream-equals-batch equality is EXACT: intervals are pure integer
(version) arithmetic, so the streamed history matches a one-shot
``scd2_history`` over the full feed bit-for-bit.

State rewrites are localCheckpoints in this local harness; at cluster
scale the history table is an incremental parquet/Delta write (append new
intervals + rewrite the touched keys' open rows), cost O(|batch|), never
O(|history|).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.operators.cdc import scd2_apply, scd2_history
from sql_cdc_spark.streaming import feed as FEED

__all__ = [
    "SCD2_CHANGE_SCHEMA",
    "SCD2State",
    "build_scd2_state",
    "apply_scd2_batch",
    "run_scd2_maintenance",
]

# generic dimension change feed: one integer payload column stands in for
# the tracked attributes (any extra columns ride through untouched)
SCD2_CHANGE_SCHEMA = "key_id long, payload long, op string, change_version long"


class SCD2State(NamedTuple):
    """Materialized incremental SCD2 state."""

    history: DataFrame  # (key_id, payload…, valid_from, valid_to, is_current)
    watermark: int      # highest change_version already merged

    def release(self) -> None:
        release_local_checkpoint(self.history)


def build_scd2_state(changes: DataFrame) -> SCD2State:
    """Full build from a (key_id, …, op, change_version) change feed —
    one key-partitioned window (operators.cdc.scd2_history). The
    watermark is the feed's max version (−1 for an empty feed, so any
    first batch passes the cursor filter)."""
    wm_row = changes.agg(F.max("change_version").alias("wm")).first()
    wm = wm_row["wm"] if wm_row["wm"] is not None else -1
    return SCD2State(
        FEED.ckpt(scd2_history(changes, ["key_id"])), wm
    )


def apply_scd2_batch(state: SCD2State, batch: DataFrame) -> SCD2State:
    """One maintenance round: cursor-filter the batch to versions above
    the watermark (replay/overlap safety), then merge with scd2_apply.
    Only scalar aggregates reach the driver (the new watermark); the
    history rewrite is anti-join + union, broadcast on the batch's keys.

    The watermark only protects against CROSS-batch replay; a row
    redelivered INSIDE one micro-batch (writer retry, duplicated extract
    file in the same trigger) would hand scd2_apply two rows for one
    (key, version) and corrupt the interval chain. Collapse those here,
    deterministically (max over the remaining columns), so intra-batch
    redelivery is a no-op too."""
    fresh = batch.filter(F.col("change_version") > F.lit(state.watermark))
    others = [
        c for c in fresh.columns if c not in ("key_id", "change_version")
    ]
    fresh = (
        fresh.groupBy("key_id", "change_version")
        .agg(F.max(F.struct(*others)).alias("__w"))
        .select(
            *[
                F.col(f"__w.{c}").alias(c) if c in others else F.col(c)
                for c in batch.columns
            ]
        )
    )
    wm_row = fresh.agg(F.max("change_version").alias("wm")).first()
    if wm_row["wm"] is None:  # fully-replayed batch → no-op
        return state
    merged = scd2_apply(state.history, fresh, ["key_id"])
    return SCD2State(FEED.ckpt(merged), int(wm_row["wm"]))


def run_scd2_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial: SCD2State,
) -> tuple[SCD2State, int]:
    """Drain the change feed with trigger(availableNow), merging each
    micro-batch; returns (final_state, n_batches).
    Ownership: as ``feed.drain_feed``.

    The feed must deliver versions in non-decreasing file order (the
    natural layout of a CDC extract directory); the watermark filter
    makes redelivery harmless rather than double-applied."""
    return FEED.drain_feed(
        spark, feed_dir, SCD2_CHANGE_SCHEMA, checkpoint_dir, initial,
        lambda prev, batch_df, batch_id: apply_scd2_batch(prev, batch_df),
        lambda s: s.release(),
    )
