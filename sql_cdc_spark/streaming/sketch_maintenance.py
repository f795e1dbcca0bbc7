"""Streaming sketch maintenance — per-group HLL register tables kept
current from an append-only event feed, never re-scanning history.

The third leg of the incremental-maintenance family (rollups:
operators/cdc.refresh_aggregate_groups; near-dup: dedup_maintenance;
ANN postings: ann_maintenance): here the maintained state is a
(group, reg, rho) register table and the merge is groupBy-max —
associative, commutative, idempotent, so batch replay after a restart
cannot corrupt the state and stream-equals-batch equality is EXACT on
the registers (not just within sketch error).

Scale stance: per batch the work is one O(|batch|) register pass plus a
merge whose shuffle is bounded by |groups|·2^p rows — independent of
corpus size. Sketches are insert-only by construction (distinct counts
cannot un-see a value); deletions require rebuilding the affected
window, which is why real pipelines bucket sketches by day and drop
whole buckets instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.functions.sketches import HLL_P, hll_registers, merge_registers
from sql_cdc_spark.streaming import feed as FEED

EVENT_SCHEMA = "group_key string, value long, change_version long"


def apply_sketch_batch(
    state: DataFrame,
    batch_df: DataFrame,
    group_cols: list[str],
    value_col: str,
    p: int = HLL_P,
) -> DataFrame:
    """One maintenance round: sketch the batch, merge into the state."""
    batch_regs = hll_registers(batch_df, group_cols, value_col, p)
    return FEED.ckpt(merge_registers(state, batch_regs, group_cols=group_cols))


def run_sketch_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial_state: DataFrame,
    *,
    group_cols: list[str] | None = None,
    value_col: str = "value",
    p: int = HLL_P,
) -> tuple[DataFrame, int]:
    """Drain the feed with trigger(availableNow), merging each
    micro-batch's registers into the state; returns (final_state,
    n_batches). Ownership: as ``feed.drain_feed``."""
    gcols = group_cols or ["group_key"]

    def _apply(prev: DataFrame, batch_df: DataFrame, batch_id: int) -> DataFrame:
        return apply_sketch_batch(prev, batch_df, gcols, value_col, p)

    return FEED.drain_feed(
        spark, feed_dir, EVENT_SCHEMA, checkpoint_dir, initial_state,
        _apply, release_local_checkpoint,
    )
