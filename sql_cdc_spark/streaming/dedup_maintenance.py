"""Streaming near-dup maintenance — the corpus-dedup analog of the CDC
document pipeline: a document change feed (doc_id, text, op,
change_version) maintains the materialized near-dup state
(functions/dedup.NearDupState) per micro-batch through
``apply_near_dup_changes``, so a continuously-ingesting corpus stays
deduplicated without ever re-running the world-scale batch job.

Reference framing: the reference's changelog drives per-invoice document
rebuilds (invoice-api/server.js:83-365); here the same change-feed
discipline drives the dedup state tables instead — the operator a daily
100 TB training-corpus pipeline actually needs.

Semantics:
- each micro-batch is collapsed to its latest op per doc_id
  (max change_version — same A1 collapse as the CDC pipeline), so
  multi-change batches apply once per doc;
- the winning op routes the doc: 'D' → delete, anything else with
  non-null text → upsert; malformed rows (null text on an upsert) drop;
- batch application is IDEMPOTENT against the state (re-applying a batch
  removes and re-adds the same docs), so foreachBatch's replay-on-restart
  gives effectively-exactly-once state maintenance;
- superseded states are released (localCheckpoint blocks freed) as new
  ones materialize — a drain over N batches holds one state, not N.

Scale stance: per batch, work is O(|batch|) shingling plus
affected-band-bucket re-pairing (see apply_near_dup_changes); the
corpus-sized state tables are rewritten by one anti-join + union each,
which at cluster scale is an incremental parquet/Delta write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions import dedup as DD
from sql_cdc_spark.streaming import feed as FEED

CHANGE_SCHEMA = "doc_id long, text string, op string, change_version long"


def collapse_batch(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Latest-op-per-doc collapse of one change batch → (upserts,
    deletes) — streaming/feed.py::collapse_latest on (doc_id, text)."""
    return FEED.collapse_latest(batch_df, "doc_id", "text")


def run_dedup_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint: str,
    initial: DD.NearDupState,
    *,
    max_bucket_size: int | None = None,
    threshold: float = 0.5,
) -> tuple[DD.NearDupState, int]:
    """Drain the change feed with trigger(availableNow) applying each
    micro-batch to the state; returns (final_state, n_batches).
    Ownership: as ``feed.drain_feed``."""
    def _apply(
        prev: DD.NearDupState, batch_df: DataFrame, batch_id: int
    ) -> DD.NearDupState:
        upserts, deletes = collapse_batch(batch_df)
        return DD.apply_near_dup_changes(
            prev,
            upserts,
            deletes,
            max_bucket_size=max_bucket_size,
            threshold=threshold,
        )

    return FEED.drain_feed(
        spark, feed_dir, CHANGE_SCHEMA, checkpoint, initial, _apply,
        lambda s: s.release(),
    )


def run_containment_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint: str,
    initial: DD.ContainmentState,
    *,
    df_cap: int = 20,
    threshold: float = 0.2,
) -> tuple[DD.ContainmentState, int]:
    """Containment twin of ``run_dedup_maintenance``: the same change
    feed maintains the rare-shingle containment state
    (functions/dedup.ContainmentState) per micro-batch through
    ``apply_containment_changes`` — including the global-rarity flips a
    batch can cause for documents it never touched.
    Ownership: as ``feed.drain_feed``."""
    def _apply(
        prev: DD.ContainmentState, batch_df: DataFrame, batch_id: int
    ) -> DD.ContainmentState:
        upserts, deletes = collapse_batch(batch_df)
        return DD.apply_containment_changes(
            prev, upserts, deletes, df_cap=df_cap, threshold=threshold
        )

    return FEED.drain_feed(
        spark, feed_dir, CHANGE_SCHEMA, checkpoint, initial, _apply,
        lambda s: s.release(),
    )
