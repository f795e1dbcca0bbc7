"""Streaming quality-gate maintenance — the per-language quality
VALUE-HISTOGRAM kept current from a document change feed, so the
"keep docs at or above their language's median quality" gate
(queries/text_q.py::txt_quality_gate) can be re-evaluated after every
batch without ever re-scanning the corpus.

The histogram is algebraic: an insert adds 1 to its (lang, q_u) cell, a
delete subtracts the OLD cell, an update does both — so the state
carries a one-row-per-live-doc assignment table (doc_id → lang, q_u)
alongside the (lang, q_u, cnt) histogram, the assignment being what
makes subtraction possible without re-reading documents. The gate keys
on the STORED ``lang`` column — the same key the batch query uses — so
the change feed is the manifest family's multi-column payload
(MANIFEST_CHANGE_SCHEMA: doc_id, lang, source, text, op,
change_version); the score is quantized to integer micro-units at
assignment time, so the entire state is (bigint, bigint, string) —
exact, mergeable, engine-portable.

Per-batch compute is O(|batch|) text scoring plus a groupBy-sum over
|hist| + |delta| rows; the median report derives from the compact
histogram via the SAME shared function the batch query calls
(functions/text.py::quality_gate_from_hist), so the two gates cannot
drift — and a test pins report == txt_quality_gate on the same corpus.

Reference: extends the reference's change-tracking consumer loop
(sqls/storedprocedure.sql cursor semantics) to maintained-aggregate
state, like the rollup / near-dup / vocab maintenance siblings.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions import text as TX
from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.streaming import feed as FEED
from sql_cdc_spark.streaming.manifest_maintenance import (
    MANIFEST_CHANGE_SCHEMA,
    collapse_batch,
)

__all__ = [
    "MANIFEST_CHANGE_SCHEMA",
    "QualityState",
    "build_quality_state",
    "apply_quality_changes",
    "quality_gate_report",
    "run_quality_maintenance",
]


class QualityState(NamedTuple):
    """Materialized incremental quality-histogram state."""

    assign: DataFrame  # (doc_id, lang, q_u) — one row per live doc
    hist: DataFrame    # (lang, q_u, cnt) — the value histogram

    def release(self) -> None:
        for f in (self.assign, self.hist):
            release_local_checkpoint(f)


def _doc_quality(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, q_u): stored language + micro-quantized quality
    score per document — the scan-local assignment row. ``lang`` is the
    table column, NOT detection, so the maintained gate keys exactly
    like txt_quality_gate."""
    return docs.select(
        "doc_id",
        "lang",
        F.round(TX.quality_score(F.col("text")) * 1e6)
        .cast("long")
        .alias("q_u"),
    )


def build_quality_state(docs: DataFrame) -> QualityState:
    """Full build of the quality state from a (doc_id, lang, text)
    corpus."""
    assign = FEED.ckpt(_doc_quality(docs))
    hist = FEED.ckpt(
        assign.groupBy("lang", "q_u").agg(F.count(F.lit(1)).alias("cnt"))
    )
    return QualityState(assign, hist)


def apply_quality_changes(
    state: QualityState,
    upserts: DataFrame,
    deletes: DataFrame,
) -> QualityState:
    """One maintenance round: decrement the OLD (lang, q_u) cells of
    every changed doc, increment the new assignments, drop empty cells.
    The changed-key set is a CDC batch (small → broadcasts); the
    histogram merge is one union + groupBy-sum."""
    changed = upserts.select("doc_id").unionByName(deletes).distinct()
    old = state.assign.join(F.broadcast(changed), "doc_id", "left_semi")
    new = _doc_quality(upserts)

    dec = old.groupBy("lang", "q_u").agg((-F.count(F.lit(1))).alias("delta"))
    inc = new.groupBy("lang", "q_u").agg(F.count(F.lit(1)).alias("delta"))
    hist2 = (
        state.hist.select("lang", "q_u", F.col("cnt").alias("delta"))
        .unionByName(inc)
        .unionByName(dec)
        .groupBy("lang", "q_u")
        .agg(F.sum("delta").alias("cnt"))
        .filter(F.col("cnt") > 0)
    )
    assign2 = state.assign.join(
        F.broadcast(changed), "doc_id", "left_anti"
    ).unionByName(new)
    return QualityState(FEED.ckpt(assign2), FEED.ckpt(hist2))


def quality_gate_report(state: QualityState) -> DataFrame:
    """Per-language (n_docs, median_micro, n_kept) from the maintained
    histogram — the SAME derivation function the batch query calls,
    applied to incremental state instead of a corpus scan."""
    return TX.quality_gate_from_hist(state.hist)


def run_quality_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial: QualityState,
) -> tuple[QualityState, int]:
    """Drain the document change feed with trigger(availableNow),
    applying each micro-batch; returns (final_state, n_batches)."""
    def _apply(prev: QualityState, batch_df: DataFrame, batch_id: int) -> QualityState:
        upserts, deletes = collapse_batch(batch_df)
        return apply_quality_changes(prev, upserts, deletes)

    return FEED.drain_feed(
        spark, feed_dir, MANIFEST_CHANGE_SCHEMA, checkpoint_dir, initial,
        _apply, lambda s: s.release(),
    )
