"""Streaming duplicated-passage-census maintenance — keeps the
chunked exact-substring dedup census (queries/text_q.py::
txt_dup_passage_census, the Lee et al. 2021 approximation) current from
a document change feed, the newest member of the rollup / vocab /
search-index maintenance family.

Passage counts are exactly delta-maintainable: every document
contributes a MULTISET of disjoint PASSAGE_WORDS-word passages, so the
state carries the per-doc passage multiset (doc_id, source, passage, k)
alongside the corpus-wide (passage, n_occ) aggregate — the multiset is
what makes subtraction possible without re-tiling the corpus. An update
subtracts the OLD multiset and adds the new one; counts merge by
union + groupBy-sum (incremental parquet/Delta writes at cluster
scale); per-batch compute is O(|batch| · passages-per-doc).

Stream-equals-batch equality is EXACT on the integer counts and on the
served census (the same staged-ppm expression as the batch query), so
the maintained census can never drift from the registered operator.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions import text as TX
from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.queries.text_q import PASSAGE_WORDS
from sql_cdc_spark.streaming import feed as FEED
from sql_cdc_spark.streaming.manifest_maintenance import (
    MANIFEST_CHANGE_SCHEMA,
    collapse_batch,
)

__all__ = [
    "MANIFEST_CHANGE_SCHEMA",
    "PassageState",
    "build_passage_state",
    "apply_passage_changes",
    "run_passage_maintenance",
    "dup_passage_census",
]


class PassageState(NamedTuple):
    """Materialized incremental passage-census state."""

    doc_passages: DataFrame  # (doc_id, source, passage, k) multisets
    counts: DataFrame        # (passage, n_occ) corpus-wide totals

    def release(self) -> None:
        release_local_checkpoint(self.doc_passages)
        release_local_checkpoint(self.counts)


def _doc_passages(docs: DataFrame) -> DataFrame:
    """Per-doc passage multiset: disjoint PASSAGE_WORDS-word tiles of
    the normalized token stream — literally the same TX.passage_chunks
    expression the batch census explodes (shared by reference, not by
    copy, so the stream-equals-batch guarantee is structural), counted
    per (doc, source, passage). Sub-width upserts (e.g. a doc cleared
    to '') tile to zero passages instead of injecting phantom ''
    passages into the corpus-wide counts."""
    w = TX.normalize_words(F.col("text"))
    return (
        docs.select(
            "doc_id",
            "source",
            F.explode(TX.passage_chunks(w, PASSAGE_WORDS)).alias("passage"),
        )
        .groupBy("doc_id", "source", "passage")
        .agg(F.count(F.lit(1)).alias("k"))
    )


def build_passage_state(docs: DataFrame) -> PassageState:
    """Full build from a (doc_id, source, text) corpus."""
    dp = FEED.ckpt(_doc_passages(docs))
    counts = FEED.ckpt(dp.groupBy("passage").agg(F.sum("k").alias("n_occ")))
    return PassageState(dp, counts)


def apply_passage_changes(
    state: PassageState,
    upserts: DataFrame,
    deletes: DataFrame,
) -> PassageState:
    """One maintenance round: counts' = counts + new multisets − old
    multisets (drop ≤ 0). The changed-key set is a CDC batch (small →
    broadcasts); the counts merge is one union + groupBy-sum over
    |counts| + |delta| rows."""
    changed = upserts.select("doc_id").unionByName(deletes).distinct()
    old = state.doc_passages.join(F.broadcast(changed), "doc_id", "left_semi")
    new = _doc_passages(upserts)

    dec = old.groupBy("passage").agg((-F.sum("k")).alias("delta"))
    inc = new.groupBy("passage").agg(F.sum("k").alias("delta"))
    counts2 = (
        state.counts.select("passage", F.col("n_occ").alias("delta"))
        .unionByName(inc)
        .unionByName(dec)
        .groupBy("passage")
        .agg(F.sum("delta").alias("n_occ"))
        .filter(F.col("n_occ") > 0)
    )
    dp2 = state.doc_passages.join(
        F.broadcast(changed), "doc_id", "left_anti"
    ).unionByName(new)
    return PassageState(FEED.ckpt(dp2), FEED.ckpt(counts2))


def dup_passage_census(state: PassageState) -> DataFrame:
    """The batch census served from the maintained state — same columns,
    same staged-ppm expression as txt_dup_passage_census, so the two
    can be compared row-for-row. The instance⨝counts join pins
    shuffle-hash for the same reason the batch plan does (both sides
    corpus-scale)."""
    return (
        state.doc_passages.join(state.counts.hint("shuffle_hash"), "passage")
        .groupBy("source")
        .agg(
            F.sum("k").alias("n_passages"),
            F.sum(
                F.when(F.col("n_occ") > 1, F.col("k")).otherwise(F.lit(0))
            ).alias("n_dup_passages"),
        )
        .select(
            "source",
            "n_passages",
            "n_dup_passages",
            F.expr("(n_dup_passages * 1000000) div n_passages").alias(
                "dup_ppm"
            ),
        )
        .orderBy("source")
    )


def run_passage_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial: PassageState,
) -> tuple[PassageState, int]:
    """Drain the document change feed with trigger(availableNow),
    applying each micro-batch; returns (final_state, n_batches).
    Ownership: as ``feed.drain_feed``."""

    def _apply(prev: PassageState, batch_df: DataFrame, batch_id: int) -> PassageState:
        upserts, deletes = collapse_batch(batch_df)
        return apply_passage_changes(prev, upserts, deletes)

    return FEED.drain_feed(
        spark, feed_dir, MANIFEST_CHANGE_SCHEMA, checkpoint_dir, initial,
        _apply, lambda s: s.release(),
    )
