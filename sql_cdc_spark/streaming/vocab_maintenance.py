"""Streaming vocabulary maintenance — document-frequency (and IDF)
tables kept current from a document change feed, the text analog of the
rollup / near-dup / ANN-posting / sketch maintenance family.

DF counts are exactly delta-maintainable: an update subtracts the OLD
document's distinct words and adds the new ones, so the state carries a
(doc_id, word) posting table alongside the (word, df) aggregate — the
postings are what make subtraction possible without re-reading the
corpus. All three state tables are rewritten by anti-join + union /
union + groupBy-sum per batch (incremental parquet/Delta writes at
cluster scale); per-batch compute is O(|batch| · words-per-doc).

Stream-equals-batch equality is EXACT on the integer df counts (and on
n_docs), because increments and decrements are integers and word sets
are distinct per document.
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
    "VocabState",
    "build_vocab_state",
    "apply_vocab_changes",
    "run_vocab_maintenance",
    "idf_table",
]


class VocabState(NamedTuple):
    """Materialized incremental vocabulary state."""

    doc_ids: DataFrame   # (doc_id) — live documents (exact n_docs source)
    postings: DataFrame  # (doc_id, word) distinct pairs
    df: DataFrame        # (word, df) document-frequency counts

    def release(self, keep_df: bool = False) -> None:
        frames = [self.doc_ids, self.postings]
        if not keep_df:
            frames.append(self.df)
        for f in frames:
            release_local_checkpoint(f)


def _doc_words(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, word) pairs — one row per word per document."""
    return docs.select(
        "doc_id", F.explode(TX.normalize_words(F.col("text"))).alias("word")
    ).distinct()


def build_vocab_state(docs: DataFrame) -> VocabState:
    """Full build of the vocabulary state from a (doc_id, text) corpus."""
    doc_ids = FEED.ckpt(docs.select("doc_id").distinct())
    postings = FEED.ckpt(_doc_words(docs))
    df = FEED.ckpt(postings.groupBy("word").agg(F.count(F.lit(1)).alias("df")))
    return VocabState(doc_ids, postings, df)


def apply_vocab_changes(
    state: VocabState,
    upserts: DataFrame,
    deletes: DataFrame,
) -> VocabState:
    """One maintenance round.

    decrements = word counts of the OLD postings of every changed doc;
    increments = word counts of the upserted docs' new postings;
    df' = df + increments − decrements (drop ≤ 0). The changed-key set
    is a CDC batch (small → broadcasts); the df merge is one
    union + groupBy-sum over |df| + |delta| rows."""
    changed = upserts.select("doc_id").unionByName(deletes).distinct()
    old_pairs = state.postings.join(F.broadcast(changed), "doc_id", "left_semi")
    new_pairs = _doc_words(upserts)

    dec = old_pairs.groupBy("word").agg((-F.count(F.lit(1))).alias("delta"))
    inc = new_pairs.groupBy("word").agg(F.count(F.lit(1)).alias("delta"))
    df2 = (
        state.df.select("word", F.col("df").alias("delta"))
        .unionByName(inc)
        .unionByName(dec)
        .groupBy("word")
        .agg(F.sum("delta").alias("df"))
        .filter(F.col("df") > 0)
    )
    postings2 = state.postings.join(
        F.broadcast(changed), "doc_id", "left_anti"
    ).unionByName(new_pairs)
    doc_ids2 = (
        state.doc_ids.join(F.broadcast(changed), "doc_id", "left_anti")
        .unionByName(upserts.select("doc_id").distinct())
    )
    return VocabState(
        FEED.ckpt(doc_ids2),
        FEED.ckpt(postings2),
        FEED.ckpt(df2),
    )


def idf_table(state: VocabState) -> DataFrame:
    """(word, df, idf) with idf = ln(n_docs / df) — same formula as
    txt_doc_frequency, derived from the maintained state."""
    totals = state.doc_ids.agg(F.count(F.lit(1)).alias("__n_docs"))
    return state.df.crossJoin(F.broadcast(totals)).select(
        "word",
        "df",
        F.round(
            -F.log(F.col("df").cast("double"))
            + F.log(F.col("__n_docs").cast("double")),
            6,
        ).alias("idf"),
    )


def run_vocab_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial: VocabState,
) -> tuple[VocabState, int]:
    """Drain the document change feed with trigger(availableNow),
    applying each micro-batch; returns (final_state, n_batches).
    Ownership: as ``feed.drain_feed``."""
    def _apply(prev: VocabState, batch_df: DataFrame, batch_id: int) -> VocabState:
        upserts, deletes = collapse_batch(batch_df)
        return apply_vocab_changes(prev, upserts, deletes)

    return FEED.drain_feed(
        spark, feed_dir, CHANGE_SCHEMA, checkpoint_dir, initial, _apply,
        lambda s: s.release(),
    )
