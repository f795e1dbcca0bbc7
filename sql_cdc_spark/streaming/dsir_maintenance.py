"""Streaming DSIR-census maintenance — the two hashed-bigram censuses
behind crp_dsir_select (target = quality-gate-passing docs, raw = whole
corpus) kept current from a document change feed, so the importance
selection re-ranks per batch with NO corpus re-scan.

Both censuses are exactly delta-maintainable: the state carries a
per-doc (doc_id, is_tgt, sh64, n) occurrence table — the subtraction
record — plus the two aggregates. Unlike the LM twin
(streaming/lm_maintenance.py), membership here is NOT a stable hash: a
document EDIT can flip its quality verdict and move it between target
and pool, which shifts mass between the censuses AND changes the pool
being ranked. The per-doc table stores the flag at ingest time, so a
flip is just "subtract the old rows under the old flag, add the new
rows under the new flag" — no special case, proven through an
engineered flip in tests.

``select_top`` ranks the maintained pool with the batch query's exact
integer-bit formula (per-(doc, gram) multiplicity ``n`` restores the
occurrence-level sums), so incremental state and a full rebuild produce
bit-identical selections — asserted in tests.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions import dedup as DD
from sql_cdc_spark.functions import text as TX
from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.queries.corpus_q import DSIR_K, DSIR_NGRAM, MIN_QUALITY
from sql_cdc_spark.streaming import feed as FEED
from sql_cdc_spark.streaming.dedup_maintenance import (
    CHANGE_SCHEMA,
    collapse_batch,
)

__all__ = [
    "CHANGE_SCHEMA",
    "DSIRState",
    "build_dsir_state",
    "apply_dsir_changes",
    "select_top",
    "run_dsir_maintenance",
]


class DSIRState(NamedTuple):
    """Materialized incremental DSIR-census state."""

    dg: DataFrame   # (doc_id, is_tgt, sh64, n) — per-doc occurrences
    raw: DataFrame  # (sh64, raw_cnt) — whole-corpus census
    tgt: DataFrame  # (sh64, tgt_cnt) — target-side census

    def release(self) -> None:
        for f in (self.dg, self.raw, self.tgt):
            release_local_checkpoint(f)


def _doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, is_tgt, sh64, n): per-document bigram occurrence counts
    hashed to the 60-bit portable key, flagged with the SAME quality
    predicate the batch query and crp_corpus_clean use."""
    sh64 = F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
    return (
        docs.select(
            "doc_id",
            (TX.quality_score(F.col("text")) >= MIN_QUALITY).alias("is_tgt"),
            F.explode(DD.shingles(F.col("text"), DSIR_NGRAM)).alias("g"),
        )
        .select("doc_id", "is_tgt", sh64.alias("sh64"))
        .groupBy("doc_id", "is_tgt", "sh64")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _census(dg: DataFrame, cnt_col: str) -> DataFrame:
    return dg.groupBy("sh64").agg(F.sum("n").alias(cnt_col))


def build_dsir_state(docs: DataFrame) -> DSIRState:
    """Full build from a (doc_id, text) corpus."""
    dg = FEED.ckpt(_doc_grams(docs))
    raw = FEED.ckpt(_census(dg, "raw_cnt"))
    tgt = FEED.ckpt(_census(dg.filter(F.col("is_tgt")), "tgt_cnt"))
    return DSIRState(dg, raw, tgt)


def _merge(census: DataFrame, cnt_col: str, inc: DataFrame, dec: DataFrame):
    """census ± per-doc delta rows → new census (grams at 0 drop out)."""
    return (
        census.select("sh64", F.col(cnt_col).alias("delta"))
        .unionByName(inc.groupBy("sh64").agg(F.sum("n").alias("delta")))
        .unionByName(dec.groupBy("sh64").agg((-F.sum("n")).alias("delta")))
        .groupBy("sh64")
        .agg(F.sum("delta").alias(cnt_col))
        .filter(F.col(cnt_col) > 0)
    )


def apply_dsir_changes(
    state: DSIRState,
    upserts: DataFrame,
    deletes: DataFrame,
) -> DSIRState:
    """One maintenance round. A quality flip needs no special case: the
    old rows leave under their stored flag, the new rows enter under the
    freshly-computed one — both censuses move exactly."""
    changed = upserts.select("doc_id").unionByName(deletes).distinct()
    old = state.dg.join(F.broadcast(changed), "doc_id", "left_semi")
    new = _doc_grams(upserts)
    raw2 = _merge(state.raw, "raw_cnt", new, old)
    tgt2 = _merge(
        state.tgt,
        "tgt_cnt",
        new.filter(F.col("is_tgt")),
        old.filter(F.col("is_tgt")),
    )
    dg2 = state.dg.join(
        F.broadcast(changed), "doc_id", "left_anti"
    ).unionByName(new)
    return DSIRState(
        FEED.ckpt(dg2), FEED.ckpt(raw2), FEED.ckpt(tgt2)
    )


def select_top(state: DSIRState, k: int = DSIR_K) -> DataFrame:
    """Rank the maintained raw pool (non-target docs) by the batch
    query's integer-bit importance rate and keep the top ``k`` — ONE
    shared scoring body (queries/corpus_q.py::dsir_rank_pool, n-weighted
    so per-(doc, gram) counts restore the occurrence-level sums), with
    the maintained censuses in place of the one-shot ones."""
    from sql_cdc_spark.queries.corpus_q import dsir_rank_pool

    pool = state.dg.filter(~F.col("is_tgt")).select("doc_id", "n", "sh64")
    return dsir_rank_pool(pool, state.raw, state.tgt, k)


def run_dsir_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial: DSIRState,
) -> tuple[DSIRState, int]:
    """Drain the document change feed with trigger(availableNow),
    applying each micro-batch; returns (final_state, n_batches)."""
    def _apply(prev: DSIRState, batch_df: DataFrame, batch_id: int) -> DSIRState:
        upserts, deletes = collapse_batch(batch_df)
        return apply_dsir_changes(prev, upserts, deletes)

    return FEED.drain_feed(
        spark, feed_dir, CHANGE_SCHEMA, checkpoint_dir, initial, _apply,
        lambda s: s.release(),
    )
