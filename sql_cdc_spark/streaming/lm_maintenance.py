"""Streaming n-gram LM maintenance — the TRAIN-split trigram occurrence
census behind crp_ngram_lm_score kept current from a document change
feed, so fresh documents can be LM-scored (novelty + lm_bits) against
an up-to-date model without ever re-scanning the train corpus.

LM counts are exactly delta-maintainable: an update subtracts the OLD
document's trigram multiset and adds the new one, so the state carries a
per-train-doc (doc_id, sh64, n) occurrence table alongside the
(sh64, cnt) aggregate — the per-doc table is what makes subtraction
possible without re-reading documents. Split membership is the pure
doc_id hash (functions/sampling.py), so a document can never migrate
between splits and test-split changes are no-ops for the model.

Per-batch compute is O(|train-side batch| · grams-per-doc) plus one
union + groupBy-sum over |lm| + |delta| rows. Scoring is the SAME
integer-exact formula as the batch query (fact-by-fact join on the
bigint gram key; floor(log2 n) = length(bin(n)) − 1), so incremental
state and a full rebuild produce bit-identical scores — asserted in
tests.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions import dedup as DD
from sql_cdc_spark.functions import sampling as SP
from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.queries.corpus_q import LM_NGRAM, TEST_FRAC, VAL_FRAC
from sql_cdc_spark.streaming import feed as FEED
from sql_cdc_spark.streaming.dedup_maintenance import (
    CHANGE_SCHEMA,
    collapse_batch,
)

__all__ = [
    "CHANGE_SCHEMA",
    "LMState",
    "build_lm_state",
    "apply_lm_changes",
    "score_documents",
    "run_lm_maintenance",
]


class LMState(NamedTuple):
    """Materialized incremental language-model state."""

    tg: DataFrame  # (doc_id, sh64, n) — per-TRAIN-doc gram occurrences
    lm: DataFrame  # (sh64, cnt) — the train-split gram census

    def release(self) -> None:
        for f in (self.tg, self.lm):
            release_local_checkpoint(f)


def _is_train(docs: DataFrame) -> DataFrame:
    """The train-split rows of any (doc_id, …) frame — REUSES the batch
    pipeline's split assignment (functions/sampling.py::with_split), so
    a change to the split rule there moves this filter with it."""
    return (
        SP.with_split(docs, "doc_id", TEST_FRAC, VAL_FRAC)
        .filter(F.col("split") == "train")
        .drop("split")
    )


def _doc_grams(docs: DataFrame) -> DataFrame:
    """(doc_id, sh64, n): per-document gram occurrence counts, hashed to
    the 60-bit portable key the batch query uses."""
    sh64 = F.conv(F.substring(F.md5("g"), 1, 15), 16, 10).cast("long")
    return (
        docs.select(
            "doc_id",
            F.explode(DD.shingles(F.col("text"), LM_NGRAM)).alias("g"),
        )
        .select("doc_id", sh64.alias("sh64"))
        .groupBy("doc_id", "sh64")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def build_lm_state(docs: DataFrame) -> LMState:
    """Full build of the LM state from a (doc_id, text) corpus — only
    train-split documents contribute."""
    tg = FEED.ckpt(_doc_grams(_is_train(docs)))
    lm = FEED.ckpt(tg.groupBy("sh64").agg(F.sum("n").alias("cnt")))
    return LMState(tg, lm)


def apply_lm_changes(
    state: LMState,
    upserts: DataFrame,
    deletes: DataFrame,
) -> LMState:
    """One maintenance round: test/val-split changes are dropped at the
    scan (split is a doc_id hash — membership never moves); train-side
    deltas subtract the old per-doc occurrence rows and add the new."""
    changed = _is_train(
        upserts.select("doc_id").unionByName(deletes).distinct()
    )
    old = state.tg.join(F.broadcast(changed), "doc_id", "left_semi")
    new = _doc_grams(_is_train(upserts))

    dec = old.groupBy("sh64").agg((-F.sum("n")).alias("delta"))
    inc = new.groupBy("sh64").agg(F.sum("n").alias("delta"))
    lm2 = (
        state.lm.select("sh64", F.col("cnt").alias("delta"))
        .unionByName(inc)
        .unionByName(dec)
        .groupBy("sh64")
        .agg(F.sum("delta").alias("cnt"))
        .filter(F.col("cnt") > 0)
    )
    tg2 = state.tg.join(
        F.broadcast(changed), "doc_id", "left_anti"
    ).unionByName(new)
    return LMState(FEED.ckpt(tg2), FEED.ckpt(lm2))


def score_documents(state: LMState, docs: DataFrame) -> DataFrame:
    """LM-score any (doc_id, text) set against the maintained census —
    the crp_ngram_lm_score formula (n_ngrams, n_unseen, novelty_pct,
    lm_bits; all-integer) with the maintained lm in place of the batch
    census. Occurrence multiplicity is restored from the per-doc counts
    so the numbers match the batch query's exploded form exactly."""
    grams = _doc_grams(docs)
    scored = grams.join(state.lm, "sh64", "left")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_ngrams"),
            F.sum(
                F.when(F.col("cnt").isNull(), F.col("n")).otherwise(F.lit(0))
            ).alias("n_unseen"),
            F.sum(
                F.when(
                    F.col("cnt").isNotNull(),
                    F.col("n") * (F.length(F.bin(F.col("cnt"))) - F.lit(1)),
                ).otherwise(F.lit(0)).cast("long")
            ).alias("lm_bits"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_unseen",
            F.expr("100 * n_unseen div n_ngrams").alias("novelty_pct"),
            "lm_bits",
        )
        .orderBy("doc_id")
    )


def run_lm_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial: LMState,
) -> tuple[LMState, int]:
    """Drain the document change feed with trigger(availableNow),
    applying each micro-batch; returns (final_state, n_batches)."""
    def _apply(prev: LMState, batch_df: DataFrame, batch_id: int) -> LMState:
        upserts, deletes = collapse_batch(batch_df)
        return apply_lm_changes(prev, upserts, deletes)

    return FEED.drain_feed(
        spark, feed_dir, CHANGE_SCHEMA, checkpoint_dir, initial, _apply,
        lambda s: s.release(),
    )
