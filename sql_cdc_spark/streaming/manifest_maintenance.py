"""Streaming corpus-manifest maintenance — the capstone composition: a
document change feed maintains the OUTPUT of the whole corpus-prep
pipeline (pipelines/corpus.py::prepare_training_corpus — quality/length
gates → exact dedup → near-dup cluster removal → split) instead of any
single stage, so a continuously-ingesting 100 TB corpus keeps a current
training manifest without ever re-running the world-scale batch job.

The hard part is the EXACT-DEDUP stage: it is a global min-per-digest, so
one change can alter the survivor set for documents the batch never
touched — deleting a digest's canonical doc must RESURFACE the next
smallest copy, and inserting a smaller-id copy must DISPLACE the current
canonical. The incremental rule mirrors refresh_aggregate_groups
(operators/cdc.py) at the digest level: recompute survivors only for
AFFECTED digests (digests of touched docs, before or after the change),
diff the before/after survivor sets, and feed that diff — not the raw
batch — into the near-dup state maintenance (apply_near_dup_changes),
which then handles its own global effects (band buckets, cap flips).

Downstream of the maintained state, clusters + split are cheap pure
functions: dup_clusters runs on the (tiny) verified pair set and the
split is a scan-local key-hash expression, so the manifest itself is
derived, never stored.

Semantics per micro-batch (same change-feed discipline as
dedup_maintenance):
- latest-op-per-doc collapse (max change_version) — multi-change batches
  apply once per doc;
- an upsert whose text FAILS the gates acts as a gated-level delete (a
  doc updated into junk leaves the corpus, and its digest's next copy
  resurfaces);
- application is idempotent against the state, so foreachBatch replay
  gives effectively-exactly-once maintenance;
- superseded states are released as new ones materialize.

No reference analog (the reference has no corpus surface); this composes
the north-star extension suite with the reference's change-feed
discipline (SURVEY §2.9).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions import dedup as DD
from sql_cdc_spark.functions import sampling as SP
from sql_cdc_spark.functions import text as TX
from sql_cdc_spark.streaming import feed as FEED

MANIFEST_CHANGE_SCHEMA = (
    "doc_id long, lang string, source string, text string, "
    "op string, change_version long"
)

_GATED_COLS = ["doc_id", "lang", "source", "text", "n_tokens", "quality", "digest"]


class ManifestState(NamedTuple):
    """Materialized incremental corpus-manifest state: the gated corpus
    (post length/quality gates, pre dedup — the exact-dedup stage needs
    every copy per digest so canonicals can resurface) plus the near-dup
    state over the current exact-dedup SURVIVORS."""

    gated: DataFrame  # (doc_id, lang, source, text, n_tokens, quality, digest)
    nd: DD.NearDupState

    def release(self) -> None:
        DD.release_local_checkpoint(self.gated)
        self.nd.release()


def _gate(docs: DataFrame, min_tokens: int, min_quality: float) -> DataFrame:
    """Score + gate — the scan-local stage 1+2 of prepare_training_corpus,
    reusing its exact expressions so the maintained manifest can never
    drift from the batch pipeline's."""
    return docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        TX.token_count(F.col("text")).alias("n_tokens"),
        TX.quality_score(F.col("text")).alias("quality"),
        TX.fingerprint(F.col("text")).alias("digest"),
    ).filter(
        (F.col("n_tokens") >= min_tokens) & (F.col("quality") >= min_quality)
    )


def _survivors(gated: DataFrame) -> DataFrame:
    """Exact-dedup survivors: min-doc_id row per digest (stage 3)."""
    return (
        gated.groupBy("digest")
        .agg(
            F.min_by(
                F.struct(*[c for c in _GATED_COLS if c != "digest"]),
                F.col("doc_id"),
            ).alias("r")
        )
        .select("r.*", "digest")
    )


def build_manifest_state(
    docs: DataFrame,
    *,
    min_tokens: int = 5,
    min_quality: float = 0.5,
    near_dup_threshold: float = 0.5,
    lsh_max_bucket: int = 50,
) -> ManifestState:
    """Full build that materializes the tables apply_manifest_changes
    maintains incrementally — same stage semantics, same parameters as
    prepare_training_corpus."""
    gated = FEED.ckpt(_gate(docs, min_tokens, min_quality))
    nd = DD.build_near_dup_state(
        _survivors(gated),
        max_bucket_size=lsh_max_bucket,
        threshold=near_dup_threshold,
    )
    return ManifestState(gated=gated, nd=nd)


def apply_manifest_changes(
    state: ManifestState,
    upserts: DataFrame,
    deletes: DataFrame,
    *,
    min_tokens: int = 5,
    min_quality: float = 0.5,
    near_dup_threshold: float = 0.5,
    lsh_max_bucket: int = 50,
) -> ManifestState:
    """Apply one collapsed change batch (upserts: doc_id/lang/source/text,
    deletes: doc_id) and return the next state. Equals a from-scratch
    build_manifest_state over the post-change corpus (pytest-pinned),
    including the non-local exact-dedup effects:

    - delete/degrade a digest's canonical  → next-smallest copy resurfaces
      into the near-dup corpus;
    - insert a smaller-id copy             → current canonical is displaced
      OUT of the near-dup corpus;
    - survivor keeps its id but its text (digest) changed → near-dup
      update, detected by (doc_id, digest) identity, not id alone.

    Work is batch-proportional: gating is scan-local on the batch,
    survivor recomputation touches only AFFECTED digests (semi-joins on
    the digest list), and the near-dup stage receives only the survivor
    DIFF. The corpus-sized ``gated`` table is rewritten by one
    anti-join + union (at cluster scale, an incremental table write)."""
    touched = (
        upserts.select("doc_id").unionByName(deletes.select("doc_id")).distinct()
    )
    gated_up = _gate(upserts, min_tokens, min_quality)

    # digests whose survivor set can change: any digest a touched doc
    # holds in the OLD state, plus every incoming digest
    affected = (
        state.gated.join(touched, "doc_id", "left_semi")
        .select("digest")
        .unionByName(gated_up.select("digest"))
        .distinct()
    )

    new_gated = FEED.ckpt(
        state.gated.join(touched, "doc_id", "left_anti").unionByName(gated_up)
    )

    before = _survivors(
        state.gated.join(affected, "digest", "left_semi")
    ).select("doc_id", "digest", "text")
    after = _survivors(
        new_gated.join(affected, "digest", "left_semi")
    ).select("doc_id", "digest", "text")

    # (doc_id, digest) identity: a survivor whose id persists but whose
    # content changed is an UPDATE for the near-dup state
    nd_upserts = after.join(
        before.select("doc_id", "digest"), ["doc_id", "digest"], "left_anti"
    ).select("doc_id", "text")
    nd_deletes = before.select("doc_id").subtract(after.select("doc_id"))

    nd = DD.apply_near_dup_changes(
        state.nd,
        nd_upserts,
        nd_deletes,
        max_bucket_size=lsh_max_bucket,
        threshold=near_dup_threshold,
    )
    return ManifestState(gated=new_gated, nd=nd)


def manifest_from_state(
    state: ManifestState, test_frac: float = 0.1, val_frac: float = 0.05
) -> DataFrame:
    """Derive the current training manifest from the maintained state —
    column-identical to prepare_training_corpus's return. Clusters come
    from the (tiny) maintained pair set; the split is scan-local."""
    clusters = DD.dup_clusters(state.nd.pairs)
    dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    # pinned shuffle-hash for the same reason as the batch twin
    # (pipelines/corpus.py): corpus-scale ⨝ corpus-scale, stats-less
    # checkpointed side, broadcast banned
    kept = _survivors(state.gated).join(
        dropped.hint("shuffle_hash"), "doc_id", "left_anti"
    ).drop("text")
    return SP.with_split(kept, "doc_id", test_frac, val_frac).select(
        "doc_id", "lang", "source", "n_tokens", "quality", "digest", "split"
    )


def collapse_batch(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Latest-op-per-doc collapse carrying the multi-column payload
    (lang, source, text); same winning rule as feed.collapse_latest —
    including its (version, op, payload) ORDERING key, so a
    same-version U/D duplicate pair (at-least-once source racing an
    update against a delete) resolves deterministically and replay
    routes the doc identically, which the idempotence claims both
    modules inherit require (ADVICE r4). TEXT is the first payload
    tiebreak column — same position it holds in the single-payload
    collapse — so a feed consumed through BOTH paths (manifest state
    here, text-only dedup state there) elects the SAME winner for a
    same-version same-op duplicate whose lang and text both differ;
    ordering lang/source ahead of text could split the election
    across modules (ADVICE r5)."""
    latest = batch_df.groupBy("doc_id").agg(
        F.max_by(
            F.struct("op", "lang", "source", "text"),
            F.struct("change_version", "op", "text", "lang", "source"),
        ).alias("w")
    )
    upserts = latest.filter(
        (F.col("w.op") != "D") & F.col("w.text").isNotNull()
    ).select("doc_id", "w.lang", "w.source", "w.text")
    deletes = latest.filter(F.col("w.op") == "D").select("doc_id")
    return upserts, deletes


def run_manifest_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint: str,
    initial: ManifestState,
    *,
    min_tokens: int = 5,
    min_quality: float = 0.5,
    near_dup_threshold: float = 0.5,
    lsh_max_bucket: int = 50,
) -> tuple[ManifestState, int]:
    """Drain the document change feed with trigger(availableNow),
    applying each micro-batch to the manifest state; returns
    (final_state, n_batches). Ownership: as ``feed.drain_feed``."""

    def _apply(
        prev: ManifestState, batch_df: DataFrame, batch_id: int
    ) -> ManifestState:
        upserts, deletes = collapse_batch(batch_df)
        return apply_manifest_changes(
            prev,
            upserts,
            deletes,
            min_tokens=min_tokens,
            min_quality=min_quality,
            near_dup_threshold=near_dup_threshold,
            lsh_max_bucket=lsh_max_bucket,
        )

    return FEED.drain_feed(
        spark,
        feed_dir,
        MANIFEST_CHANGE_SCHEMA,
        checkpoint,
        initial,
        _apply,
        lambda s: s.release(),
    )
