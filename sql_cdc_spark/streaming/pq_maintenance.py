"""Streaming PQ-code maintenance — the product-quantization analog of
ann_maintenance (IVF postings): an embedding change feed (vec_id,
embedding, op, change_version) maintains the PQ code table
(vec_id, code0..code{m-1}) under FROZEN codebooks, so the compressed
ADC-searchable index of a continuously-ingesting vector corpus stays
current without re-fitting codebooks or re-encoding the world per batch.

Reference framing: the reference's changelog drives per-invoice document
rebuilds (invoice-api/server.js:83-365); here the same change-feed
discipline drives the PQ index. Freezing the quantizer between (rare,
offline) re-fits is the standard PQ discipline — codes are maintained
online, codebooks are not — and it is exactly what makes
stream-equals-batch equality hold: encoding under fixed codebooks is a
pure function of the vector (integer-micros argmin, deterministic ties),
so the maintained table equals a from-scratch encode of the final corpus
bit-for-bit.

Semantics (same skeleton as the other eleven maintenance twins):
- each micro-batch collapses to its latest op per vec_id
  (feed.collapse_latest — deterministic same-version tiebreak);
- 'D' drops the key's codes; any other op with a non-null embedding
  re-encodes under the frozen codebooks and upserts; malformed upserts
  (null embedding) drop;
- application is remove-then-readd per key, so foreachBatch
  replay-on-restart yields effectively-exactly-once index maintenance;
- superseded code-table snapshots are released as new ones materialize.

Scale stance: per batch the work is O(|batch| · k · dim) integer argmin
— map-side only, no shuffle (pq_encode is one generated-SQL projection)
— plus one broadcast anti-join + union against the code table, which at
cluster scale is an incremental parquet/Delta write. The corpus is never
re-scanned, and the maintained artifact is the ~32×-compressed index
(m small ints per vector), i.e. the thing cheap enough to keep hot at
100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.functions.similarity import PQ_K, PQ_M, pq_codebooks, pq_encode
from sql_cdc_spark.streaming import feed as FEED
from sql_cdc_spark.streaming.ann_maintenance import CHANGE_SCHEMA

__all__ = [
    "CHANGE_SCHEMA",
    "collapse_batch",
    "build_codes",
    "apply_codes_changes",
    "run_pq_maintenance",
]


def collapse_batch(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Latest-op-per-vector collapse of one change batch → (upserts,
    deletes) — streaming/feed.py::collapse_latest on (vec_id,
    embedding)."""
    return FEED.collapse_latest(batch_df, "vec_id", "embedding")


def build_codes(
    vectors: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
):
    """Initial index build: sample-fit the per-subspace codebooks
    (pq_codebooks — integer-micros centroids, bounded collect) and
    encode the corpus. Returns (codes, books); ``books`` is the frozen
    quantizer every later batch encodes under."""
    books = pq_codebooks(vectors, m, k, vec_col, seed=seed)
    return FEED.ckpt(pq_encode(vectors, books, vec_col, id_col)), books


def apply_codes_changes(
    codes: DataFrame,
    upserts: DataFrame,
    deletes: DataFrame,
    books,
) -> DataFrame:
    """One maintenance round: remove every changed key, re-add upserted
    vectors at their frozen-codebook encoding.

        codes' = (codes ANTI changed-keys) ∪ pq_encode(books, upserts)

    The changed-key set is a CDC batch (small) so it broadcasts; the
    code table side never shuffles. Mirrors
    ann_maintenance.apply_postings_changes with pq_encode in place of
    the model assignment."""
    changed = upserts.select("vec_id").unionByName(deletes).distinct()
    survivors = codes.join(F.broadcast(changed), "vec_id", "left_anti")
    added = pq_encode(upserts, books)
    return FEED.ckpt(survivors.unionByName(added))


def run_pq_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial_codes: DataFrame,
    books,
) -> tuple[DataFrame, int]:
    """Drain the change feed with trigger(availableNow), applying each
    micro-batch to the code table; returns (final_codes, n_batches).
    Ownership: as ``feed.drain_feed``."""
    def _apply(prev: DataFrame, batch_df: DataFrame, batch_id: int) -> DataFrame:
        upserts, deletes = collapse_batch(batch_df)
        return apply_codes_changes(prev, upserts, deletes, books)

    return FEED.drain_feed(
        spark, feed_dir, CHANGE_SCHEMA, checkpoint_dir, initial_codes,
        _apply, release_local_checkpoint,
    )
