"""Streaming ANN-index maintenance — the similarity analog of the dedup
maintenance pipeline: an embedding change feed (vec_id, embedding, op,
change_version) maintains IVF posting lists (vec_id → cluster) under a
FROZEN coarse quantizer, so a continuously-ingesting vector corpus stays
searchable without re-fitting or re-assigning the world per batch.

Reference framing: the reference's changelog drives per-invoice document
rebuilds (invoice-api/server.js:83-365); here the same change-feed
discipline drives the ANN index instead. Freezing the quantizer between
(rare, offline) re-fits is the standard IVF discipline — postings are
maintained online, centroids are not — which is exactly what makes
stream-equals-batch equality hold: assignment under a fixed model is a
pure function of the vector.

Semantics:
- each micro-batch collapses to its latest op per vec_id (max
  change_version — the same A1 collapse as the CDC pipeline);
- the winning op routes the vector: 'D' → drop from postings, anything
  else with a non-null embedding → (re-)assign under the frozen model
  and upsert; malformed upserts (null embedding) drop;
- application is idempotent (remove-then-readd per key), so
  foreachBatch replay-on-restart yields effectively-exactly-once index
  maintenance;
- superseded postings snapshots are released (localCheckpoint blocks
  freed) as new ones materialize.

Scale stance: per batch the work is O(|batch| · k · dim) assignment —
map-side only, no shuffle — plus one anti-join + union against the
postings table, which at cluster scale is an incremental parquet/Delta
write. The corpus is never re-scanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.functions.similarity import as_double_array, ivf_assign
from sql_cdc_spark.streaming import feed as FEED

CHANGE_SCHEMA = (
    "vec_id long, embedding array<float>, op string, change_version long"
)


def collapse_batch(batch_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Latest-op-per-vector collapse of one change batch → (upserts,
    deletes) — streaming/feed.py::collapse_latest on (vec_id,
    embedding)."""
    return FEED.collapse_latest(batch_df, "vec_id", "embedding")


def assign_under_model(
    model, vectors: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """(vec_id, cluster) assignment of ``vectors`` under a FITTED, frozen
    coarse quantizer — one map-side pass, no shuffle, no fit."""
    from pyspark.ml.functions import array_to_vector

    feat = vectors.withColumn(
        "__feat", array_to_vector(as_double_array(F.col(vec_col)))
    )
    return model.transform(feat).select(id_col, "cluster")


def build_postings(
    vectors: DataFrame,
    n_clusters: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
):
    """Initial index build: sample-fit the quantizer (ivf_assign) and
    materialize the posting table. Returns (postings, model); the model
    is the frozen quantizer every later batch assigns under."""
    assigned, model = ivf_assign(vectors, n_clusters, vec_col, id_col, seed=seed)
    return FEED.ckpt(assigned.select(id_col, "cluster")), model


def apply_postings_changes(
    postings: DataFrame,
    upserts: DataFrame,
    deletes: DataFrame,
    model,
) -> DataFrame:
    """One maintenance round: remove every changed key, re-add upserted
    vectors at their model-assigned cluster.

        postings' = (postings ANTI changed-keys)
                  ∪ assign(model, upserted-vectors)

    The changed-key set is a CDC batch (small) so it broadcasts; the
    postings side never shuffles. Mirrors apply_changes_to_replica
    (operators/cdc.py) with a model assignment in place of the base-table
    semi-join."""
    changed = upserts.select("vec_id").unionByName(deletes).distinct()
    survivors = postings.join(F.broadcast(changed), "vec_id", "left_anti")
    added = assign_under_model(model, upserts)
    return FEED.ckpt(survivors.unionByName(added))


def run_ann_maintenance(
    spark: SparkSession,
    feed_dir: str,
    checkpoint_dir: str,
    initial_postings: DataFrame,
    model,
) -> tuple[DataFrame, int]:
    """Drain the change feed with trigger(availableNow), applying each
    micro-batch to the posting table; returns (final_postings,
    n_batches). Ownership: as ``feed.drain_feed``."""
    def _apply(prev: DataFrame, batch_df: DataFrame, batch_id: int) -> DataFrame:
        upserts, deletes = collapse_batch(batch_df)
        return apply_postings_changes(prev, upserts, deletes, model)

    return FEED.drain_feed(
        spark, feed_dir, CHANGE_SCHEMA, checkpoint_dir, initial_postings,
        _apply, release_local_checkpoint,
    )
