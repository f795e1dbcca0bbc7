"""Streaming data-quality expectations — functions/quality.expectations
run per micro-batch over a change feed, with violations parked in a
side-sink instead of wedging the stream (the quality analog of the
per-record sink's failed-document error dir, streaming/pipeline.py:
a bad batch must leave evidence and keep the feed draining).

Violations land as parquet rows (rule, n_violations, batch_id) under
``violations_dir/b<N>/`` written with overwrite, so foreachBatch's
replay-on-restart rewrites the same directory — effectively-exactly-once
evidence without a transaction log. Clean batches write nothing. (The
directory is deliberately NOT ``batch_id=N``: batch_id travels as a data
column, and a partition-style name would collide with it at read time.)

Scale stance: the expectation evaluation is ONE aggregate pass over each
micro-batch (see functions/quality.py); the sink writes at most |rules|
rows per batch.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.functions.quality import expectations
from sql_cdc_spark.streaming import feed as FEED


def check_batch(
    batch_df: DataFrame,
    rules: dict[str, Column],
    violations_dir: str,
    batch_id: int,
) -> dict[str, int]:
    """Evaluate the rules against one batch; persist non-zero rows under
    ``violations_dir/b<N>/`` (overwrite → replay-idempotent).
    Returns {rule: n_violations} for the FAILED rules only."""
    failed = {
        r.rule: r.n_violations
        for r in expectations(batch_df, rules).collect()
        if r.n_violations
    }
    if failed:
        rows = [(rule, n, int(batch_id)) for rule, n in sorted(failed.items())]
        batch_df.sparkSession.createDataFrame(
            rows, "rule string, n_violations long, batch_id long"
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(violations_dir, f"b{int(batch_id)}")
        )
    return failed


def run_streaming_expectations(
    spark: SparkSession,
    feed_dir: str,
    schema,
    checkpoint: str,
    rules: dict[str, Column],
    violations_dir: str,
) -> tuple[dict[str, int], int]:
    """Drain the feed with trigger(availableNow), checking every
    micro-batch against the rules; violations are parked per batch and
    the stream CONTINUES (a quality gate that halts ingestion is a
    different policy — compose ``assert_expectations`` into the apply
    path for that). Returns (total violations per rule across batches,
    n_batches)."""
    def _apply(state: dict, batch_df: DataFrame, batch_id: int) -> dict:
        # the checkpoint-persisted foreachBatch id: evidence directories
        # stay stable across restart/replay and a resumed drain keeps
        # numbering instead of restarting at 0 and colliding
        for rule, n in check_batch(
            batch_df, rules, violations_dir, batch_id
        ).items():
            state[rule] = state.get(rule, 0) + n
        return dict(state)

    final, n_batches = FEED.drain_feed(
        spark, feed_dir, schema, checkpoint,
        {}, _apply, lambda s: None,
    )
    return final, n_batches


def read_violations(spark: SparkSession, violations_dir: str) -> DataFrame:
    """The parked evidence as a DataFrame (rule, n_violations, batch_id);
    empty-but-typed when no batch ever violated. Only the genuinely-empty
    case (missing dir / no evidence files yet) maps to the empty frame —
    a corrupt or unreadable evidence file PROPAGATES, because an evidence
    sink that reads errors as "clean" is the one false negative a quality
    audit must never produce. The emptiness probe goes through Hadoop's
    FileSystem (not os.*), so a remote evidence sink (hdfs://, s3a://)
    keeps the same contract instead of reading as 'clean'."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(violations_dir)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    has_files = False
    if fs.exists(jpath):
        it = fs.listFiles(jpath, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                has_files = True
                break
    if not has_files:
        return spark.createDataFrame(
            [], "rule string, n_violations long, batch_id long"
        )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .parquet(violations_dir)
        .select("rule", "n_violations", F.col("batch_id").cast("long"))
    )
