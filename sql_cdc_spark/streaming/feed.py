"""Shared scaffolding for the streaming state-maintenance family
(near-dup, ANN postings, HLL sketches, DF/IDF vocabulary, SCD2 history).

Every maintenance module has the same skeleton: a schema'd parquet
readStream over an append-only change-feed directory, read one file per
trigger, a latest-op-per-key collapse of each micro-batch, and a
foreachBatch availableNow drain that threads a state object through the
batches, releasing each superseded snapshot. The drain has one apply
contract, ``apply_fn(prev, batch_df, batch_id) -> next``. One
implementation here means a drain-loop fix (timeout handling, release
ordering) lands everywhere at once.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def ckpt(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint — the lineage cut every incremental state
    rewrite needs so chained batches don't replan the whole history."""
    return df.localCheckpoint(eager=True)


def read_feed(spark: SparkSession, feed_dir: str, schema) -> DataFrame:
    """Streaming source over a parquet change-feed directory, one file
    per micro-batch. ``schema`` is a DDL string or StructType; files
    written BEFORE a column was added to the feed simply read it as null
    (parquet by-name column resolution), which is the engine's
    schema-evolution contract — see ``discover_feed_schema`` for
    deriving the evolved schema from the directory instead of hardcoding
    it.

    Cold start: a maintenance job legitimately comes up before its feed
    has produced a single file, so a missing directory is created empty
    here (drain sees zero batches) instead of failing PATH_NOT_FOUND in
    every maintenance module at once — via the Hadoop FileSystem API
    (fsutil.ensure_dir), so a remote feed dir (hdfs://, s3a://) gets the
    same contract instead of a bogus local mkdir (ADVICE r4)."""
    from sql_cdc_spark.streaming.fsutil import ensure_dir

    ensure_dir(spark, feed_dir)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(feed_dir)
    )


def discover_feed_schema(spark: SparkSession, feed_dir: str, required: str):
    """Schema evolution for change feeds: a long-lived feed gains payload
    columns over time (the upstream table got a new column mid-stream),
    and a streaming reader needs ONE schema covering every file present.
    This merges all parquet footers in the directory
    (``mergeSchema=true`` — a footer-only scan, no data read) and
    validates that the feed CONTRACT columns (``required``, DDL string:
    key/op/version at minimum) survived the evolution; a feed that
    dropped or retyped a contract column fails loudly here rather than
    as nulls downstream. Rows from pre-evolution files expose the added
    columns as null — the same convention SQL Server CT consumers get
    when they ALTER TABLE ADD a column.

    Cold start mirrors ``read_feed``: a feed directory that does not
    exist yet (or holds no files) yields the contract schema itself —
    the evolved schema IS the contract until the first file lands.

    Returns the merged StructType to pass to ``read_feed``."""
    from pyspark.sql.types import StructType

    from sql_cdc_spark.streaming.fsutil import ensure_dir, has_parquet_files

    req = StructType.fromDDL(required)
    ensure_dir(spark, feed_dir)
    if not has_parquet_files(spark, feed_dir):
        return req
    merged = (
        spark.read.option("mergeSchema", "true").parquet(feed_dir).schema
    )
    by_name = {f.name: f for f in merged.fields}
    problems = []
    for f in req.fields:
        got = by_name.get(f.name)
        if got is None:
            problems.append(f"missing contract column {f.name}")
        elif got.dataType != f.dataType:
            problems.append(
                f"contract column {f.name} retyped "
                f"{f.dataType.simpleString()} -> {got.dataType.simpleString()}"
            )
    if problems:
        raise ValueError(
            f"feed at {feed_dir} violates its contract: {'; '.join(problems)}"
        )
    return merged


def collapse_latest(
    batch_df: DataFrame,
    id_col: str,
    payload_col: str,
    version_col: str = "change_version",
    op_col: str = "op",
) -> tuple[DataFrame, DataFrame]:
    """Latest-op-per-key collapse of one change batch → (upserts,
    deletes). Plain batch column algebra, unit-testable without a
    stream; a key whose last op in the batch is a delete lands in
    ``deletes``, every other key in ``upserts`` with its winning
    payload."""
    # the ordering key includes op and payload so a same-version tie
    # (at-least-once source duplicating across an update/delete race)
    # resolves DETERMINISTICALLY — replay routes the key identically,
    # which the maintenance family's idempotence claims require
    latest = batch_df.groupBy(id_col).agg(
        F.max_by(
            F.struct(op_col, payload_col),
            F.struct(version_col, op_col, payload_col),
        ).alias("w")
    )
    upserts = latest.filter(
        (F.col(f"w.{op_col}") != "D") & F.col(f"w.{payload_col}").isNotNull()
    ).select(id_col, F.col(f"w.{payload_col}").alias(payload_col))
    deletes = latest.filter(F.col(f"w.{op_col}") == "D").select(id_col)
    return upserts, deletes


def drain_feed(
    spark: SparkSession,
    feed_dir: str,
    schema: str,
    checkpoint_dir: str,
    initial,
    apply_fn: Callable,
    release_fn: Callable,
    *,
    timeout_s: int = 300,
):
    """Drain the change feed with trigger(availableNow), threading the
    state through ``apply_fn(prev_state, batch_df, batch_id) ->
    next_state`` per micro-batch; returns (final_state, n_batches).
    ``batch_id`` is the foreachBatch id the checkpoint persists, so it
    is stable across restart/replay and keeps numbering across a resumed
    drain. A drain that does not terminate within ``timeout_s`` is
    STOPPED and raises TimeoutError — never a silent partial state with
    a live stream still mutating it; an ``apply_fn`` that raises stops
    the drain the same way and its error propagates. Either way the
    last applied state is released, and the checkpoint has committed
    the batches applied so far, so a resumed drain starts after them.

    Ownership: each superseded state is released via ``release_fn`` the
    moment its successor exists — callers must not reuse the passed-in
    state after this returns; the returned state is live and
    caller-owned. An apply that returns the SAME object (a no-op batch,
    e.g. fully replayed under a watermark cursor) releases nothing."""
    holder: dict = {"state": initial, "batches": 0}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        prev = holder["state"]
        nxt = apply_fn(prev, batch_df, int(batch_id))
        if nxt is not prev:
            release_fn(prev)
        holder["state"] = nxt
        holder["batches"] += 1

    query = (
        read_feed(spark, feed_dir, schema)
        .writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not query.awaitTermination(timeout_s):
            raise TimeoutError(
                f"feed drain at {feed_dir} exceeded {timeout_s}s after "
                f"{holder['batches']} batches; checkpoint {checkpoint_dir} "
                "resumes the drain"
            )
    except BaseException:
        # A timeout or a failing batch: returning a partial state would
        # be a live hazard (a still-running stream keeps applying batches
        # and release_fn-ing the object the caller would hold), and no
        # caller can reach the state built so far. Stop the stream and
        # release the last applied state (ownership transferred to this
        # drain — the docstring contract), so repeated failures in a
        # long-lived session don't accumulate orphaned checkpoint blocks.
        query.stop()
        release_fn(holder["state"])
        raise
    return holder["state"], holder["batches"]
