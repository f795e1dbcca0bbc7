"""Event-time streaming: watermarked window aggregations and a custom
stateful operator — the streaming features the reference lacks entirely
(SURVEY.md §2.9: its only notion of time is the version counter; the
`events` table is where event time enters this engine).

These mirror the batch queries in queries/events_q.py: the same window
math runs under readStream, so the batch oracles double as golden results
for end-of-stream state.

Scale notes:
- the watermark bounds state: windows older than (max event time − delay)
  are finalized and evicted, so state size is O(active windows), not
  O(stream length).
- `running_totals` uses applyInPandasWithState — Arrow-batched per-key
  state, the Spark shape for custom streaming operators (per-key state
  lives in the state store, partitioned by the grouping key; each
  micro-batch touches only keys present in that batch).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

if TYPE_CHECKING:
    from collections.abc import Iterator

    import pandas as pd

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def read_event_stream(spark, src_dir: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-source event stream with the canonical schema; maxFilesPerTrigger
    is the backpressure bound (one micro-batch per file ≈ one CDC pull)."""
    reader = spark.readStream.schema(EVENT_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src_dir)


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling rollup — the streaming twin of
    evt_tumbling_hourly. Late rows beyond the watermark are dropped;
    closed windows are evicted from the state store."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def session_windows(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked per-user session windows (state-merging aggregation) —
    the streaming twin of evt_session_windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    interval: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event pairs with
    same-key right events whose event time lands in [left.ts, left.ts +
    interval]. Both sides carry watermarks and the join condition bounds
    event-time distance, so Spark can evict join state once the watermark
    passes — bounded memory on unbounded streams (the correlation surface
    the reference would push to a SQL Server join after landing both
    feeds). Works unchanged on batch DataFrames (the watermark node is a
    no-op there), so tests compare stream vs batch with one expr tree.

    ``how='left_outer'`` additionally emits unmatched left events with
    null right columns — in streaming, only once the watermark proves no
    match can still arrive, so null rows for the newest events are
    withheld until a later micro-batch advances the watermark (Spark's
    outer stream-stream contract). Matches always emit eagerly."""
    allowed = {"inner", "left_outer"}
    if how not in allowed:
        raise ValueError(
            f"interval_join supports {sorted(allowed)}, got {how!r}: other "
            "join types need state the streaming engine cannot bound here"
        )
    lhs = left.select(
        F.col(key).alias("join_key"),
        F.col("event_id").alias("left_id"),
        F.col("ts").alias("left_ts"),
    ).withWatermark("left_ts", watermark)
    rhs = right.select(
        F.col(key).alias("r_join_key"),
        F.col("event_id").alias("right_id"),
        F.col("ts").alias("right_ts"),
    ).withWatermark("right_ts", watermark)
    cond = (
        (F.col("join_key") == F.col("r_join_key"))
        & (F.col("right_ts") >= F.col("left_ts"))
        & (F.col("right_ts") <= F.col("left_ts") + F.expr(f"INTERVAL {interval}"))
    )
    return lhs.join(rhs, cond, how).select(
        "join_key", "left_id", "right_id", "left_ts", "right_ts"
    )


def dedupe_stream(
    events: DataFrame, key_cols: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """Streaming duplicate suppression (T4/T5 the idiomatic way): keep the
    first arrival per key among events whose event times fall within the
    watermark delay of each other. State is bounded by the watermark —
    the exact-offsets answer to the reference's inclusive-re-read + keyset
    dedup (invoice-api/server.js:134,165-168)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


RUNNING_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("batches_seen", T.IntegerType()),
    ]
)

RUNNING_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("batches_seen", T.IntegerType()),
    ]
)


def running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (count, sum) that survives across micro-batches. Emits the
    updated running totals for every key touched in a batch —
    `batches_seen` exposes the cross-batch state carry for tests."""

    def update(
        key: tuple[Any, ...],
        pdfs: "Iterator[pd.DataFrame]",
        state,
    ) -> "Iterator[pd.DataFrame]":
        import pandas as pd

        # state.get is a property (raises if absent), not a callable
        n, total, batches = state.get if state.exists else (0, 0.0, 0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        batches += 1
        state.update((n, total, batches))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 6)],
                "batches_seen": [batches],
            }
        )

    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=RUNNING_OUTPUT_SCHEMA,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

