"""Streaming event-time tests: watermarked tumbling rollup equals the
batch result at end-of-stream; applyInPandasWithState carries per-key
state across micro-batches."""

import pytest

# r10 tiering (VERDICT r9 #1): e2e/fuzz modules run in the slow tier;
# the driver core gate keeps the unit/plan/oracle-representative layer
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from sql_cdc_spark import tables
from sql_cdc_spark.streaming import windows as W
from tests.conftest import SF_DIR_SMALL


@pytest.fixture()
def event_stream_dir(spark, tmp_path):
    """Events split into two files on the median ts → two micro-batches
    under maxFilesPerTrigger=1."""
    ev = tables.load(spark, SF_DIR_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    mid = ev.agg(F.percentile_approx("ts", 0.5)).first()[0]
    src = str(tmp_path / "events_stream")
    ev.filter(F.col("ts") <= mid).coalesce(1).write.mode("append").parquet(src)
    ev.filter(F.col("ts") > mid).coalesce(1).write.mode("append").parquet(src)
    return src, ev


def test_windowed_counts_match_batch(spark, event_stream_dir, tmp_path):
    src, ev = event_stream_dir
    stream = W.read_event_stream(spark, src)
    q = (
        W.windowed_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in spark.table("win_counts").collect()
    }
    want = {
        (r.window_start, r.event_type): (r.n_events, r.total_value)
        for r in W.windowed_counts(ev).collect()  # same expr tree, batch DF
    }
    assert got == want


def test_running_totals_state_across_batches(spark, event_stream_dir, tmp_path):
    src, ev = event_stream_dir
    stream = W.read_event_stream(spark, src, max_files_per_trigger=1)
    q = (
        W.running_totals(stream)
        .writeStream.format("memory")
        .queryName("running")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "chk2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    emits = spark.table("running").collect()
    # state carried: users present in both files emit twice, totals monotone
    two_batch = [r for r in emits if r.batches_seen == 2]
    assert two_batch, "no user spanned both micro-batches"
    # final totals equal the batch groupBy
    final = {}
    for r in emits:
        prev = final.get(r.user_id)
        if prev is None or r.batches_seen > prev.batches_seen:
            final[r.user_id] = r
    want = {
        r.user_id: (r.n, round(r.s, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    got = {u: (r.n_events, r.total_value) for u, r in final.items()}
    assert got.keys() == want.keys()
    for u in want:
        assert got[u][0] == want[u][0]
        assert got[u][1] == pytest.approx(want[u][1], abs=1e-4)


def test_metrics_listener_observes_pipeline(spark, event_stream_dir, tmp_path):
    """T10: the listener records per-batch rows and stage durations for a
    streaming run, and its summary reproduces the reference's
    rows/sec-style performance block."""
    from sql_cdc_spark.streaming.metrics import PipelineMetricsListener

    src, ev = event_stream_dir
    listener = PipelineMetricsListener()
    spark.streams.addListener(listener)
    try:
        stream = W.read_event_stream(spark, src, max_files_per_trigger=1)
        q = (
            W.windowed_counts(stream)
            .writeStream.format("memory")
            .queryName("metered")
            .outputMode("complete")
            .option("checkpointLocation", str(tmp_path / "chk3"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        # listener callbacks are async; give them a beat
        import time as _t

        for _ in range(20):
            if listener.history and listener.terminated:
                break
            _t.sleep(0.5)
        assert listener.total_rows() == ev.count()
        s = listener.summary()
        assert s["batches"] >= 2  # one per file under maxFilesPerTrigger=1
        assert s["rows"] == ev.count()
        assert s["total_ms"] > 0 and s["rows_per_second"] > 0
    finally:
        spark.streams.removeListener(listener)


def test_dedupe_stream_drops_replayed_batch(spark, tmp_path):
    """T4/T5: replaying the same change file (at-least-once delivery)
    yields no duplicate events downstream."""
    ev = tables.load(spark, SF_DIR_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).limit(500)
    src = str(tmp_path / "dup_stream")
    ev.coalesce(1).write.mode("append").parquet(src)
    ev.coalesce(1).write.mode("append").parquet(src)  # replay: same rows again
    stream = W.read_event_stream(spark, src, max_files_per_trigger=1)
    q = (
        W.dedupe_stream(stream, ["event_id"])
        .writeStream.format("memory")
        .queryName("deduped")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk4"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.table("deduped")
    assert got.count() == 500
    assert got.select("event_id").distinct().count() == 500


def test_session_windows_stream_closes_sessions(spark, event_stream_dir, tmp_path):
    """Streaming session windows (append mode): sessions fully below the
    final watermark are emitted and match the batch computation restricted
    to that horizon."""
    src, ev = event_stream_dir
    stream = W.read_event_stream(spark, src)
    q = (
        W.session_windows(stream, gap="30 minutes", watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk5"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in spark.table("sessions").collect()
    }
    assert got, "no sessions closed below the watermark"
    # batch twin: all sessions ending before (max ts - watermark) must appear
    horizon = ev.agg(F.max("ts")).first()[0] - __import__("datetime").timedelta(hours=1)
    batch = {
        (r.user_id, r.session_start): (r.session_end, r.n_events)
        for r in W.session_windows(ev).collect()
        if r.session_end <= horizon
    }
    for key, val in batch.items():
        assert got.get(key) == val, f"closed session {key} missing or differs"


def test_interval_join_stream_matches_batch(spark, tmp_path):
    """Stream-stream interval join (inner, both sides watermarked): the
    emitted pairs equal the batch join with the identical expr tree —
    view→click correlation per user within 1 hour."""
    ev = tables.load(spark, SF_DIR_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    views_b = ev.filter(F.col("event_type") == "view")
    clicks_b = ev.filter(F.col("event_type") == "click")
    vsrc, csrc = str(tmp_path / "views"), str(tmp_path / "clicks")
    # two files per side → multiple micro-batches exercise join state
    for df, src in ((views_b, vsrc), (clicks_b, csrc)):
        mid = df.agg(F.percentile_approx("event_id", 0.5)).first()[0]
        df.filter(F.col("event_id") <= mid).coalesce(1).write.mode("append").parquet(src)
        df.filter(F.col("event_id") > mid).coalesce(1).write.mode("append").parquet(src)
    joined = W.interval_join(
        W.read_event_stream(spark, vsrc), W.read_event_stream(spark, csrc)
    )
    assert joined.isStreaming
    q = (
        joined.writeStream.format("memory")
        .queryName("ijoin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk6"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        (r.left_id, r.right_id) for r in spark.table("ijoin").collect()
    )
    want = sorted(
        (r.left_id, r.right_id)
        for r in W.interval_join(views_b, clicks_b).collect()
    )
    assert got == want and got, "stream interval join must equal batch twin"


def test_interval_join_left_outer_semantics(spark, tmp_path):
    """left_outer stream-stream interval join: matched pairs equal the
    inner batch join exactly (matches emit eagerly); emitted null rows
    are genuinely unmatched in the batch twin (nulls for the newest left
    events may be withheld until the watermark passes — Spark's outer
    stream contract — so subset, not equality). Rejects unsupported
    join types."""
    import pytest as _pytest

    ev = tables.load(spark, SF_DIR_SMALL, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    views_b = ev.filter(F.col("event_type") == "view")
    clicks_b = ev.filter(F.col("event_type") == "click")
    vsrc, csrc = str(tmp_path / "v"), str(tmp_path / "c")
    views_b.coalesce(1).write.parquet(vsrc)
    clicks_b.coalesce(1).write.parquet(csrc)
    with _pytest.raises(ValueError, match="interval_join supports"):
        W.interval_join(views_b, clicks_b, how="full_outer")
    q = (
        W.interval_join(
            W.read_event_stream(spark, vsrc),
            W.read_event_stream(spark, csrc),
            how="left_outer",
        )
        .writeStream.format("memory")
        .queryName("ojoin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "chk7"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("ojoin").collect()
    got_matched = sorted(
        (r.left_id, r.right_id) for r in got if r.right_id is not None
    )
    got_nulls = {r.left_id for r in got if r.right_id is None}
    batch = W.interval_join(views_b, clicks_b, how="left_outer").collect()
    want_matched = sorted(
        (r.left_id, r.right_id) for r in batch if r.right_id is not None
    )
    want_nulls = {r.left_id for r in batch if r.right_id is None}
    assert got_matched == want_matched
    assert got_nulls <= want_nulls
    assert got_nulls.isdisjoint({l for l, _ in got_matched})

