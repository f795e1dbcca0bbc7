"""Fault injection in ``feed.drain_feed`` (core tier): a micro-batch whose
apply raises must stop the stream, release the state the drain built
from the earlier batches, and propagate the error — the same single
cleanup site the timeout path uses."""

import pytest
from pyspark.errors import StreamingQueryException

from sql_cdc_spark.functions.dedup import release_local_checkpoint
from sql_cdc_spark.streaming import feed as FEED

SCHEMA = "k long, op string"


def test_failing_batch_stops_drain_and_releases_state(spark, tmp_path):
    feed = str(tmp_path / "feed")
    for k in (1, 2):  # two files: one micro-batch each
        spark.createDataFrame([(k, "I")], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    def apply(prev, batch_df, batch_id):
        if batch_id == 1:
            raise ValueError("injected failure")
        return FEED.ckpt(batch_df)

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(StreamingQueryException, match="injected failure"):
        FEED.drain_feed(
            spark, feed, SCHEMA, str(tmp_path / "chk"), None, apply,
            release_local_checkpoint,
        )
    assert spark.streams.active == []
    assert jsc.getPersistentRDDs().size() == before
