"""Change-log convention + test-harness writer.

The engine's CDC source is any append-only parquet/Delta directory with
the schema below — the contract SQL Server Change Tracking exposes via
CHANGETABLE (reference sqls/setup-invoice-db.sql:70-109, FIXTURES.md §A3):

    table_name      string   which base table changed
    key_id          long     PK of the changed row (invoice or line id)
    change_version  long     monotone global counter
    op              string   'I' | 'U' | 'D'
    ts              timestamp change time

Line-table rows carry the LINE pk; the invoice key must be recovered by
joining the base line table (sqls/storedprocedure.sql:23-26) — the writer
deliberately does NOT denormalize it, to preserve that semantic.

At 100 TB the directory would be partitioned by change_version range (or
date); readers then get partition pruning on the version predicate. The
harness writer keeps one file per append batch, which is exactly the shape
a streaming file source tails.
"""

from __future__ import annotations

import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("table_name", T.StringType(), False),
        T.StructField("key_id", T.LongType(), False),
        T.StructField("change_version", T.LongType(), False),
        T.StructField("op", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

HEADER_TABLE = "invoice_header"
LINE_TABLE = "invoice_line"


class ChangeLogWriter:
    """Test harness: appends change batches with a monotone version
    counter — replicates Change Tracking's contract so pipeline tests can
    produce multiple versions per key, line-only changes, header-only
    changes, and version ties (FIXTURES.md §A3 generator rules)."""

    def __init__(self, spark: SparkSession, log_dir: str, seed: int = 42):
        self.spark = spark
        self.log_dir = log_dir
        self.rng = random.Random(seed)
        self.version = 0
        os.makedirs(log_dir, exist_ok=True)

    def append(self, rows: list[tuple[str, int, str]]) -> int:
        """Append change rows [(table_name, key_id, op)], each assigned the
        next version. Returns the new high watermark."""
        data = []
        for table_name, key_id, op in rows:
            self.version += 1
            data.append((table_name, int(key_id), self.version, op))
        df = self.spark.createDataFrame(
            [(t, k, v, o, None) for t, k, v, o in data], CHANGELOG_SCHEMA
        ).withColumn("ts", F.current_timestamp())
        df.coalesce(1).write.mode("append").parquet(self.log_dir)
        return self.version

    def append_with_ties(self, rows: list[tuple[str, int, str]]) -> int:
        """Append change rows that all share ONE version — the tie regime
        where the composite (version, key) cursor is load-bearing
        (invoice-api/server.js:165-168)."""
        self.version += 1
        df = self.spark.createDataFrame(
            [(t, int(k), self.version, o, None) for t, k, o in rows],
            CHANGELOG_SCHEMA,
        ).withColumn("ts", F.current_timestamp())
        df.coalesce(1).write.mode("append").parquet(self.log_dir)
        return self.version


VERSION_BUCKET_SIZE = 10_000


def write_changelog_partitioned(changes: DataFrame, log_dir: str) -> None:
    """Append change rows under `version_bucket=N/` directories
    (N = change_version // VERSION_BUCKET_SIZE) — the at-scale layout
    SURVEY.md § prescribes: version predicates become partition pruning,
    so an incremental pull from version v touches only
    ⌈(hw−v)/bucket⌉ directories of a log holding years of history."""
    (
        changes.withColumn(
            "version_bucket",
            (F.col("change_version") / VERSION_BUCKET_SIZE).cast("long"),
        )
        .write.mode("append")
        .partitionBy("version_bucket")
        .parquet(log_dir)
    )


def read_changelog(spark: SparkSession, log_dir: str, since_version: int = 0) -> DataFrame:
    """Batch view of the change rows at ``change_version >= since_version``.
    Handles both the flat test-harness layout and the partitioned
    `version_bucket=` layout: on the latter the version bound is also
    applied to the bucket column before it is dropped, so the scan prunes
    to the buckets that can hold such rows (PartitionFilters in the plan).

    The file listing is taken here, once: every scan of the returned
    DataFrame reads exactly the files present at this call, so a caller
    that builds its plan from one read sees one snapshot of the log.

    Cold start: a consumer can come up before the producer has written a
    single change — a missing log dir is created empty (schema'd read of
    zero rows) rather than failing PATH_NOT_FOUND; via Hadoop FileSystem
    so remote log dirs keep the contract (fsutil, ADVICE r4)."""
    from sql_cdc_spark.streaming.fsutil import ensure_dir

    ensure_dir(spark, log_dir)
    df = spark.read.schema(CHANGELOG_SCHEMA).parquet(log_dir)
    if "version_bucket" in df.columns:
        df = df.where(
            f"version_bucket >= {int(since_version) // VERSION_BUCKET_SIZE}"
        ).drop("version_bucket")
    return df.where(f"change_version >= {int(since_version)}")


def read_changelog_stream(spark: SparkSession, log_dir: str) -> DataFrame:
    """Streaming view (file source). Missing dir = empty cold-start log,
    same as the batch view."""
    from sql_cdc_spark.streaming.fsutil import ensure_dir

    ensure_dir(spark, log_dir)
    return spark.readStream.schema(CHANGELOG_SCHEMA).parquet(log_dir)


def current_version(spark: SparkSession, log_dir: str) -> int:
    """CHANGE_TRACKING_CURRENT_VERSION() analog (sqls/storedprocedure.sql:11-12):
    the log's high watermark, by a scan of the whole log. For callers and
    operators that want the number; ``pipeline.pull_batch`` does not call
    it — its snapshot is its own listing of the log, and its watermark is
    computed inside the pull's one action over the rows it read."""
    row = read_changelog(spark, log_dir).agg(F.max("change_version")).first()
    return row[0] or 0


RETENTION_MARKER = "_retention.json"  # '_' prefix: parquet readers skip it


def retention_floor(log_dir: str) -> int:
    """The oldest change_version retention has ever guaranteed present —
    the CHANGE_TRACKING_MIN_VALID_VERSION analog. 0 (everything valid)
    until the first expire_changelog run records a floor. Stored as a
    marker file inside the log dir so it travels with the log."""
    import json as _json
    import os as _os

    path = _os.path.join(log_dir, RETENTION_MARKER)
    if not _os.path.exists(path):
        return 0
    with open(path) as f:
        return int(_json.load(f)["min_version"])


def write_retention_floor(log_dir: str, min_version: int) -> int:
    """Record the retention floor (monotone: never lowers an existing
    one). Returns the recorded floor."""
    import json as _json
    import os as _os

    floor = max(int(min_version), retention_floor(log_dir))
    path = _os.path.join(log_dir, RETENTION_MARKER)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        _json.dump({"min_version": floor}, f)
    _os.replace(tmp, path)
    return floor
