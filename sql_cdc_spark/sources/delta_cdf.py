"""Delta Lake Change Data Feed source — the Spark-NATIVE CDC ingress.

The reference's only change feed is SQL Server Change Tracking polled
over JDBC (invoice-api/server.js:46-52, sqls/setup-invoice-db.sql:70-109).
On a Spark lakehouse the idiomatic equivalent is Delta CDF: tables
written with ``delta.enableChangeDataFeed=true`` expose per-row change
events (`_change_type`, `_commit_version`, `_commit_timestamp`) through
``spark.read.format("delta").option("readChangeFeed", "true")`` — same
contract as our changelog convention (streaming/changelog.py), with the
commit version as the monotone counter.

The delta-spark jar is not in this container, so the ``.load()`` call is
guarded exactly like sources/jdbc.py. Everything else — option assembly
and the CDF→changelog normalization — is pure DataFrame logic, unit
tested on in-memory frames with the CDF column contract
(tests/test_sources.py).

At scale: version-bounded reads prune Delta's commit log to the
requested range (the analog of ``changelog.read_changelog``'s
version-bucket pruning), and the normalization is scan-side column
algebra — no shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Delta CDF change-type values → the changelog convention's op codes.
# update_preimage rows are dropped: the convention carries post-images
# only (the reference's CHANGETABLE likewise exposes current state).
_CHANGE_TYPE_OP = {
    "insert": "I",
    "update_postimage": "U",
    "delete": "D",
}


def cdf_options(
    starting_version: int | None = None,
    ending_version: int | None = None,
    starting_timestamp: str | None = None,
    ending_timestamp: str | None = None,
) -> dict[str, str]:
    """Assemble the readChangeFeed option map. Exactly one of
    starting_version / starting_timestamp must be given (Delta's own
    contract); bounds are inclusive."""
    if (starting_version is None) == (starting_timestamp is None):
        raise ValueError(
            "exactly one of starting_version or starting_timestamp is required"
        )
    opts = {"readChangeFeed": "true"}
    if starting_version is not None:
        opts["startingVersion"] = str(starting_version)
    if starting_timestamp is not None:
        opts["startingTimestamp"] = starting_timestamp
    if ending_version is not None:
        opts["endingVersion"] = str(ending_version)
    if ending_timestamp is not None:
        opts["endingTimestamp"] = ending_timestamp
    return opts


def read_cdf(spark: SparkSession, path: str, **kwargs) -> DataFrame:
    """Version- or timestamp-bounded Delta CDF read. Keyword args as in
    ``cdf_options``. Raises a clear error where the delta-spark jar is
    absent (this container)."""
    opts = cdf_options(**kwargs)
    try:
        return spark.read.format("delta").options(**opts).load(path)
    except Exception as exc:  # delta jar missing, path not a delta table
        raise RuntimeError(
            "Delta CDF read failed — is delta-spark on the classpath and "
            f"is '{path}' a Delta table with change data feed enabled?"
        ) from exc


def read_cdf_stream(
    spark: SparkSession, path: str, starting_version: int = 0
) -> DataFrame:
    """Streaming Delta CDF read — the continuous form of ``read_cdf``:
    ``readStream`` tails the table's commit log from ``starting_version``
    and each new commit becomes a micro-batch (the Spark-native analog of
    the reference's polling loop, with the commit log playing the
    change-tracking table's role). Compose with ``cdf_to_changelog`` and
    the streaming pipeline's sinks. Jar-guarded like ``read_cdf``."""
    try:
        return (
            spark.readStream.format("delta")
            .option("readChangeFeed", "true")
            .option("startingVersion", str(starting_version))
            .load(path)
        )
    except Exception as exc:
        raise RuntimeError(
            "Delta CDF stream failed — is delta-spark on the classpath and "
            f"is '{path}' a Delta table with change data feed enabled?"
        ) from exc


def cdf_to_changelog(changes: DataFrame, table_name: str, key_col: str) -> DataFrame:
    """Normalize a CDF frame to the engine's changelog convention
    (table_name, key_id, change_version, op, ts): map change types to
    I/U/D, drop update pre-images, take `_commit_version` as the monotone
    counter. Pure column algebra over whatever frame carries the CDF
    columns — testable without delta, reusable on a real lakehouse."""
    op = F.create_map(
        *[F.lit(x) for kv in _CHANGE_TYPE_OP.items() for x in kv]
    )[F.col("_change_type")]
    return (
        changes.filter(F.col("_change_type") != "update_preimage")
        .select(
            F.lit(table_name).alias("table_name"),
            F.col(key_col).cast("long").alias("key_id"),
            F.col("_commit_version").cast("long").alias("change_version"),
            op.alias("op"),
            F.col("_commit_timestamp").cast("timestamp").alias("ts"),
        )
    )
