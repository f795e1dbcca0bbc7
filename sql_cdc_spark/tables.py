"""Loaders for the driver-generated test tables (see TESTDATA.md).

Tables: region nation customer supplier part orders lineitem events
documents embeddings — one parquet file per table under
/root/testdata/sf{0.001,0.01,0.1}/.

The reference's data-model roles map as (FIXTURES.md §B):
  invoice_header -> orders          invoice_line -> lineitem
  change_log     -> events          dims         -> customer/nation/region/...
  text corpus    -> documents       vectors      -> embeddings
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Timestamp columns per table, normalized to TimestampType (LTZ) whatever
# physical form the generator used. Two forms seen across driver rounds:
#   TIMESTAMP(NANOS)  -> read as long nanos (spark.sql.legacy.parquet.
#                        nanosAsLong), converted via nanos DIV 1000
#                        (data is µs-precision, so lossless);
#   TIMESTAMP(MICROS, isAdjustedToUTC=false) -> read as TIMESTAMP_NTZ,
#                        cast to LTZ — the session TZ is pinned UTC, so
#                        the wall-clock value (and unix_micros) matches
#                        DuckDB's naive epoch_us exactly.
# Downstream code may then assume plain TIMESTAMP everywhere.
_TS_COLS = {
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
    "events": ["ts"],
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one test table. Parquet scans get column pruning + predicate
    pushdown from Catalyst for free — callers should select/filter early so
    the pushdown reaches the scan."""
    try:
        # runtime-settable; needed when the caller's session (e.g. the
        # driver harness) didn't set it at build time
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for c in _TS_COLS.get(name, []):
        if c not in df.columns:
            continue
        dt = dict(df.dtypes)[c]
        if dt == "bigint":  # TIMESTAMP(NANOS) under nanosAsLong
            df = df.withColumn(c, F.expr(f"timestamp_micros({c} DIV 1000)"))
        elif dt == "timestamp_ntz":  # TIMESTAMP(MICROS) naive
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLE_NAMES}
