"""Shared fixtures: one SparkSession per test session, a DuckDB connection
with the test tables registered as views (mirroring the driver's oracle
harness), and an order-insensitive result comparator."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from sql_cdc_spark.session import get_spark
from sql_cdc_spark.streaming.pipeline import InvoiceModel
from sql_cdc_spark.tables import TABLE_NAMES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_DIR_SMALL = "/root/testdata/sf0.001"

# the CDC pipeline's invoice model over the TPC-H orders/lineitem tables
MODEL = InvoiceModel(
    header_key="o_orderkey",
    line_key_expr="l_orderkey * 8 + l_linenumber",
    line_parent_key="l_orderkey",
    header_cols=["o_custkey", "o_totalprice"],
    line_cols=["l_linenumber", "l_quantity", "l_extendedprice"],
    line_order_col="l_linenumber",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sql-cdc-spark-tests")
    yield s


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'"
        )
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for order-insensitive comparison across engines."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # 9 significant digits tolerates engine-order float summation noise
        return f"{v:.9g}"
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "asDict"):  # pyspark Row
        return tuple(sorted((k, _norm(x)) for k, x in v.asDict().items()))
    return str(v)


def normalize_rows(cols, rows):
    """Sort columns by name then rows by value — approximates the driver's
    order-insensitive value-hash."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def assert_matches_oracle(spark_df, oracle_con, sql, check_names=True):
    """Run the DuckDB oracle SQL and compare against the Spark result:
    row count, column names, and order-insensitive normalized values."""
    res = oracle_con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]
    if check_names:
        assert sorted(spark_cols) == sorted(duck_cols), (
            f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
        )
    assert len(spark_rows) == len(duck_rows), (
        f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    ns = normalize_rows(spark_cols, spark_rows)
    nd = normalize_rows(duck_cols, duck_rows)
    for i, (a, b) in enumerate(zip(ns, nd)):
        assert a == b, f"value mismatch at sorted-row {i}:\n spark={a}\n duck ={b}"
