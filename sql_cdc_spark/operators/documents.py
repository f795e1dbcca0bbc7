"""Nested-document assembly: header row + sorted array of line structs.

Re-expresses the reference's correlated lines-subquery + FOR JSON PATH
(sqls/storedprocedure.sql:42-52) the decorrelated Spark way:
``lines.groupBy(key).agg(collect_list(struct(...)))`` then a join to the
header. collect_list order is nondeterministic under parallelism, so the
array is always array_sort'ed by the line key (SURVEY.md §7 hard-part 2) —
the reference relied on SQL Server's incidental ordering.

Scale notes: the groupBy is one shuffle on the document key; the
header join shuffles on the same key, and AQE will pick broadcast when the
changed-document set is small. At 100 TB, pre-bucketing both tables on the
document key removes both shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def nest_lines(
    lines: DataFrame,
    key_col: str,
    line_cols: list[str],
    order_col: str,
    array_col: str = "lines",
) -> DataFrame:
    """Aggregate each key's lines into a deterministic (sorted) array of
    structs. ``order_col`` must be first in ``line_cols`` so array_sort's
    lexicographic struct ordering sorts by it."""
    cols = ", ".join(f"`{c}`" for c in [order_col] + [c for c in line_cols if c != order_col])
    return lines.groupBy(key_col).agg(
        F.expr(f"array_sort(collect_list(struct({cols}))) AS `{array_col}`")
    )


def assemble_documents(
    header: DataFrame,
    lines: DataFrame,
    key_col: str,
    header_cols: list[str],
    line_cols: list[str],
    line_order_col: str,
    array_col: str = "lines",
    line_key_col: str | None = None,
) -> DataFrame:
    """header ⨝ nested-lines: one row per document with an array<struct>
    column — the invoice-document shape of FIXTURES.md §A5. Left join so
    headers without lines still emit (empty array). ``line_key_col`` names
    the FK on the lines side when it differs from the header key (e.g.
    l_orderkey vs o_orderkey)."""
    if line_key_col and line_key_col != key_col:
        lines = lines.withColumnRenamed(line_key_col, key_col)
    # nest only lines belonging to the headers being assembled: when the
    # header side is a small changed-set, this semi join (broadcast under
    # AQE) keeps the collect_list shuffle proportional to the changed
    # documents, not the whole line table — the difference between nesting
    # a 100 TB fact table and nesting one batch
    lines = lines.join(header.select(key_col), key_col, "left_semi")
    nested = nest_lines(lines, key_col, line_cols, line_order_col, array_col)
    doc = header.select(key_col, *[c for c in header_cols if c != key_col]).join(
        nested, key_col, "left"
    )
    return doc.withColumn(array_col, F.expr(f"coalesce(`{array_col}`, array())"))


def documents_to_json(doc: DataFrame, array_col: str = "lines") -> DataFrame:
    """Serialize each document row to a JSON string — the engine-native
    equivalent of the reference's FOR JSON PATH + BSON.serialize
    (sqls/storedprocedure.sql:51, invoice-api/server.js:69). JSON is the
    Spark-native document codec; BSON byte-parity would be a Python UDF."""
    return doc.withColumn("doc_json", F.expr("to_json(struct(*))"))
