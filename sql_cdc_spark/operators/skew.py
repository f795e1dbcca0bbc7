"""Skew-mitigation operators — the 100 TB hardening layer (SURVEY.md §7
Phase 4). AQE's skew-join splitting handles sort-merge joins at runtime;
these cover the two cases AQE does not: high-cardinality aggregation with
hot keys, and broadcast-infeasible joins against a skewed fact side.

Both are pure DataFrame compositions (no hints, no RDDs): results are
bit-identical to the unsalted forms, so they share the unsalted oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALT = 16


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salt: int = DEFAULT_SALT,
) -> DataFrame:
    """Two-phase aggregation for skewed group keys.

    aggs maps output column -> (input column, fn) with fn in
    {'sum', 'count', 'min', 'max'} — the algebraic functions that compose
    across phases (avg = sum/count at the call site).

    Phase 1 groups by (key, random salt in [0, n_salt)): a hot key's rows
    spread over n_salt reducers instead of one. Phase 2 re-aggregates the
    n_salt partials per key — at most n_salt × |keys| rows, tiny. Spark's
    map-side partial aggregation already gives two phases when upstream
    partitioning is random; explicit salting matters when the input is
    ALREADY hash-partitioned by the hot key (e.g. after a join on it), so
    every duplicate lands in one task."""
    salt = (F.rand(seed=42) * n_salt).cast("int").alias("__salt")
    phase1 = df.select(*keys, salt, *[c for (c, _) in aggs.values()])
    merge_fn = {"sum": F.sum, "count": F.sum, "min": F.min, "max": F.max}
    partial = phase1.groupBy(*keys, "__salt").agg(
        *[
            (F.count(F.lit(1)) if fn == "count" else getattr(F, fn)(col)).alias(out)
            for out, (col, fn) in aggs.items()
        ]
    )
    return partial.groupBy(*keys).agg(
        *[merge_fn[fn](out).alias(out) for out, (col, fn) in aggs.items()]
    )


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salt: int = DEFAULT_SALT,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: salt the (skewed) fact side randomly and
    replicate the dim side across all n_salt salt values, then join on
    (key, salt). A hot fact key spreads across n_salt tasks at the cost of
    an n_salt× dim replication — the classic trade when the dim is too big
    to broadcast but far smaller than the fact.

    Only ``inner`` and ``left`` (outer-on-the-fact-side) are supported:
    those are the joins whose semantics survive dim replication. Any
    right/full/semi/anti variant would emit each unmatched dim row once
    per salt value (n_salt× duplication) — callers needing those must use
    the unsalted join (or swap sides so the skewed side is the fact)."""
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how in ('inner', 'left'), got {how!r}: "
            "dim-side replication breaks right/full/semi/anti semantics"
        )
    salted_fact = fact.withColumn("__salt", (F.rand(seed=42) * n_salt).cast("int"))
    salted_dim = dim.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    joined = salted_fact.join(salted_dim, [key, "__salt"], how)
    return joined.drop("__salt")
