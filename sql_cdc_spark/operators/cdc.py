"""CDC change-log operators.

Re-expresses the reference's change-data-capture relational core
(`sqls/storedprocedure.sql:4-57` in shalinda/SQL-CDC) as composable
DataFrame operators. The change log is any DataFrame with columns
``(key, change_version, op, ...)`` — the shape SQL Server Change
Tracking's CHANGETABLE() exposes (reference `sqls/setup-invoice-db.sql:70-109`).

Scale notes (100 TB stance):
- Every operator is a declarative transformation; the whole pipeline stays
  one Catalyst plan, so version predicates push down into the change-log
  parquet scan (verify with .explain(): PushedFilters).
- latest_per_key is a partial-aggregating groupBy (map-side combine), not a
  window, when only the version is needed; the row_number variant is for
  carrying full payloads.
- Enrichment joins broadcast the small side explicitly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def changes_in_range(
    changelog: DataFrame,
    since_version: int,
    to_version: int | None = None,
    version_col: str = "change_version",
) -> DataFrame:
    """Bounded change scan: rows with since < version <= to.

    Mirrors CHANGETABLE(CHANGES t, @since) plus the snapshot bound
    ``CT.SYS_CHANGE_VERSION <= @ToVersion`` (reference
    sqls/storedprocedure.sql:17-18,24-26). The upper bound makes two scans
    of different tables consistent with one another (same snapshot).
    Both predicates push down to the parquet/Delta scan.
    """
    out = changelog.filter(F.col(version_col) > F.lit(since_version))
    if to_version is not None:
        out = out.filter(F.col(version_col) <= F.lit(to_version))
    return out


def keyset_filter(
    df: DataFrame,
    since_version: int,
    last_key: int,
    version_col: str = "change_version",
    key_col: str = "key_id",
) -> DataFrame:
    """Composite keyset-cursor filter: resume-safe de-dup across batch
    boundaries — keep rows strictly after cursor ``(version, key)``:
    ``ver > since OR (ver == since AND key > last_key)``.

    Mirrors invoice-api/server.js:165-168 (with the inclusive re-read trick
    of server.js:134 it suppresses duplicates under version ties). O(1)
    resume: the predicate prunes at the scan, no OFFSET-style skip.
    """
    v, k, since = f"`{version_col}`", f"`{key_col}`", int(since_version)
    return df.where(f"{v} > {since} OR ({v} = {since} AND {k} > {int(last_key)})")


def latest_per_key(
    changes: DataFrame,
    key_cols: list[str],
    version_col: str = "change_version",
) -> DataFrame:
    """Collapse multiple change events per key to the latest version —
    ``SELECT key, MAX(ver) GROUP BY key`` (reference
    sqls/storedprocedure.sql:28-34, 'net changes' semantics).

    GroupBy/max gets map-side partial aggregation: at 100 TB the shuffle
    carries one row per (partition, key), not one per change event.
    """
    return changes.groupBy(*key_cols).agg(F.max(version_col).alias(version_col))


def latest_row_per_key(
    changes: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
) -> DataFrame:
    """Variant of latest_per_key that keeps the full payload row: window
    row_number over (partition by key, order by version desc, tiebreakers)
    and keep rn=1. ``order_cols`` must make the order total (append a
    unique id) or the result is nondeterministic.

    This is the natural Spark twin of the reference's GROUP BY/MAX + join
    back (SURVEY.md §2.5) — one shuffle instead of two.
    """
    w = Window.partitionBy(*key_cols).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        changes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def union_change_streams(*streams: DataFrame) -> DataFrame:
    """UNION ALL of per-table change feeds by column name (reference
    sqls/storedprocedure.sql:20 unions header-changes and line-changes).
    Bag semantics — latest_per_key downstream collapses duplicates, so no
    distinct (and no extra shuffle) here."""
    out = streams[0]
    for s in streams[1:]:
        out = out.unionByName(s)
    return out


def bounded_ordered_batch(
    df: DataFrame,
    limit: int,
    version_col: str = "change_version",
    key_col: str | None = None,
) -> DataFrame:
    """Deterministic resumable batch: ``SELECT TOP(@Limit) ... ORDER BY
    version`` (reference sqls/storedprocedure.sql:35,56). The version alone
    is not a total order — ties break on the key (SURVEY.md §7 hard-part 4)
    so a resumed consumer never skips or re-reads rows.

    Spark plans orderBy+limit as TakeOrderedAndProject: each partition
    keeps a local top-k heap, only k rows per partition reach the driver —
    no global sort even at 100 TB."""
    return df.orderBy(version_col, *([key_col] if key_col else [])).limit(limit)


def apply_changes_to_replica(
    replica: DataFrame,
    base: DataFrame,
    latest_changes: DataFrame,
    key_col: str,
    op_col: str = "op",
) -> DataFrame:
    """Materialize the next replica snapshot from a key-only change feed —
    the merge a downstream copy of the tracked table performs with the
    reference's feed. SQL Server Change Tracking ships PKs + ops, not
    payloads (CHANGETABLE, sqls/storedprocedure.sql:17,24); the fresh row
    values always come from the base table, so:

      replica' = (replica ANTI changed-keys)            -- untouched rows
               ∪ (base SEMI changed-keys where op ≠ D)  -- upserted rows

    Deletes fall out for free: a D key is removed from the replica side
    and never re-pulled from the base. Both joins are key-equi; the
    changed-key set is a CDC batch (small), so AQE broadcasts it and the
    big sides never shuffle — the merge is scan + broadcast-join at any
    replica size. ``latest_changes`` must be one row per key (the
    latest-version-per-key reduction, A1)."""
    changed_keys = latest_changes.select(key_col)
    survivors = replica.join(F.broadcast(changed_keys), key_col, "left_anti")
    upsert_keys = latest_changes.filter(F.col(op_col) != "D").select(key_col)
    upserts = base.join(F.broadcast(upsert_keys), key_col, "left_semi")
    return survivors.unionByName(upserts)


def refresh_join_view(
    view: DataFrame,
    left: DataFrame,
    right: DataFrame,
    affected_keys: DataFrame,
    key_col: str,
) -> DataFrame:
    """Incremental maintenance of an equi-JOIN view from a change feed —
    the join analog of ``refresh_aggregate_groups``: for a view
    ``V = left ⋈_key right`` (the reference's denormalized
    vw_invoice_header_line, sqls/vw_Invoicedetails.sql:5-19), a CDC batch
    touching key set K never re-joins the whole base:

      view' = (view ANTI K)                        -- untouched join rows
            ∪ ((left SEMI K) ⋈ (right SEMI K))     -- recomputed slice

    Because the join is ON the key, restricting BOTH sides to K before
    joining is exact: every view row with key ∈ K is rebuilt from the
    current bases, every other row is provably unchanged. Deletes fall
    out (a key gone from either side produces no recomputed row), inserts
    appear, updates are rebuilt. K is one CDC batch (small → broadcast),
    so at any view size the cost is three broadcast-pruned scans — never
    a full re-join. This is the classic delta-view identity specialized
    to key-affected recompute: with K = keys(ΔL) ∪ keys(ΔR) it equals
    ΔL⋈R ∪ L⋈ΔR − ΔL⋈ΔR applied through updates AND deletes, without
    the retraction bookkeeping multiset IVM needs.

    ``left``/``right`` must be the SAME projections used to define the
    view (key column included in both), or drift is silent —
    ``unionByName`` at least fails fast on column mismatch."""
    keys = affected_keys.select(key_col).distinct()
    untouched = view.join(F.broadcast(keys), key_col, "left_anti")
    recomputed = (
        left.join(F.broadcast(keys), key_col, "left_semi")
        .join(right.join(F.broadcast(keys), key_col, "left_semi"), key_col, "inner")
    )
    return untouched.unionByName(recomputed)


def scd2_history(
    changes: DataFrame,
    key_cols: list[str],
    version_col: str = "change_version",
    op_col: str = "op",
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2 history from a change feed — the
    warehouse-side record of WHAT each key looked like WHEN, built from
    the same (key, version, op, payload…) rows the reference's
    CHANGETABLE() scan ships (sqls/storedprocedure.sql:17-26; the
    reference replays changes into one current-state doc per invoice —
    SCD2 is the other canonical consumer of that exact feed).

    One history row per NON-delete change: ``valid_from`` = the change's
    version, ``valid_to`` = the key's next change version (ANY op — a
    delete closes the interval without opening a new one), open intervals
    have ``valid_to`` NULL and ``is_current`` 1. Payload columns ride
    along untouched.

    Scale: one window PARTITIONED by key (never partition-less), i.e.
    one shuffle of the change feed — history building at 100 TB is
    bounded by the feed size, not the dimension size. ``changes`` must be
    unique per (key, version); feed it through ``latest_row_per_key`` or
    a distinct first if the raw log can carry ties."""
    w = Window.partitionBy(*key_cols).orderBy(F.col(version_col).asc())
    return (
        changes.withColumn("valid_to", F.lead(F.col(version_col)).over(w))
        .filter(F.col(op_col) != "D")
        .withColumn("valid_from", F.col(version_col))
        .withColumn(
            "is_current", F.when(F.col("valid_to").isNull(), 1).otherwise(0)
        )
        .drop(version_col, op_col)
    )


def scd2_apply(
    history: DataFrame,
    batch: DataFrame,
    key_cols: list[str],
    version_col: str = "change_version",
    op_col: str = "op",
) -> DataFrame:
    """Incremental SCD2 maintenance: merge a NEW change batch into an
    existing history without rebuilding untouched keys — the SCD2 analog
    of ``refresh_aggregate_groups``. Contract: every batch version is
    strictly greater than the key's versions already in ``history`` (the
    append-only reality of a CDC cursor feed), and ``batch`` is unique
    per (key, version).

      history' = history with each touched key's OPEN row closed at the
                 batch's first version for that key        (broadcast join)
               ∪ scd2_history(batch)                       (chained rows)

    A key whose history ends in a delete has no open row — nothing
    closes, the batch simply appends its new intervals. A batch whose
    first change for a key is a delete closes the open row and opens
    nothing, exactly matching a full recompute's lead() semantics.

    Scale: the batch is one CDC pull (small → broadcast); the history
    table is scanned once with a broadcast join — no shuffle of the
    accumulated history, no recompute of untouched keys."""
    first_new = batch.groupBy(*key_cols).agg(
        F.min(version_col).alias("__first_new")
    )
    closed = (
        history.join(F.broadcast(first_new), key_cols, "left")
        .withColumn(
            "valid_to",
            F.when(
                F.col("valid_to").isNull() & F.col("__first_new").isNotNull(),
                F.col("__first_new"),
            ).otherwise(F.col("valid_to")),
        )
        .withColumn(
            "is_current", F.when(F.col("valid_to").isNull(), 1).otherwise(0)
        )
        .drop("__first_new")
    )
    return closed.unionByName(
        scd2_history(batch, key_cols, version_col, op_col)
    )


def snapshot_diff(
    changes: DataFrame,
    key_col: str,
    v_low: int,
    v_high: int,
    exists_expr,
    version_col: str = "change_version",
) -> DataFrame:
    """Net difference between two replica snapshots — what changed between
    version ``v_low`` and ``v_high``, classified per key as I/U/D. This is
    the reader-side twin of ``apply_changes_to_replica``: instead of
    materializing the v_high state, report how it differs from the v_low
    state (the audit/backfill question every CDC consumer eventually asks).

    Per key, the winner as of a version V is its max change version ≤ V;
    ``exists_expr(key_col, winner_col)`` must return a boolean Column
    deciding whether that winning change leaves the key PRESENT (op ≠ D) —
    the caller owns the op encoding, matching apply_changes_to_replica's
    caller-supplied op column. Single-key by design: the presence rule
    receives exactly one key column (a composite key should be folded
    into one surrogate first, as the line-PK queries do with
    l_orderkey*8+l_linenumber).

      absent@low  ∧ present@high → 'I'
      present@low ∧ absent@high  → 'D'
      present both ∧ winner moved → 'U'     (winner unmoved rows drop out)

    Scale: ONE map-side-combined groupBy over the version-bounded feed
    (both version predicates push into the changelog scan) — no join, no
    window, no snapshot materialization of either side."""
    g = (
        changes.filter(F.col(version_col) <= v_high)
        .groupBy(key_col)
        .agg(
            F.max(
                F.when(F.col(version_col) <= v_low, F.col(version_col))
            ).alias("__w_low"),
            F.max(version_col).alias("__w_high"),
        )
    )
    present_low = F.col("__w_low").isNotNull() & exists_expr(
        F.col(key_col), F.col("__w_low")
    )
    present_high = exists_expr(F.col(key_col), F.col("__w_high"))
    diff_op = (
        F.when(~present_low & present_high, "I")
        .when(present_low & ~present_high, "D")
        .when(
            present_low
            & present_high
            & (F.col("__w_high") > F.col("__w_low")),
            "U",
        )
    )
    return (
        g.withColumn("diff_op", diff_op)
        .filter(F.col("diff_op").isNotNull())
        .select(
            key_col,
            "diff_op",
            F.coalesce(F.col("__w_low"), F.lit(-1)).alias("v_low_winner"),
            F.col("__w_high").alias("v_high_winner"),
        )
    )


def refresh_aggregate_groups(
    agg_replica: DataFrame,
    base: DataFrame,
    affected_groups: DataFrame,
    group_cols: list[str],
    agg_exprs: list[Column],
) -> DataFrame:
    """Incremental maintenance of a grouped-aggregate view from a change
    feed — the rollup analog of ``apply_changes_to_replica``: instead of
    re-aggregating the whole base (what a naive dashboard refresh over
    the reference's vw_invoice_header_line does), recompute ONLY the
    groups a CDC batch touched and keep every other group's row as-is:

      view' = (view ANTI affected-groups)                    -- untouched
            ∪ (base SEMI affected-groups → groupBy → agg)    -- recomputed

    Groups whose members were all deleted disappear (the semi join feeds
    the aggregate nothing for them); brand-new groups appear. The
    affected-group set is derived from one CDC batch (small → broadcast),
    so at any view size the cost is one broadcast-pruned scan of the
    affected slice of the base plus its aggregation — not a full-table
    re-aggregation. Aggregates must be self-contained per group (SUM,
    COUNT, MIN/MAX, avg — anything a plain groupBy computes); the exprs
    must be the SAME list used to build the view initially, or drift is
    silent.

    ``affected_groups`` carries the group-key columns — typically the
    changed keys joined through the fact table to their group keys
    (e.g. changed invoices → their customers)."""
    keys = affected_groups.select(*group_cols).distinct()
    untouched = agg_replica.join(F.broadcast(keys), group_cols, "left_anti")
    recomputed = (
        base.join(F.broadcast(keys), group_cols, "left_semi")
        .groupBy(*group_cols)
        .agg(*agg_exprs)
    )
    return untouched.unionByName(recomputed)
