"""The CDC document pipeline — the reference's flagship
``GET /api/invoices/changes`` flow (invoice-api/server.js:83-365,
sqls/storedprocedure.sql:4-57) rebuilt two ways:

1. ``pull_batch`` — the exact reference semantics: checkpointed,
   resumable, multi-consumer incremental pull with a composite keyset
   cursor, snapshot-bounded scan, inclusive re-read + dedup, bounded
   ordered batch, per-document sink, advance-only-on-success. A pull over
   a parquet log lists the log once (that listing is its snapshot) and
   runs ONE Spark action, which writes the documents and returns the
   counts the cursor advance needs.
2. ``run_available_now`` — the idiomatic Spark shape: Structured
   Streaming over the change log with foreachBatch + checkpointLocation;
   offsets replace the hand-rolled cursor, idempotent (deterministically
   named) document writes give effectively-exactly-once (T3).

Both compose the same batch operators (sql_cdc_spark.operators.cdc /
documents), so the relational core is written once.

Scale stance: the document sink writes per-partition in parallel (the
reference's sequential per-record loop, server.js:183-203, is the one
thing deliberately NOT reproduced). On a cluster, out_dir must be a
shared filesystem (S3/HDFS); the per-record JSON mode exists for parity,
`df.write.json` partitioned-by-batch is the 100 TB path.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark.operators import cdc
from sql_cdc_spark.operators.documents import assemble_documents, documents_to_json
from sql_cdc_spark.streaming import changelog as cl
from sql_cdc_spark.streaming.registry import SyncStateRegistry


@dataclass
class InvoiceModel:
    """Maps the generic header/line document model onto concrete tables."""

    header_key: str                 # header PK column, e.g. o_orderkey
    line_key_expr: str              # SQL expr over lines yielding the line PK
    line_parent_key: str            # FK on lines back to the header
    header_cols: list[str]
    line_cols: list[str]
    line_order_col: str


@dataclass
class BatchResult:
    consumer: str
    from_version: int
    to_version: int
    processed: int
    has_more: bool
    last_version: int = 0
    last_id: int = 0
    # read_state, pull (snapshot, query, assembly and sink: the one
    # action), update_state
    stage_ms: dict[str, float] = field(default_factory=dict)
    docs_per_second: float = 0.0


def _changed_invoices(
    changes: DataFrame, lines: DataFrame, model: InvoiceModel
) -> DataFrame:
    """(invoice_id, change_version, op) for every change row: header rows
    pass through; line rows recover the invoice key by joining the base
    line table on the line PK (sqls/storedprocedure.sql:14-26)."""
    header_changes = changes.where(f"table_name = '{cl.HEADER_TABLE}'").selectExpr(
        "key_id AS invoice_id", "change_version", "op"
    )
    line_changes = changes.where(f"table_name = '{cl.LINE_TABLE}'").selectExpr(
        "key_id AS line_id", "change_version", "op"
    )
    lines_keyed = lines.selectExpr(
        f"{model.line_key_expr} AS line_id", f"`{model.line_parent_key}` AS invoice_id"
    )
    recovered = line_changes.join(lines_keyed, "line_id", "inner").select(
        "invoice_id", "change_version", "op"
    )
    return cdc.union_change_streams(header_changes, recovered)


def _latest_with_op(changed: DataFrame) -> DataFrame:
    """A1 carrying the op of the winning version: max(struct(version, op))
    per invoice — one map-side-combining aggregation."""
    return changed.groupBy("invoice_id").agg(
        F.expr("max(struct(change_version, op)) AS __m")
    ).selectExpr("invoice_id", "__m.change_version AS change_version", "__m.op AS op")


def _assemble(header: DataFrame, lines: DataFrame, latest: DataFrame, model: InvoiceModel) -> DataFrame:
    """J2 + J4/A3: enrich changed keys against the header (broadcast the
    small changed set) and nest the sorted line array; serialize to JSON
    with the reference's filename scheme {invoice}_v{version}.json
    (invoice-api/server.js:64-65 — timestamp dropped: determinism IS the
    idempotency mechanism)."""
    hdr = header.withColumnRenamed(model.header_key, "invoice_id").join(
        F.broadcast(latest), "invoice_id", "inner"
    )
    docs = assemble_documents(
        hdr,
        lines,
        key_col="invoice_id",
        header_cols=["invoice_id", "change_version", "op"]
        + [c for c in model.header_cols if c != model.header_key],
        line_cols=model.line_cols,
        line_order_col=model.line_order_col,
        line_key_col=model.line_parent_key,
    )
    docs = documents_to_json(docs)
    return docs.withColumn(
        "doc_filename",
        F.expr(
            "concat(CAST(invoice_id AS STRING), '_v', "
            "CAST(change_version AS STRING), '.json')"
        ),
    )


def _atomic_write(path: str, data, mode: str = "w") -> None:
    """Write-then-rename with tmp cleanup on ANY failure — a poison
    record must not leave a stray ``.tmp`` behind in the sink dir."""
    tmp = os.path.join(
        os.path.dirname(path), f".{os.path.basename(path)}.tmp"
    )
    try:
        with open(tmp, mode) as f:
            f.write(data)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.remove(tmp)
        except OSError:
            pass
        raise


def _segregate_error(error_dir: str, fname: str, payload, exc: Exception) -> None:
    """Failed-document segregation (invoice-api/server.js:33-42's error
    directory, 183-203's per-record loop): the poison record lands in
    ``error_dir`` as ``<fname>.error`` with the failure reason and raw
    payload, and the batch continues — one bad record must not wedge the
    feed. Atomic rename like the main sink.

    The evidence NAME is sanitized (path separators and other hostile
    characters replaced): a record poisoned precisely BECAUSE its
    filename is malformed must not crash the segregation path too — the
    original filename survives verbatim inside the evidence JSON."""
    os.makedirs(error_dir, exist_ok=True)
    safe = "".join(c if c.isalnum() or c in "-_." else "_" for c in fname)
    if safe != fname:
        # sanitization can collide ('a/b.json' and 'a?b.json' both map to
        # 'a_b.json') and _atomic_write's os.replace would silently
        # overwrite the earlier record's evidence — suffix a hash of the
        # RAW name so every distinct poison filename keeps its own file
        import hashlib

        safe = f"{safe}.{hashlib.md5(fname.encode()).hexdigest()[:8]}"
    _atomic_write(
        os.path.join(error_dir, f"{safe}.error"),
        json.dumps(
            {
                "doc_filename": fname,
                "error": f"{type(exc).__name__}: {exc}",
                "payload": payload if isinstance(payload, str) else None,
            }
        ),
    )


def _write_json(out_dir: str, fname: str, js) -> None:
    _atomic_write(os.path.join(out_dir, fname), js)


def _write_bson(out_dir: str, fname: str, js) -> None:
    from sql_cdc_spark.functions import bsoncodec

    fname = fname.removesuffix(".json") + ".bson"
    data = bsoncodec.encode_document(json.loads(js))
    _atomic_write(os.path.join(out_dir, fname), data, mode="wb")


def _per_record_sink(
    docs: DataFrame, out_dir: str, error_dir: str | None, write_one
) -> DataFrame:
    """Shared partition-parallel per-record sink core (Arrow batches via
    mapInPandas — no pickled-Row traffic), built lazily: it returns a
    DataFrame of one ``(n, n_err)`` delivered/errored row per task, and
    the documents are written by whichever action computes it.
    ``write_one(out_dir, fname, payload)`` does the format-specific write.
    With ``error_dir`` set, a record whose write raises is segregated
    there and the batch CONTINUES; without it, the exception propagates
    and fails the action. Each task reports its counts, so the
    advance-only-on-success guard sees true totals."""
    os.makedirs(out_dir, exist_ok=True)

    def _write_batches(batches):
        import pandas as pd

        n, n_err = 0, 0
        for pdf in batches:
            for fname, js in zip(pdf["doc_filename"], pdf["doc_json"]):
                try:
                    write_one(out_dir, fname, js)
                    n += 1
                except Exception as exc:  # noqa: BLE001 — segregation path
                    if error_dir is None:
                        raise
                    _segregate_error(error_dir, fname, js, exc)
                    n_err += 1
        yield pd.DataFrame({"n": [n], "n_err": [n_err]})

    return docs.select("doc_filename", "doc_json").mapInPandas(
        _write_batches, "n long, n_err long"
    )


def _delivered(counts: DataFrame) -> int:
    """Run a sink's counts DataFrame; returns the documents delivered."""
    return sum(r.n for r in counts.collect())


def write_documents(
    docs: DataFrame, out_dir: str, error_dir: str | None = None
) -> int:
    """Per-record document sink, partition-parallel over Arrow batches.
    Deterministic filenames make re-writes idempotent (at-least-once
    delivery upgraded to effectively-exactly-once, SURVEY.md §7 hard-part
    1). With ``error_dir``, per-record failures are segregated there and
    the batch continues (server.js:33-42); the cursor still advances over
    the full batch — an errored record is consumed, its evidence parked
    for operator replay. Returns the number of documents DELIVERED
    (excluding segregated errors)."""
    return _delivered(_per_record_sink(docs, out_dir, error_dir, _write_json))


def write_documents_partitioned(docs: DataFrame, out_dir: str, batch_id: int) -> int:
    """Scale-mode document sink: one JSON part-file set per batch under
    ``batch_id=N/``, written with overwrite — replaying a failed batch
    rewrites the same directory, so delivery is idempotent without
    per-record filenames. This is the 100 TB path (bounded file count,
    partition-parallel, no per-row driver work); the per-record sink above
    is the strict reference-parity mode."""
    path = os.path.join(out_dir, f"batch_id={int(batch_id)}")
    payload = docs.select("doc_filename", "doc_json")
    payload.write.mode("overwrite").json(path)
    return payload.count()


class StaleCursorError(RuntimeError):
    """A consumer's cursor predates the changelog retention floor: the
    changes between its cursor and the floor are GONE, so an incremental
    pull would silently skip them. The consumer must reset and re-sync
    from a base snapshot — the CHANGE_TRACKING_MIN_VALID_VERSION contract
    of the reference's backing store (setup-invoice-db.sql:70-72's
    retention window), surfaced as an error instead of silent loss."""


WATERMARK_METRIC = "pull_watermark"


def _snapshot(spark: SparkSession, log_dir: str | DataFrame, since: int) -> DataFrame:
    """The change rows at versions >= ``since`` that one pull reads — the
    only step of the pull that differs by source.

    A parquet log is listed once, by ``read_changelog``: that listing is
    the snapshot, every scan in the pull's plan reads exactly its files,
    and a file appended after it is left whole to the next pull. A
    DataFrame source (a JDBC or Kafka-shaped read) is re-queried by every
    scan, so only a bound makes its scans agree: it is bounded up front by
    its current ``max(change_version)``."""
    if not isinstance(log_dir, DataFrame):
        return cl.read_changelog(spark, log_dir, since)
    changes = log_dir.where(f"change_version >= {since}")
    bound = changes.agg(F.max("change_version")).first()[0]
    return changes.where(f"change_version <= {since if bound is None else bound}")


def pull_batch(
    spark: SparkSession,
    log_dir: str | DataFrame,
    consumer: str,
    registry: SyncStateRegistry,
    header: DataFrame,
    lines: DataFrame,
    model: InvoiceModel,
    out_dir: str,
    limit: int = 1000,
    error_dir: str | None = None,
) -> BatchResult:
    """One checkpointed incremental pull (invoice-api/server.js:83-365):

    1. read consumer cursor (auto-create)              server.js:100-125
    2. snapshot the log from the cursor version        storedprocedure.sql:11-12
    3. inclusive re-scan from last_sync_version        server.js:134
    4. collapse to latest-per-invoice                  storedprocedure.sql:14-34
    5. composite keyset filter (version, invoice)      server.js:165-168
    6. bounded ordered batch                           storedprocedure.sql:35,56
    7. assemble + write documents (idempotent names)   server.js:183-203
    8. advance cursor only if sink succeeded           server.js:231-249

    Steps 3-7 are ONE Spark action. It writes the documents and returns
    the sink's counts and the pre-join batch's ``(count, last (version,
    invoice))``; the snapshot's high watermark (``to_version``; the cursor
    version when the snapshot is empty) is observed on the same action's
    scans of the log. The cursor advances from that result, after the
    action has returned.

    The snapshot rule: a parquet log is listed once per pull, and that
    listing is the snapshot — a change file appended after it is neither
    delivered nor skipped by this pull, and the next pull delivers it.

    ``log_dir`` is a parquet log directory, OR a ready changelog
    DataFrame in the same (table_name, key_id, change_version, op, …)
    convention — e.g. a partitioned JDBC read of the change-tracking
    table living in an RDBMS (sources/jdbc.py), the reference's literal
    deployment. Every scan re-queries such a source, so it is bounded up
    front by its current max(change_version) (one extra job). A DataFrame
    source has no retention marker; its retention contract belongs to the
    backing store.
    """
    t0 = time.time()
    stage_ms: dict[str, float] = {}

    state = registry.read(consumer)
    since, since_id = state.last_sync_version, state.last_processed_id
    stage_ms["read_state"] = (time.time() - t0) * 1000

    # validity gate (server-side min-valid-version check): the inclusive
    # tie re-read below needs the cursor VERSION itself still retained —
    # a cursor below the floor means expired, unconsumed changes, and
    # advancing past them would be silent data loss
    floor = 0 if isinstance(log_dir, DataFrame) else cl.retention_floor(log_dir)
    if floor and since < floor:
        raise StaleCursorError(
            f"consumer {consumer!r} cursor version "
            f"{since} predates the retention floor "
            f"{floor}; reset_consumer() and re-sync from a base snapshot"
        )

    t1 = time.time()
    # inclusive re-read of the cursor version: ties may straddle a batch
    # boundary
    changes = _snapshot(spark, log_dir, since).observe(
        WATERMARK_METRIC, F.max("change_version")
    )
    latest = _latest_with_op(_changed_invoices(changes, lines, model))
    # keyset filter on the COLLAPSED stream: strictly after the cursor
    resumable = cdc.keyset_filter(
        latest, since, since_id, version_col="change_version", key_col="invoice_id"
    )
    batch = cdc.bounded_ordered_batch(
        resumable, limit, "change_version", "invoice_id"
    )
    # The cursor advances over the PRE-JOIN batch: a batched key with no
    # header row (deleted invoice, op='D') produces no document, but it is
    # still consumed — otherwise a log tail of dropped keys would never
    # advance the cursor and every future poll would re-scan it forever.
    # has_more likewise derives from the pre-join count, so a batch made
    # entirely of dropped keys keeps drain() moving. (The reference sproc
    # limits AFTER joining InvoiceHeader, sqls/storedprocedure.sql:35,55-56,
    # so its deleted keys never enter the batch; advancing past them here
    # is the equivalent no-starvation guarantee.)
    docs = _assemble(header, lines, batch, model)
    # the one action: the sink's per-task counts and the batch's one-row
    # cursor aggregate, each filling its own columns of a union (a cross
    # join of them costs more jobs); the watermark is observed on the
    # snapshot's scans, so it needs no scan or job of its own
    result = _per_record_sink(docs, out_dir, error_dir, _write_json).unionByName(
        batch.selectExpr(
            "count(1) AS batch_count",
            "max(struct(change_version, invoice_id)) AS last",
        ),
        allowMissingColumns=True,
    )
    rows = result.collect()
    stage_ms["pull"] = (time.time() - t1) * 1000
    written = sum(row.n for row in rows if row.n is not None)
    batch_count, last = next(
        (row.batch_count, row.last) for row in rows if row.batch_count is not None
    )
    # read from this execution without blocking (an Observation's get
    # waits for as long as no scan has reported)
    observed = result._jdf.queryExecution().observedMetrics().get(WATERMARK_METRIC)
    to_version = observed.get().get(0) if observed.isDefined() else None
    to_version = since if to_version is None else to_version
    if batch_count == 0:
        return BatchResult(
            consumer, since, to_version, 0, False, since, since_id, stage_ms
        )

    # advance to the LAST row of the version-ordered pre-join batch
    # (server.js:235-249) — only reached when the action succeeded
    t2 = time.time()
    registry.advance(consumer, last.change_version, last.invoice_id)
    stage_ms["update_state"] = (time.time() - t2) * 1000

    total_s = time.time() - t0
    return BatchResult(
        consumer=consumer,
        from_version=since,
        to_version=to_version,
        processed=written,
        has_more=batch_count == limit,
        last_version=last.change_version,
        last_id=last.invoice_id,
        stage_ms=stage_ms,
        docs_per_second=written / total_s if total_s > 0 else 0.0,
    )


MAX_DRAIN_BATCHES = 1000


def drain(
    spark: SparkSession,
    log_dir: str | DataFrame,
    consumer: str,
    registry: SyncStateRegistry,
    header: DataFrame,
    lines: DataFrame,
    model: InvoiceModel,
    out_dir: str,
    limit: int = 1000,
) -> list[BatchResult]:
    """Drain-until-empty loop (invoice-api/consumer.js:34-37 'immediate
    re-poll while hasMore') — the batch analog of trigger(availableNow),
    capped at ``MAX_DRAIN_BATCHES`` pulls."""
    results = []
    for _ in range(MAX_DRAIN_BATCHES):
        res = pull_batch(
            spark, log_dir, consumer, registry, header, lines, model, out_dir, limit
        )
        results.append(res)
        if not res.has_more:
            break
    return results


def run_available_now(
    spark: SparkSession,
    log_dir: str,
    consumer: str,
    header: DataFrame,
    lines: DataFrame,
    model: InvoiceModel,
    out_dir: str,
    checkpoint_root: str,
    timeout_s: int = 300,
    doc_format: str = "json",
    error_dir: str | None = None,
) -> dict:
    """Structured Streaming form: readStream over the change log →
    foreachBatch(collapse → enrich → nest → idempotent per-doc sink) with
    one checkpointLocation per consumer name (T6: independent named
    consumers = independent checkpoints; T7 reset = delete the dir).

    trigger(availableNow=True) drains everything present then stops —
    the reference's poll-until-hasMore loop, minus the hand-rolled cursor:
    exact file-source offsets in the checkpoint replace (version, id), so
    this form takes no registry: the checkpoint is its only cursor.

    A drain that does not finish within ``timeout_s`` is stopped and
    raises TimeoutError, as ``feed.drain_feed`` does; the checkpoint
    resumes it on the next call.

    ``doc_format="bson"`` writes reference-parity .bson files
    (invoice-api/server.js:62-80) through the same idempotent sink.
    """
    if doc_format not in ("json", "bson"):
        raise ValueError(f"doc_format must be 'json' or 'bson', got {doc_format!r}")
    stream = cl.read_changelog_stream(spark, log_dir)
    metrics: dict = {"batches": 0, "documents": 0}
    sink = write_documents_bson if doc_format == "bson" else write_documents

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        changed = _changed_invoices(batch_df, lines, model)
        latest = _latest_with_op(changed)
        docs = _assemble(header, lines, latest, model)
        n = sink(docs, out_dir, error_dir)
        metrics["batches"] += 1
        metrics["documents"] += n

    checkpoint = os.path.join(checkpoint_root, consumer)
    query = (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    if not query.awaitTermination(timeout_s):
        query.stop()
        raise TimeoutError(
            f"available-now drain of {log_dir} exceeded {timeout_s}s after "
            f"{metrics['batches']} batches; checkpoint {checkpoint} "
            "resumes the drain"
        )
    progress = query.lastProgress
    if progress:
        metrics["last_progress"] = {
            "inputRowsPerSecond": progress.get("inputRowsPerSecond"),
            "numInputRows": progress.get("numInputRows"),
        }
    return metrics


def reset_consumer(registry: SyncStateRegistry, checkpoint_root: str, consumer: str) -> None:
    """T7: rewind a named consumer to the beginning — registry row back to
    (0,0) and the streaming checkpoint removed (server.js:424-451)."""
    import shutil

    registry.reset(consumer)
    chk = os.path.join(checkpoint_root, consumer)
    if os.path.exists(chk):
        shutil.rmtree(chk)


def consumer_lag(
    spark: SparkSession, registry: "SyncStateRegistry", log_dir: str | DataFrame
) -> DataFrame:
    """Ops visibility: per registered consumer, the composite cursor, the
    log's current high watermark, the version lag, and the EXACT count of
    pending change rows — pending under the same composite
    (version, key) order ``pull_batch`` consumes in, so the number is the
    true backlog, not an approximation. The report an operator reads
    before scaling consumers or tuning batch limits (the reference's
    sync-state table joined against CHANGE_TRACKING_CURRENT_VERSION).

    One pass over the log: the (tiny, control-plane) consumer table is
    broadcast against the changes and both the pending flag and the
    global watermark aggregate per consumer with map-side combine —
    never one scan per consumer. Consumers with an empty backlog still
    emit a row; an empty log reports watermark 0 for everyone."""
    from sql_cdc_spark.streaming import changelog as cl

    rows = [
        (c.sync_name, c.last_sync_version, c.last_processed_id)
        for c in registry.list_consumers()
    ]
    schema = "sync_name string, cursor_version long, cursor_id long"
    cdf = spark.createDataFrame(rows, schema)
    # cold start: consumers can register before the first change is ever
    # written — a missing log is an empty log (watermark 0, no backlog),
    # not an error
    missing = not isinstance(log_dir, DataFrame) and not os.path.isdir(log_dir)
    if not rows or missing:
        return cdf.select(
            "sync_name", "cursor_version", "cursor_id",
            F.lit(0).cast("long").alias("current_version"),
            F.greatest(
                F.lit(0).cast("long") - F.col("cursor_version"),
                F.lit(0).cast("long"),
            ).alias("version_lag"),
            F.lit(0).cast("long").alias("pending_changes"),
            F.lit(False).alias("cursor_stale"),
        ).orderBy("sync_name")
    if isinstance(log_dir, DataFrame):
        floor, changes = 0, log_dir
    else:
        floor = cl.retention_floor(log_dir)
        changes = cl.read_changelog(spark, log_dir)
    v, k = F.col("change_version"), F.col("key_id")
    pending = (v > F.col("cursor_version")) | (
        (v == F.col("cursor_version")) & (k > F.col("cursor_id"))
    )
    report = (
        changes.crossJoin(F.broadcast(cdf))
        .groupBy("sync_name", "cursor_version", "cursor_id")
        .agg(
            F.sum(F.when(pending, 1).otherwise(0)).alias("pending_changes"),
            F.max("change_version").alias("current_version"),
        )
    )
    return (
        cdf.join(report.select("sync_name", "pending_changes", "current_version"),
                 "sync_name", "left")
        .select(
            "sync_name",
            "cursor_version",
            "cursor_id",
            F.coalesce("current_version", F.lit(0)).alias("current_version"),
            F.greatest(
                F.coalesce("current_version", F.lit(0)) - F.col("cursor_version"),
                F.lit(0).cast("long"),
            ).alias("version_lag"),
            F.coalesce("pending_changes", F.lit(0)).alias("pending_changes"),
            # stale = pull_batch would refuse this cursor (StaleCursorError)
            (F.lit(floor > 0) & (F.col("cursor_version") < F.lit(floor))).alias(
                "cursor_stale"
            ),
        )
        .orderBy("sync_name")
    )


def retry_failed_documents(out_dir: str, error_dir: str) -> tuple[int, int]:
    """Operator replay for the failed-document error directory: re-attempt
    delivery of every parked ``.error`` record whose raw payload was
    captured, writing it to ``out_dir`` under its original filename
    (atomic, idempotent — same deterministic name the sink would have
    used) and removing the evidence file on success. Records parked
    without a payload stay parked (nothing to deliver), as do records
    whose evidence file is unreadable or whose recorded filename would
    escape ``out_dir`` (absolute or ``..`` paths — the filename is data,
    and a record was often parked precisely because it is malformed).
    Returns (delivered, still_parked).

    Control-plane sized by construction — errors are the exception path —
    so this is a driver-side loop, not a Spark job."""
    if not os.path.isdir(error_dir):
        return 0, 0
    delivered, parked = 0, 0
    os.makedirs(out_dir, exist_ok=True)
    out_root = os.path.realpath(out_dir)
    for fn in sorted(os.listdir(error_dir)):
        if not fn.endswith(".error"):
            continue
        path = os.path.join(error_dir, fn)
        try:
            with open(path) as f:
                rec = json.load(f)
            payload = rec.get("payload")
            doc_filename = rec.get("doc_filename")
        except (OSError, ValueError):
            # corrupt/foreign evidence file: park it, keep the loop alive
            parked += 1
            continue
        if payload is None or not isinstance(doc_filename, str):
            parked += 1
            continue
        # the recorded filename is DATA — refuse any form that resolves
        # outside the sink directory instead of delivering it there
        target = os.path.realpath(os.path.join(out_root, doc_filename))
        if os.path.dirname(target) != out_root:
            parked += 1
            continue
        try:
            _atomic_write(target, payload)
        except Exception:  # noqa: BLE001 — still-failing records stay parked
            parked += 1
            continue
        os.remove(path)
        delivered += 1
    return delivered, parked


def compact_documents(spark: SparkSession, out_dir: str, parquet_dir: str) -> int:
    """Compact the per-record JSON document directory into parquet — the
    small-files answer at scale (T9-adjacent): the per-record sink is the
    reference-parity delivery format; long-term storage re-compacts to a
    columnar table (one file per partition instead of one per invoice).
    Returns the number of compacted documents, counted by an Observation
    riding the write job itself — ONE pass over the data, no second scan
    of the freshly written output.

    A directory with no documents yet (cold start, or everything
    segregated) compacts to 0 without writing: the documents are
    schema-free JSON, so there is no schema to give an empty parquet."""
    from pyspark.sql import Observation

    if not any(
        f.endswith(".json")
        for f in (os.listdir(out_dir) if os.path.isdir(out_dir) else [])
    ):
        return 0

    obs = Observation("compact_count")
    docs = spark.read.json(out_dir).observe(obs, F.count(F.lit(1)).alias("n"))
    docs.write.mode("overwrite").parquet(parquet_dir)
    return int(obs.get["n"])


def expire_changelog(
    spark: SparkSession, log_dir: str, min_version: int
) -> int:
    """Change-retention cleanup (T9, setup-invoice-db.sql:70-72's 3-day
    auto-cleanup): drop change rows below min_version. Consumers whose
    cursor is older than min_version must reset — same constraint the
    reference documents, and ENFORCED here: the floor is recorded in the
    log (``changelog.retention_floor``) and pull_batch raises
    StaleCursorError for cursors below it instead of silently skipping
    the expired range. Rewrites the log atomically: the compacted copy is
    staged in a sibling directory (same filesystem, so both os.replace
    calls are atomic renames — never EXDEV), and the ``.expired`` backup of
    the old log is deleted only after the new log is in place, so a crash
    at any point leaves either the old or the new log recoverable.
    Returns rows retained."""
    import shutil
    import tempfile

    from sql_cdc_spark.streaming import changelog as cl

    from pyspark.sql import Observation

    obs = Observation("expire_kept")
    kept = (
        cl.read_changelog(spark, log_dir)
        .filter(F.col("change_version") >= min_version)
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    # capture the CURRENT floor before anything is destroyed: the marker
    # lives inside the old log dir, so reading it after the swap would
    # see 0 and let a lower min_version silently lower the floor — the
    # exact monotone-floor contract this function exists to enforce
    old_floor = cl.retention_floor(log_dir)
    parent = os.path.dirname(os.path.abspath(log_dir.rstrip("/")))
    tmp = tempfile.mkdtemp(prefix="changelog_compact_", dir=parent)
    new_dir = os.path.join(tmp, "log")
    kept.write.parquet(new_dir)
    # retained-row count rides the write job itself (same single-pass
    # pattern as compact_documents) — no second scan of the new log
    n = obs.get["n"]
    # stage the floor marker INSIDE the new log before the swap, so the
    # floor is never absent while expired rows are gone: a crash at any
    # point leaves a dir whose marker matches its contents
    cl.write_retention_floor(new_dir, max(old_floor, int(min_version)))
    old = log_dir.rstrip("/") + ".expired"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.replace(log_dir, old)
    try:
        os.replace(new_dir, log_dir)
    except OSError:
        # roll the old log back so the path never dangles
        os.replace(old, log_dir)
        raise
    shutil.rmtree(old)
    shutil.rmtree(tmp, ignore_errors=True)
    return int(n)


def list_documents(spark: SparkSession, out_dir: str, suffix: str = ".json") -> DataFrame:
    """S7: document-directory listing source — path/size/mtime newest
    first (invoice-api/server.js:368-398), via the binaryFile reader.
    ``suffix=".bson"`` lists a BSON-mode sink (the reference's own
    filter, server.js:373)."""
    return (
        spark.read.format("binaryFile")
        .load(out_dir)
        .filter(F.col("path").endswith(suffix))
        .select("path", F.col("length").alias("size_bytes"), "modificationTime")
        .orderBy(F.col("modificationTime").desc(), F.col("path"))
    )


def read_document(out_dir: str, filename: str) -> dict:
    """S8: single-document reader (invoice-api/server.js:401-421).
    Dispatches on extension: ``.bson`` files decode via the BSON codec
    (BSON.deserialize, server.js:412), anything else parses as JSON."""
    path = os.path.join(out_dir, filename)
    if filename.endswith(".bson"):
        from sql_cdc_spark.functions import bsoncodec

        with open(path, "rb") as f:
            return bsoncodec.decode_document(f.read())
    with open(path) as f:
        return json.load(f)


def write_documents_bson(
    docs: DataFrame, out_dir: str, error_dir: str | None = None
) -> int:
    """Per-record BSON document sink — strict byte-parity mode with the
    reference's saveInvoiceAsBSON (invoice-api/server.js:62-80): each
    document becomes one ``.bson`` file whose bytes are what js-bson's
    BSON.serialize would produce for the same JSON. Same idempotent
    deterministic-filename and error-segregation contract as
    write_documents (a record whose JSON parse or BSON encode fails is a
    poison record too); the encode runs inside the Arrow batch loop, so
    it is partition-parallel and never touches the driver."""
    return _delivered(_per_record_sink(docs, out_dir, error_dir, _write_bson))
