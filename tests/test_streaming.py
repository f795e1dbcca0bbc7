"""CDC pipeline tests (SURVEY.md §5 items 2-3): end-to-end document
emission vs a dedup-join-nest oracle, resume after failure, no-loss/no-dup
across arbitrary batch boundaries, multi-consumer independence, reset,
and the Structured Streaming availableNow runner."""

import json
import os
import random

import pytest

# r10 tiering (VERDICT r9 #1): e2e/fuzz modules run in the slow tier;
# the driver core gate keeps the unit/plan/oracle-representative layer
pytestmark = pytest.mark.slow
from pyspark.sql import functions as F

from sql_cdc_spark import tables
from sql_cdc_spark.streaming import changelog as cl
from sql_cdc_spark.streaming import pipeline as pl
from sql_cdc_spark.streaming.registry import SyncStateRegistry
from tests.conftest import MODEL, SF_DIR_SMALL


@pytest.fixture()
def base(spark):
    header = tables.load(spark, SF_DIR_SMALL, "orders")
    lines = tables.load(spark, SF_DIR_SMALL, "lineitem")
    return header, lines


def _gen_changes(spark, tmp_path, n_rounds=3, keys=range(0, 40), seed=7):
    """Change log with header changes, line changes, repeats (multiple
    versions per key), and tie batches."""
    w = cl.ChangeLogWriter(spark, str(tmp_path / "changelog"), seed=seed)
    rng = random.Random(seed)
    expected_latest = {}  # invoice -> version
    for _ in range(n_rounds):
        rows = []
        for k in keys:
            if rng.random() < 0.5:
                rows.append((cl.HEADER_TABLE, k, rng.choice("IU")))
            if rng.random() < 0.5:
                ln = rng.randint(1, 7)
                rows.append((cl.LINE_TABLE, k * 8 + ln, "U"))
        rng.shuffle(rows)
        w.append(rows)
        # tie batch: several invoices share one version
        tie_keys = rng.sample(list(keys), 5)
        w.append_with_ties([(cl.HEADER_TABLE, k, "U") for k in tie_keys])
    return w


def _oracle_latest(spark, log_dir, lines):
    """Brute-force oracle: latest (version, op) per invoice from the raw
    log, with line changes mapped through the base line table."""
    changes = cl.read_changelog(spark, log_dir)
    changed = pl._changed_invoices(changes, lines, MODEL)
    rows = changed.collect()
    latest = {}
    for r in rows:
        cur = latest.get(r.invoice_id)
        if cur is None or (r.change_version, r.op) > cur:
            latest[r.invoice_id] = (r.change_version, r.op)
    return latest


def test_pull_batch_matches_oracle(spark, base, tmp_path):
    header, lines = base
    w = _gen_changes(spark, tmp_path)
    out_dir = str(tmp_path / "docs")
    reg = SyncStateRegistry(str(tmp_path / "state"))

    results = pl.drain(
        spark, w.log_dir, "c1", reg, header, lines, MODEL, out_dir, limit=10
    )
    assert results[-1].has_more is False

    oracle = _oracle_latest(spark, w.log_dir, lines)
    # only invoices present in the header base table are emitted (inner join)
    present = {
        r.o_orderkey for r in header.select("o_orderkey").collect()
    }
    expected = {k: v for k, v in oracle.items() if k in present}

    files = [f for f in os.listdir(out_dir) if f.endswith(".json")]
    emitted = {}
    for f in files:
        inv, ver = f[:-5].split("_v")
        emitted[int(inv)] = int(ver)
    assert emitted == {k: v for k, (v, _op) in expected.items()}

    # document content: nested lines sorted by line number, valid JSON
    doc = pl.read_document(out_dir, files[0])
    assert {"invoice_id", "change_version", "op", "lines"} <= doc.keys()
    lns = [l["l_linenumber"] for l in doc["lines"]]
    assert lns == sorted(lns)


def test_no_loss_no_dup_across_batch_boundaries(spark, base, tmp_path):
    """Property (T4): any batch-size sequence delivers each changed invoice
    exactly once, including under version ties straddling boundaries."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=2, keys=range(0, 30), seed=11)
    reg = SyncStateRegistry(str(tmp_path / "state"))
    out_dir = str(tmp_path / "docs")

    seen = []
    rng = random.Random(3)
    while True:
        limit = rng.choice([1, 2, 3, 7])
        res = pl.pull_batch(
            spark, w.log_dir, "c", reg, header, lines, MODEL, out_dir, limit=limit
        )
        files = {f for f in os.listdir(out_dir)}
        seen.append((res.processed, res.last_version, res.last_id))
        if not res.has_more and res.processed < limit:
            break

    oracle = _oracle_latest(spark, w.log_dir, lines)
    present = {r.o_orderkey for r in header.select("o_orderkey").collect()}
    expected_n = len([k for k in oracle if k in present])
    total = sum(p for p, _, _ in seen)
    assert total == expected_n, f"delivered {total}, expected {expected_n}"
    # cursor monotonicity
    cursors = [(v, i) for _, v, i in seen]
    assert cursors == sorted(cursors)


def test_multi_consumer_independence_and_reset(spark, base, tmp_path):
    """T6/T7: named consumers have independent cursors; reset rewinds one
    without touching the other."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 10), seed=9)
    reg = SyncStateRegistry(str(tmp_path / "state"))

    pl.drain(spark, w.log_dir, "a", reg, header, lines, MODEL, str(tmp_path / "da"), limit=100)
    a1 = reg.read("a")
    b0 = reg.read("b")  # auto-created at 0
    assert a1.last_sync_version > 0 and b0.last_sync_version == 0

    pl.drain(spark, w.log_dir, "b", reg, header, lines, MODEL, str(tmp_path / "db"), limit=100)
    assert reg.read("b").last_sync_version == a1.last_sync_version

    pl.reset_consumer(reg, str(tmp_path / "chk"), "a")
    assert reg.read("a").last_sync_version == 0
    assert reg.read("b").last_sync_version == a1.last_sync_version

    # rewind without reset is refused
    with pytest.raises(ValueError):
        reg.advance("b", 0, 0)


def test_empty_pull_does_not_advance(spark, base, tmp_path):
    header, lines = base
    w = cl.ChangeLogWriter(spark, str(tmp_path / "changelog"))
    w.append([(cl.HEADER_TABLE, 1, "I")])
    reg = SyncStateRegistry(str(tmp_path / "state"))
    out = str(tmp_path / "docs")
    r1 = pl.pull_batch(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=10)
    assert r1.processed == 1
    r2 = pl.pull_batch(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=10)
    assert r2.processed == 0 and r2.has_more is False
    assert reg.read("c").last_sync_version == r1.last_version


def test_streaming_available_now_and_incremental_resume(spark, base, tmp_path):
    """Structured Streaming runner: first drain processes everything; a
    second run with the same checkpoint only sees newly appended files."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 15), seed=13)
    out_dir = str(tmp_path / "docs")
    chk = str(tmp_path / "chk")

    m1 = pl.run_available_now(
        spark, w.log_dir, "s1", header, lines, MODEL, out_dir, chk
    )
    assert m1["documents"] > 0
    n_files_1 = len(os.listdir(out_dir))

    # no new data -> no new documents
    m2 = pl.run_available_now(
        spark, w.log_dir, "s1", header, lines, MODEL, out_dir, chk
    )
    assert m2["documents"] == 0

    # append a change for a fresh key; only it is processed
    w.append([(cl.HEADER_TABLE, 55, "U")])
    m3 = pl.run_available_now(
        spark, w.log_dir, "s1", header, lines, MODEL, out_dir, chk
    )
    assert m3["documents"] == 1
    assert len(os.listdir(out_dir)) == n_files_1 + 1


def test_run_available_now_timeout_stops_and_raises(spark, base, tmp_path):
    """A drain cut by ``timeout_s`` stops its query and raises, pointing
    at the checkpoint — never partial metrics with the stream still
    running."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 15), seed=13)
    chk = str(tmp_path / "chk")
    with pytest.raises(TimeoutError, match="resumes the drain"):
        pl.run_available_now(
            spark, w.log_dir, "s1", header, lines, MODEL,
            str(tmp_path / "docs"), chk, timeout_s=0.05,
        )
    assert spark.streams.active == []


def test_document_listing_source(spark, base, tmp_path):
    """S7: binaryFile listing of the sink directory, newest first."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 8), seed=21)
    reg = SyncStateRegistry(str(tmp_path / "state"))
    out = str(tmp_path / "docs")
    pl.drain(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=100)
    listing = pl.list_documents(spark, out)
    rows = listing.collect()
    assert len(rows) == len(os.listdir(out))
    assert all(r.size_bytes > 0 for r in rows)


def test_partitioned_sink_idempotent_replay(spark, base, tmp_path):
    """Scale-mode sink: batchId-keyed overwrite makes replaying a batch a
    no-op in content terms (same rows, same directory)."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 10), seed=33)
    changes = cl.read_changelog(spark, w.log_dir)
    changed = pl._changed_invoices(changes, lines, MODEL)
    latest = pl._latest_with_op(changed)
    docs = pl._assemble(header, lines, latest, MODEL)
    out = str(tmp_path / "pdocs")

    n1 = pl.write_documents_partitioned(docs, out, batch_id=7)
    first = sorted(
        r.doc_json for r in spark.read.json(os.path.join(out, "batch_id=7"))
        .select(F.to_json(F.struct("*")).alias("doc_json")).collect()
    )
    n2 = pl.write_documents_partitioned(docs, out, batch_id=7)  # replay
    second = sorted(
        r.doc_json for r in spark.read.json(os.path.join(out, "batch_id=7"))
        .select(F.to_json(F.struct("*")).alias("doc_json")).collect()
    )
    assert n1 == n2 == len(first) > 0
    assert first == second


def test_compact_documents_roundtrip(spark, base, tmp_path):
    """Per-record JSON docs compact losslessly into one parquet table."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 10), seed=41)
    reg = SyncStateRegistry(str(tmp_path / "state"))
    out = str(tmp_path / "docs")
    pl.drain(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=100)
    n_files = len(os.listdir(out))
    pq = str(tmp_path / "docs_pq")
    n = pl.compact_documents(spark, out, pq)
    assert n == n_files
    compacted = spark.read.parquet(pq)
    assert compacted.select("invoice_id").distinct().count() == n_files


def test_expire_changelog_retention(spark, base, tmp_path):
    """T9: rows below the retention floor disappear; a consumer behind the
    floor must reset (its next pull sees only retained versions)."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=2, keys=range(0, 10), seed=43)
    hw = cl.current_version(spark, w.log_dir)
    floor = hw // 2
    kept = pl.expire_changelog(spark, w.log_dir, floor)
    log = cl.read_changelog(spark, w.log_dir)
    assert log.count() == kept
    assert log.agg(F.min("change_version")).first()[0] >= floor


def test_document_assembly_roundtrip(spark, base):
    """Nested-doc invariant: exploding the assembled line arrays
    reconstructs exactly the source lines of those invoices."""
    from sql_cdc_spark.operators.documents import assemble_documents

    header, lines = base
    header = header.limit(50)
    docs = assemble_documents(
        header.withColumnRenamed("o_orderkey", "invoice_id"),
        lines,
        key_col="invoice_id",
        header_cols=["invoice_id", "o_custkey"],
        line_cols=["l_linenumber", "l_quantity"],
        line_order_col="l_linenumber",
        line_key_col="l_orderkey",
    )
    back = docs.select(
        "invoice_id", F.explode("lines").alias("ln")
    ).select("invoice_id", "ln.l_linenumber", "ln.l_quantity")
    orig = lines.join(
        header.select(F.col("o_orderkey").alias("invoice_id")), 
        lines.l_orderkey == F.col("invoice_id"),
    ).select("invoice_id", "l_linenumber", "l_quantity")
    assert back.count() == orig.count()
    assert back.subtract(orig).count() == 0 and orig.subtract(back).count() == 0
    # array ordering is deterministic: sorted by line number
    arrs = docs.select("lines").collect()
    for r in arrs:
        nums = [x.l_linenumber for x in r.lines]
        assert nums == sorted(nums)


def test_partitioned_changelog_prunes_and_reads(spark, base, tmp_path, monkeypatch):
    """Version-bucketed log layout: a pull's read from its cursor version
    prunes to the buckets that can hold such rows (a version_bucket
    PartitionFilter in the pull's own plan) and returns exactly the rows
    from the cursor version on, without the partition column."""
    header, lines = base
    log = str(tmp_path / "plog")
    # 1000 events at versions 1..49951: five buckets of VERSION_BUCKET_SIZE
    ev = tables.load(spark, SF_DIR_SMALL, "events").select(
        F.lit(cl.HEADER_TABLE).alias("table_name"),
        F.col("user_id").alias("key_id"),
        (F.col("event_id") * 50 + 1).alias("change_version"),
        F.lit("U").alias("op"),
        F.col("ts"),
    )
    cl.write_changelog_partitioned(ev, log)
    buckets = [d for d in os.listdir(log) if d.startswith("version_bucket=")]
    assert len(buckets) == 5
    since = 2 * cl.VERSION_BUCKET_SIZE + 1

    got = cl.read_changelog(spark, log, since)
    assert "version_bucket" not in got.columns
    versions = [r.change_version for r in got.collect()]
    assert sorted(versions) == list(range(since, 49952, 50))
    assert cl.read_changelog(spark, log).count() == ev.count()

    plans = []
    sink = pl._per_record_sink

    def _capture(docs, *args):
        plans.append(
            docs._sc._jvm.PythonSQLUtils.explainString(
                docs._jdf.queryExecution(), "formatted"
            )
        )
        return sink(docs, *args)

    monkeypatch.setattr(pl, "_per_record_sink", _capture)
    reg = SyncStateRegistry(str(tmp_path / "state"))
    reg.advance("c", since, 0)
    res = pl.pull_batch(
        spark, log, "c", reg, header, lines, MODEL, str(tmp_path / "docs")
    )
    assert res.to_version == 49951 and res.last_version == 49951
    pruned = [
        f.split("]", 1)[0] for f in plans[0].split("PartitionFilters: [")[1:]
    ]
    assert any("version_bucket" in f for f in pruned), pruned


def test_drain_no_loss_no_dup_under_random_limits(spark, base, tmp_path):
    """Hard-parts 3/4: for arbitrary (seeded) batch-size sequences, the
    checkpointed pull loop delivers every changed invoice exactly once,
    with the composite (version, id) cursor crossing tie groups safely."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=2, keys=range(0, 25), seed=77)
    expected = set(_oracle_latest(spark, w.log_dir, lines))
    rng = random.Random(99)
    reg = SyncStateRegistry(str(tmp_path / "state"))
    out = str(tmp_path / "docs")
    seen: list[int] = []
    for _ in range(200):
        limit = rng.choice([1, 2, 3, 5, 7, 11])
        res = pl.pull_batch(
            spark, w.log_dir, "rand", reg, header, lines, MODEL, out, limit=limit
        )
        batch_ids = []
        if res.processed:
            batch_ids = [
                int(f.split("_v")[0]) for f in os.listdir(out)
            ]
        seen.append(res.processed)
        if not res.has_more and res.processed < limit:
            break
    delivered = {int(f.split("_v")[0]) for f in os.listdir(out)}
    assert delivered == expected
    # exactly-once on disk: one file per invoice (deterministic names)
    assert len(os.listdir(out)) == len(expected)


def test_poll_loop_drains_and_retries(spark, base, tmp_path):
    """§3.2 parity: the polling consumer drains everything on tick 1,
    finds nothing on tick 2, and picks up new changes on tick 3 — without
    real sleeping (injected clock)."""
    from sql_cdc_spark.streaming.consumer import poll_loop

    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 12), seed=55)
    reg = SyncStateRegistry(str(tmp_path / "state"))
    out = str(tmp_path / "docs")
    slept = []

    r1 = poll_loop(
        spark, w.log_dir, "p", reg, header, lines, MODEL, out,
        limit=5, interval_s=1.0, max_polls=2, sleep=slept.append,
    )
    n_docs = len(os.listdir(out))
    assert n_docs > 0
    assert sum(r.processed for r in r1) == n_docs
    assert slept == [1.0]  # one sleep between the two polls

    w.append([(cl.HEADER_TABLE, 3, "U")])
    r2 = poll_loop(
        spark, w.log_dir, "p", reg, header, lines, MODEL, out,
        limit=5, interval_s=1.0, max_polls=1, sleep=slept.append,
    )
    assert sum(r.processed for r in r2) == 1


def test_header_missing_keys_do_not_stall_or_starve(spark, base, tmp_path):
    """Regression (round-2 verdict #1): batched keys absent from the header
    (deleted invoices) must neither starve later deliverable keys nor leave
    the cursor stuck re-scanning an all-dropped log tail. The cursor
    advances over the PRE-JOIN batch; has_more derives from its count."""
    header, lines = base
    present = [r.o_orderkey for r in header.select("o_orderkey").orderBy("o_orderkey").limit(4).collect()]
    w = cl.ChangeLogWriter(spark, str(tmp_path / "changelog"))
    # low versions: keys with NO header row — every small batch hits them first
    w.append([(cl.HEADER_TABLE, 990000 + i, "D") for i in range(6)])
    # middle: deliverable keys
    w.append([(cl.HEADER_TABLE, k, "U") for k in present])
    # tail: all-missing again (the permanent-re-scan case)
    w.append([(cl.HEADER_TABLE, 990100 + i, "D") for i in range(4)])

    reg = SyncStateRegistry(str(tmp_path / "state"))
    out = str(tmp_path / "docs")
    results = pl.drain(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=3)

    delivered = {int(f.split("_v")[0]) for f in os.listdir(out)}
    assert delivered == set(present), "dropped keys ate batch slots"
    # the cursor sits at the global high-watermark: the all-missing tail was
    # consumed, so the next pull is empty and re-scans nothing
    hw = cl.current_version(spark, w.log_dir)
    assert reg.read("c").last_sync_version == hw
    res = pl.pull_batch(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=3)
    assert res.processed == 0 and res.has_more is False


def test_expire_changelog_stages_on_same_filesystem(spark, base, tmp_path, monkeypatch):
    """The compacted log must be staged in a sibling directory of the log
    (same filesystem) so the final os.replace is an atomic rename, and no
    .expired backup or staging dir may survive a successful swap."""
    import tempfile as _tf

    staged_dirs = []
    real_mkdtemp = _tf.mkdtemp

    def spy_mkdtemp(*args, **kwargs):
        staged_dirs.append(kwargs.get("dir"))
        return real_mkdtemp(*args, **kwargs)

    monkeypatch.setattr(_tf, "mkdtemp", spy_mkdtemp)
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=2, keys=range(0, 10), seed=47)
    hw = cl.current_version(spark, w.log_dir)
    kept = pl.expire_changelog(spark, w.log_dir, hw // 2)
    assert staged_dirs and staged_dirs[0] == os.path.dirname(os.path.abspath(w.log_dir.rstrip("/")))
    assert cl.read_changelog(spark, w.log_dir).count() == kept
    parent = os.path.dirname(w.log_dir.rstrip("/"))
    leftovers = [d for d in os.listdir(parent) if ".expired" in d or "changelog_compact_" in d]
    assert leftovers == []


def test_poll_loop_reports_errors_and_bounds_failures(spark, base, tmp_path):
    """Regression (round-2 verdict #3): poll_loop must surface every batch
    error through on_error and abort after max_consecutive_failures instead
    of spinning silently forever."""
    from sql_cdc_spark.streaming.consumer import poll_loop

    header, lines = base
    reg = SyncStateRegistry(str(tmp_path / "state"))
    # a regular FILE at the log path: genuinely unreadable as a log (a
    # merely-missing dir is now a valid cold-start empty log)
    missing_log = str(tmp_path / "no_such_log")
    with open(missing_log, "w") as f:
        f.write("not a directory")
    errors = []

    # bounded polls < failure bound: errors reported, loop ends normally
    out = poll_loop(
        spark, missing_log, "p", reg, header, lines, MODEL,
        str(tmp_path / "docs"), max_polls=2, max_consecutive_failures=5,
        on_error=errors.append, sleep=lambda _s: None,
    )
    assert out == [] and len(errors) == 2

    # unbounded polls: the consecutive-failure bound aborts the loop
    errors.clear()
    with pytest.raises(RuntimeError, match="consecutive failed ticks"):
        poll_loop(
            spark, missing_log, "p", reg, header, lines, MODEL,
            str(tmp_path / "docs"), max_polls=10, max_consecutive_failures=3,
            on_error=errors.append, sleep=lambda _s: None,
        )
    assert len(errors) == 3


def test_streaming_bson_sink_parity(spark, base, tmp_path):
    """run_available_now(doc_format='bson') writes .bson files whose
    decoded content equals the JSON run's documents — byte format
    changes, semantics don't (invoice-api/server.js:62-80)."""
    import json as _json

    from sql_cdc_spark.functions import bsoncodec as bc

    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 10), seed=31)
    out_j = str(tmp_path / "docs_json")
    out_b = str(tmp_path / "docs_bson")
    mj = pl.run_available_now(
        spark, w.log_dir, "pj", header, lines, MODEL, out_j, str(tmp_path / "cj")
    )
    mb = pl.run_available_now(
        spark, w.log_dir, "pb", header, lines, MODEL, out_b, str(tmp_path / "cb"),
        doc_format="bson",
    )
    assert mb["documents"] == mj["documents"] > 0
    jnames = sorted(os.listdir(out_j))
    bnames = sorted(os.listdir(out_b))
    assert bnames == [n.removesuffix(".json") + ".bson" for n in jnames]
    for jn, bn in zip(jnames, bnames):
        with open(os.path.join(out_j, jn)) as f:
            want = _json.load(f)
        with open(os.path.join(out_b, bn), "rb") as f:
            assert bc.decode_document(f.read()) == want
    with pytest.raises(ValueError):
        pl.run_available_now(
            spark, w.log_dir, "px", header, lines, MODEL, out_b,
            str(tmp_path / "cx"), doc_format="xml",
        )


def test_streaming_replica_maintenance_with_deletes(spark, base, tmp_path):
    """Streaming replica of the header table (T3+T5 composed with the
    delete-aware merge): readStream over the change log → foreachBatch
    (latest-per-key → apply_changes_to_replica → snapshot overwrite)
    keeps a parquet replica in lockstep with the base through inserts,
    updates, deletes, and a re-insert after delete, across two
    incremental availableNow drains — the Spark twin of a downstream
    consumer maintaining its own copy from the reference's key-only CT
    feed (sqls/storedprocedure.sql:17,24)."""
    from sql_cdc_spark.operators.cdc import (
        apply_changes_to_replica,
        latest_row_per_key,
    )

    header, _ = base
    base_small = header.filter(F.col("o_orderkey") < 200).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    base_keys = {r.o_orderkey for r in base_small.collect()}
    rep_dir = str(tmp_path / "replica")
    chk = str(tmp_path / "chk")
    init_keys = {k for k in base_keys if k < 100}
    base_small.filter(F.col("o_orderkey") < 100).write.parquet(rep_dir)

    w = cl.ChangeLogWriter(spark, str(tmp_path / "log"))

    def merge(batch_df, _batch_id):
        hc = batch_df.filter(F.col("table_name") == cl.HEADER_TABLE).select(
            F.col("key_id").alias("o_orderkey"), "change_version", "op"
        )
        latest = latest_row_per_key(hc, ["o_orderkey"], ["change_version", "op"])
        replica = spark.read.parquet(rep_dir)
        merged = apply_changes_to_replica(
            replica, base_small, latest, "o_orderkey"
        ).localCheckpoint()  # materialize before overwriting the source dir
        merged.write.mode("overwrite").parquet(rep_dir)

    def drain():
        q = (
            cl.read_changelog_stream(spark, w.log_dir)
            .writeStream.foreachBatch(merge)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    def replica_keys():
        return {r.o_orderkey for r in spark.read.parquet(rep_dir).collect()}

    # round 1: updates on both sides of the replica boundary + deletes
    ups1 = [k for k in sorted(base_keys) if 50 <= k < 150][:20]
    dels1 = [k for k in sorted(init_keys)][:5]
    w.append([(cl.HEADER_TABLE, k, "U") for k in ups1])
    w.append([(cl.HEADER_TABLE, k, "D") for k in dels1])
    drain()
    expect = (init_keys - set(dels1)) | (set(ups1) & base_keys)
    assert replica_keys() == expect

    # round 2 (incremental: checkpoint replays nothing): re-insert one
    # deleted key, delete one round-1 upsert, touch a fresh key
    reins, del2 = dels1[0], ups1[-1]
    fresh = max(base_keys)
    w.append(
        [
            (cl.HEADER_TABLE, reins, "I"),
            (cl.HEADER_TABLE, del2, "D"),
            (cl.HEADER_TABLE, fresh, "U"),
        ]
    )
    drain()
    expect = (expect - {del2}) | {reins, fresh}
    assert replica_keys() == expect

    # replica rows carry base payloads (not just keys)
    got = {
        (r.o_orderkey, r.o_custkey, r.o_totalprice)
        for r in spark.read.parquet(rep_dir).collect()
    }
    want = {
        (r.o_orderkey, r.o_custkey, r.o_totalprice)
        for r in base_small.collect()
        if r.o_orderkey in expect
    }
    assert got == want


def test_streaming_rollup_maintenance(spark, base, tmp_path):
    """Live per-customer rollup maintained from the change stream:
    foreachBatch derives the affected customers from each CDC batch and
    refreshes only their groups; after two incremental drains the view
    equals a full re-aggregation of the final base state."""
    from sql_cdc_spark.operators.cdc import refresh_aggregate_groups

    header, _ = base
    base_small = header.filter(F.col("o_orderkey") < 300).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    exprs = [
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    ]
    view_dir = str(tmp_path / "rollup")
    base_small.groupBy("o_custkey").agg(*exprs).write.parquet(view_dir)

    w = cl.ChangeLogWriter(spark, str(tmp_path / "log"))

    def refresh(batch_df, _batch_id):
        changed = batch_df.filter(
            F.col("table_name") == cl.HEADER_TABLE
        ).select(F.col("key_id").alias("o_orderkey"))
        affected = base_small.join(
            F.broadcast(changed), "o_orderkey", "left_semi"
        ).select("o_custkey")
        view = spark.read.parquet(view_dir)
        out = refresh_aggregate_groups(
            view, base_small, affected, ["o_custkey"], exprs
        ).localCheckpoint()
        out.write.mode("overwrite").parquet(view_dir)

    def drain():
        q = (
            cl.read_changelog_stream(spark, w.log_dir)
            .writeStream.foreachBatch(refresh)
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    keys = [r.o_orderkey for r in base_small.limit(60).collect()]
    w.append([(cl.HEADER_TABLE, k, "U") for k in keys[:30]])
    drain()
    w.append([(cl.HEADER_TABLE, k, "U") for k in keys[30:]])
    drain()

    got = sorted(map(tuple, spark.read.parquet(view_dir).collect()))
    want = sorted(
        map(tuple, base_small.groupBy("o_custkey").agg(*exprs).collect())
    )
    assert got == want


def test_poison_record_segregated_batch_continues(spark, base, tmp_path, monkeypatch):
    """Failed-document segregation (invoice-api/server.js:33-42,183-203):
    with error_dir set, a poison record lands in the error directory, the
    other N−1 documents are delivered, the cursor advances over the FULL
    batch, and the next pull is empty (clean resume)."""
    header, lines = base
    w = _gen_changes(spark, tmp_path, n_rounds=1, keys=range(0, 10), seed=5)
    reg = SyncStateRegistry(str(tmp_path / "state"))
    out_dir = str(tmp_path / "docs")
    err_dir = str(tmp_path / "errors")

    oracle = _oracle_latest(spark, w.log_dir, lines)
    present = {r.o_orderkey for r in header.select("o_orderkey").collect()}
    keys = sorted(k for k in oracle if k in present)
    poison_id, expected_n = keys[0], len(keys)
    assert expected_n >= 2

    real_assemble = pl._assemble

    def poisoned(h, l, latest, model):
        docs = real_assemble(h, l, latest, model)
        return docs.withColumn(
            "doc_json",
            F.when(F.col("invoice_id") == poison_id, F.lit(None).cast("string"))
            .otherwise(F.col("doc_json")),
        )

    monkeypatch.setattr(pl, "_assemble", poisoned)
    res = pl.pull_batch(
        spark, w.log_dir, "c", reg, header, lines, MODEL, out_dir,
        limit=1000, error_dir=err_dir,
    )
    assert res.processed == expected_n - 1
    delivered = [f for f in os.listdir(out_dir) if f.endswith(".json")]
    assert len(delivered) == expected_n - 1
    assert not any(f.startswith(f"{poison_id}_v") for f in delivered)
    errs = os.listdir(err_dir)
    assert len(errs) == 1
    assert errs[0].startswith(f"{poison_id}_v") and errs[0].endswith(".error")
    with open(os.path.join(err_dir, errs[0])) as f:
        err_doc = json.load(f)
    assert err_doc["doc_filename"].startswith(f"{poison_id}_v")
    assert "TypeError" in err_doc["error"] or "Error" in err_doc["error"]
    # cursor advanced over the whole batch — the poison record is consumed
    after = reg.read("c")
    assert (after.last_sync_version, after.last_processed_id) == (
        res.last_version, res.last_id,
    )
    # clean resume: nothing left to pull
    monkeypatch.setattr(pl, "_assemble", real_assemble)
    res2 = pl.pull_batch(
        spark, w.log_dir, "c", reg, header, lines, MODEL, out_dir,
        limit=1000, error_dir=err_dir,
    )
    assert res2.processed == 0 and res2.has_more is False


def test_poison_record_without_error_dir_fails_batch(spark, tmp_path):
    """Without error_dir the pre-round-4 contract holds: a poison record
    fails the whole batch (so advance-on-success never fires)."""
    docs = spark.createDataFrame(
        [("a.json", "{}"), ("b.json", None)],
        "doc_filename string, doc_json string",
    )
    with pytest.raises(Exception):
        pl.write_documents(docs, str(tmp_path / "o1"))
    # with error_dir: one delivered, one segregated. Diagnostics in every
    # assert: this test failed exactly once in a full-suite run under a
    # heavy host-contention window and never reproduced (4 standalone + 2
    # full-suite retries) — if it flakes again, the listings say how.
    n = pl.write_documents(docs, str(tmp_path / "o2"), str(tmp_path / "e2"))
    o2 = sorted(os.listdir(tmp_path / "o2"))
    e2 = sorted(os.listdir(tmp_path / "e2"))
    assert n == 1, f"delivered={n}, o2={o2}, e2={e2}"
    assert o2 == ["a.json"], f"o2={o2}, e2={e2}"
    assert e2 == ["b.json.error"], f"o2={o2}, e2={e2}"


def test_feed_schema_evolution_contract(spark, tmp_path):
    """A long-lived change feed gains a payload column mid-stream (the
    upstream table was ALTERed): discover_feed_schema merges the parquet
    footers into ONE evolved schema, pre-evolution rows read the added
    column as null, and a feed that dropped or retyped a CONTRACT column
    fails loudly instead of producing nulls downstream."""
    from sql_cdc_spark.streaming import feed as FEED

    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(1, "one", "I", 1), (2, "two", "I", 2)],
        "doc_id long, text string, op string, change_version long",
    ).coalesce(1).write.mode("append").parquet(feed)
    # evolution: a `lang` payload column appears in later files
    spark.createDataFrame(
        [(2, "two v2", "en", "U", 3), (3, "three", "fr", "I", 4)],
        "doc_id long, text string, lang string, op string, change_version long",
    ).coalesce(1).write.mode("append").parquet(feed)

    merged = FEED.discover_feed_schema(
        spark, feed, "doc_id long, op string, change_version long"
    )
    assert "lang" in merged.fieldNames()
    rows = {
        r.doc_id: (r.text, r.lang)
        for r in spark.read.schema(merged)
        .parquet(feed)
        .filter("change_version <= 2")
        .collect()
    }
    assert rows == {1: ("one", None), 2: ("two", None)}
    with pytest.raises(ValueError, match="missing contract column"):
        FEED.discover_feed_schema(spark, feed, "nonexistent_key long")
    with pytest.raises(ValueError, match="retyped"):
        FEED.discover_feed_schema(spark, feed, "doc_id string")


def test_feed_schema_evolution_stream_drain(spark, tmp_path):
    """The evolved schema drives a real availableNow drain: a replica
    maintained through collapse_latest over a struct-packed payload ends
    correct across format generations — pre-evolution upserts carry the
    added column as null, post-evolution upserts carry its value, and a
    LATE old-format file (a writer not yet upgraded, interleaved after
    the evolution) still applies, its missing column null."""
    from sql_cdc_spark.streaming import feed as FEED

    feed = str(tmp_path / "feed")
    spark.createDataFrame(
        [(1, "one", "I", 1), (2, "two", "I", 2)],
        "doc_id long, text string, op string, change_version long",
    ).coalesce(1).write.mode("append").parquet(feed)
    spark.createDataFrame(
        [(2, "two v2", "en", "U", 3), (3, "three", "fr", "I", 4)],
        "doc_id long, text string, lang string, op string, change_version long",
    ).coalesce(1).write.mode("append").parquet(feed)
    # a straggler writer still emits the OLD format: delete doc 1,
    # upsert doc 4 without the new column
    spark.createDataFrame(
        [(1, None, "D", 5), (4, "four", "I", 6)],
        "doc_id long, text string, op string, change_version long",
    ).coalesce(1).write.mode("append").parquet(feed)

    merged = FEED.discover_feed_schema(
        spark, feed, "doc_id long, op string, change_version long"
    )

    def _apply(state: dict, batch_df, batch_id) -> dict:
        packed = batch_df.withColumn("payload", F.struct("text", "lang"))
        ups, dels = FEED.collapse_latest(packed, "doc_id", "payload")
        nxt = dict(state)
        for r in dels.collect():
            nxt.pop(r.doc_id, None)
        for r in ups.collect():
            nxt[r.doc_id] = (r.payload.text, r.payload.lang)
        return nxt

    final, n_batches = FEED.drain_feed(
        spark, feed, merged, str(tmp_path / "chk"), {}, _apply,
        lambda s: None,
    )
    assert n_batches >= 1
    assert final == {
        2: ("two v2", "en"),
        3: ("three", "fr"),
        4: ("four", None),
    }


def test_streaming_expectations_parks_violations_and_continues(spark, tmp_path):
    """Streaming quality gate: a batch with bad rows leaves (rule,
    count, batch_id) evidence in the violations sink and the drain
    CONTINUES through later clean batches; clean batches write nothing;
    totals aggregate across batches; re-checking a batch overwrites the
    same directory (replay-idempotent)."""
    from sql_cdc_spark.streaming import expectations as EX

    feed = str(tmp_path / "feed")
    schema = "doc_id long, amount double, op string, change_version long"
    # batch 0: clean
    spark.createDataFrame(
        [(1, 5.0, "I", 1), (2, 9.0, "I", 2)], schema
    ).coalesce(1).write.mode("append").parquet(feed)
    # batch 1: two negative amounts + one null doc? (null doc_id breaks
    # the key rule too)
    spark.createDataFrame(
        [(3, -1.0, "I", 3), (4, -2.5, "U", 4), (None, 7.0, "I", 5)], schema
    ).coalesce(1).write.mode("append").parquet(feed)
    # batch 2: clean again — the stream must have kept going
    spark.createDataFrame(
        [(6, 1.0, "I", 6)], schema
    ).coalesce(1).write.mode("append").parquet(feed)

    rules = {
        "amount_positive": F.col("amount") > 0,
        "key_present": F.col("doc_id").isNotNull(),
    }
    vdir = str(tmp_path / "violations")
    totals, n_batches = EX.run_streaming_expectations(
        spark, feed, schema, str(tmp_path / "chk"), rules, vdir
    )
    assert n_batches == 3
    assert totals == {"amount_positive": 2, "key_present": 1}

    v = EX.read_violations(spark, vdir)
    got = {(r.rule, r.n_violations, r.batch_id) for r in v.collect()}
    assert got == {("amount_positive", 2, 1), ("key_present", 1, 1)}

    # replay-idempotent: re-checking the poison batch rewrites in place
    bad = spark.createDataFrame(
        [(3, -1.0, "I", 3), (4, -2.5, "U", 4), (None, 7.0, "I", 5)], schema
    )
    failed = EX.check_batch(bad, rules, vdir, 1)
    assert failed == {"amount_positive": 2, "key_present": 1}
    again = {
        (r.rule, r.n_violations, r.batch_id)
        for r in EX.read_violations(spark, vdir).collect()
    }
    assert again == got

    # a fully-clean feed leaves the sink typed but empty
    empty = EX.read_violations(spark, str(tmp_path / "nothing"))
    assert empty.count() == 0 and len(empty.columns) == 3

    # RESUME from the same checkpoint: a new poison batch appended after
    # the first drain gets the REAL continuing foreachBatch id (3), so
    # its evidence lands in a fresh directory and batch 1's stands —
    # a restarted counter would have collided with b0
    spark.createDataFrame(
        [(7, -9.0, "I", 7)], schema
    ).coalesce(1).write.mode("append").parquet(feed)
    totals2, n2 = EX.run_streaming_expectations(
        spark, feed, schema, str(tmp_path / "chk"), rules, vdir
    )
    assert n2 == 1 and totals2 == {"amount_positive": 1}
    resumed = {
        (r.rule, r.n_violations, r.batch_id)
        for r in EX.read_violations(spark, vdir).collect()
    }
    assert resumed == got | {("amount_positive", 1, 3)}


def test_streaming_dedup_maintenance_equals_full_recompute(spark, tmp_path):
    """Stream-equals-batch for the dedup state: draining a document
    change feed through run_dedup_maintenance (foreachBatch →
    apply_near_dup_changes per micro-batch) ends at exactly the pair set
    a full recompute of the final corpus produces — including an
    in-batch multi-change collapse and a delete. Re-applying the last
    batch to the final state is a no-op (idempotent replay)."""
    from sql_cdc_spark import tables
    from sql_cdc_spark.functions import dedup as DD
    from sql_cdc_spark.streaming import dedup_maintenance as DM

    base = (
        tables.load(spark, SF_DIR_SMALL, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(150)
    )
    initial = DD.build_near_dup_state(base, max_bucket_size=50, threshold=0.5)

    feed = str(tmp_path / "feed")
    # batch 1: clone 8 docs under new ids (creates near-dup pairs)
    b1 = (
        base.orderBy("doc_id").limit(8)
        .select(
            (F.col("doc_id") + 900_000).alias("doc_id"),
            "text",
            F.lit("I").alias("op"),
            F.lit(1).cast("long").alias("change_version"),
        )
    )
    b1.coalesce(1).write.mode("append").parquet(feed)
    # batch 2: delete 4 originals, update 2 others — one of them TWICE in
    # the same batch (v2 then v3; the v3 text must win)
    dels = base.orderBy("doc_id").limit(4).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_ids = base.orderBy(F.desc("doc_id")).limit(2).select("doc_id", "text")
    upd_v2 = upd_ids.select(
        "doc_id", F.concat("text", F.lit(" draft")).alias("text"),
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_v3 = upd_ids.limit(1).select(
        "doc_id", F.concat("text", F.lit(" final")).alias("text"),
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("change_version"),
    )
    dels.unionByName(upd_v2).unionByName(upd_v3).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    final, n_batches = DM.run_dedup_maintenance(
        spark, feed, str(tmp_path / "chk"), initial,
        max_bucket_size=50, threshold=0.5,
    )
    assert n_batches >= 1

    # final corpus = base − deleted − updated ∪ winning updates ∪ clones
    del_ids = base.orderBy("doc_id").limit(4).select("doc_id")
    win_upd = upd_v3.select("doc_id", "text").unionByName(
        upd_v2.join(upd_v3.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", "text")
    )
    clones = b1.select("doc_id", "text")
    final_corpus = (
        base.join(del_ids, "doc_id", "left_anti")
        .join(win_upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(win_upd)
        .unionByName(clones)
    )
    want = DD.build_near_dup_state(final_corpus, max_bucket_size=50, threshold=0.5)
    got_pairs = {(r.id_a, r.id_b, r.jaccard) for r in final.pairs.collect()}
    want_pairs = {(r.id_a, r.id_b, r.jaccard) for r in want.pairs.collect()}
    assert got_pairs == want_pairs

    # idempotent replay: re-apply batch 2 to the final state → unchanged
    b2 = spark.createDataFrame([], DM.CHANGE_SCHEMA).unionByName(
        dels.unionByName(upd_v2).unionByName(upd_v3)
    )
    ups2, dels2 = DM.collapse_batch(b2)
    replay = DD.apply_near_dup_changes(
        final, ups2, dels2, max_bucket_size=50, threshold=0.5
    )
    replay_pairs = {(r.id_a, r.id_b, r.jaccard) for r in replay.pairs.collect()}
    assert replay_pairs == got_pairs


def test_streaming_containment_maintenance_equals_full_recompute(spark, tmp_path):
    """Stream-equals-batch for the containment state: draining the SAME
    document change-feed shape through run_containment_maintenance
    (foreachBatch → apply_containment_changes per micro-batch) ends at
    exactly the pair set a full containment recompute of the final
    corpus produces — clones shift shingle document frequencies, so the
    drain exercises the global-rarity maintenance path, and the in-batch
    double-update collapse must pick the winning text. Replaying the
    last batch is a no-op (idempotent)."""
    from sql_cdc_spark import tables
    from sql_cdc_spark.functions import dedup as DD
    from sql_cdc_spark.streaming import dedup_maintenance as DM

    base = (
        tables.load(spark, SF_DIR_SMALL, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(150)
    )
    initial = DD.build_containment_state(base, df_cap=10, threshold=0.2)

    feed = str(tmp_path / "feed")
    b1 = (
        base.orderBy("doc_id").limit(8)
        .select(
            (F.col("doc_id") + 900_000).alias("doc_id"),
            "text",
            F.lit("I").alias("op"),
            F.lit(1).cast("long").alias("change_version"),
        )
    )
    b1.coalesce(1).write.mode("append").parquet(feed)
    dels = base.orderBy("doc_id").limit(4).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_ids = base.orderBy(F.desc("doc_id")).limit(2).select("doc_id", "text")
    upd_v2 = upd_ids.select(
        "doc_id", F.concat("text", F.lit(" draft")).alias("text"),
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_v3 = upd_ids.limit(1).select(
        "doc_id", F.concat("text", F.lit(" final")).alias("text"),
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("change_version"),
    )
    dels.unionByName(upd_v2).unionByName(upd_v3).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    final, n_batches = DM.run_containment_maintenance(
        spark, feed, str(tmp_path / "chk"), initial, df_cap=10, threshold=0.2
    )
    assert n_batches >= 1

    del_ids = base.orderBy("doc_id").limit(4).select("doc_id")
    win_upd = upd_v3.select("doc_id", "text").unionByName(
        upd_v2.join(upd_v3.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", "text")
    )
    final_corpus = (
        base.join(del_ids, "doc_id", "left_anti")
        .join(win_upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(win_upd)
        .unionByName(b1.select("doc_id", "text"))
    )
    want = DD.build_containment_state(final_corpus, df_cap=10, threshold=0.2)
    key = lambda r: (r.id_a, r.id_b, r.n_a, r.n_b, r.containment)
    got_pairs = {key(r) for r in final.pairs.collect()}
    assert got_pairs == {key(r) for r in want.pairs.collect()}

    # idempotent replay: re-apply batch 2 to the final state → unchanged
    b2 = spark.createDataFrame([], DM.CHANGE_SCHEMA).unionByName(
        dels.unionByName(upd_v2).unionByName(upd_v3)
    )
    ups2, dels2 = DM.collapse_batch(b2)
    replay = DD.apply_containment_changes(
        final, ups2, dels2, df_cap=10, threshold=0.2
    )
    assert {key(r) for r in replay.pairs.collect()} == got_pairs


def test_streaming_ann_maintenance_equals_full_reassign(spark, tmp_path):
    """Stream-equals-batch for the ANN index: draining an embedding
    change feed through run_ann_maintenance (foreachBatch →
    apply_postings_changes under a FROZEN quantizer) ends at exactly the
    posting table a full assignment pass over the final corpus produces
    — through inserts, a same-batch double-update (later version wins),
    and deletes. Replaying the last batch is a no-op (idempotent)."""
    from sql_cdc_spark.streaming import ann_maintenance as AM

    base = (
        tables.load(spark, SF_DIR_SMALL, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(200)
    )
    postings, model = AM.build_postings(base, n_clusters=8)
    feed = str(tmp_path / "feed")

    # batch 1: insert 8 new vectors (reuse embeddings under new ids)
    b1 = base.orderBy("vec_id").limit(8).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding",
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    b1.coalesce(1).write.mode("append").parquet(feed)

    # batch 2: delete 4, update 2 — one of them TWICE in-batch (v3 wins,
    # swapping its embedding for a different base vector's)
    dels = base.orderBy("vec_id").limit(4).select(
        "vec_id", F.lit(None).cast("array<float>").alias("embedding"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_ids = base.orderBy(F.desc("vec_id")).limit(2).select("vec_id")
    donor = base.orderBy("vec_id").limit(6).orderBy(F.desc("vec_id")).limit(2)
    donor_emb = [r.embedding for r in donor.collect()]
    upd_v2 = upd_ids.withColumn(
        "embedding", F.lit(donor_emb[0]).cast("array<float>")
    ).select(
        "vec_id", "embedding",
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_v3 = upd_ids.limit(1).withColumn(
        "embedding", F.lit(donor_emb[1]).cast("array<float>")
    ).select(
        "vec_id", "embedding",
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("change_version"),
    )
    dels.unionByName(upd_v2).unionByName(upd_v3).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    final, n_batches = AM.run_ann_maintenance(
        spark, feed, str(tmp_path / "chk"), postings, model,
    )
    assert n_batches >= 1

    # final corpus = base − deleted − updated ∪ winning updates ∪ inserts
    del_ids = base.orderBy("vec_id").limit(4).select("vec_id")
    win_upd = upd_v3.select("vec_id", "embedding").unionByName(
        upd_v2.join(upd_v3.select("vec_id"), "vec_id", "left_anti")
        .select("vec_id", "embedding")
    )
    final_corpus = (
        base.join(del_ids, "vec_id", "left_anti")
        .join(win_upd.select("vec_id"), "vec_id", "left_anti")
        .unionByName(win_upd)
        .unionByName(b1.select("vec_id", "embedding"))
    )
    got = {(r.vec_id, r.cluster) for r in final.collect()}
    want = {
        (r.vec_id, r.cluster)
        for r in AM.assign_under_model(model, final_corpus).collect()
    }
    assert got == want
    assert len(got) == 200 - 4 + 8

    # idempotent replay of batch 2
    b2 = dels.unionByName(upd_v2).unionByName(upd_v3)
    ups2, dels2 = AM.collapse_batch(b2)
    replay = AM.apply_postings_changes(final, ups2, dels2, model)
    assert {(r.vec_id, r.cluster) for r in replay.collect()} == got


def test_streaming_pq_maintenance_equals_full_reencode(spark, tmp_path):
    """Stream-equals-batch for the PQ code table: draining an embedding
    change feed through run_pq_maintenance (foreachBatch →
    apply_codes_changes under FROZEN codebooks) ends at exactly the code
    table a from-scratch pq_encode of the final corpus produces under
    the same books — frozen-quantizer encoding is a pure per-vector
    function, so equality is bit-exact (integer-micros argmin). Covers
    inserts, a same-batch double-update (later version wins), deletes,
    and idempotent replay of the last batch (VERDICT r4 #7)."""
    from sql_cdc_spark.streaming import pq_maintenance as PM

    base = (
        tables.load(spark, SF_DIR_SMALL, "embeddings")
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(200)
    )
    codes, books = PM.build_codes(base, m=8, k=8)
    m = len(books)
    feed = str(tmp_path / "feed")

    # batch 1: insert 8 new vectors (reuse embeddings under new ids)
    b1 = base.orderBy("vec_id").limit(8).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding",
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    b1.coalesce(1).write.mode("append").parquet(feed)

    # batch 2: delete 4, update 2 — one of them TWICE in-batch (v3 wins)
    dels = base.orderBy("vec_id").limit(4).select(
        "vec_id", F.lit(None).cast("array<float>").alias("embedding"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_ids = base.orderBy(F.desc("vec_id")).limit(2).select("vec_id")
    donor = base.orderBy("vec_id").limit(6).orderBy(F.desc("vec_id")).limit(2)
    donor_emb = [r.embedding for r in donor.collect()]
    upd_v2 = upd_ids.withColumn(
        "embedding", F.lit(donor_emb[0]).cast("array<float>")
    ).select(
        "vec_id", "embedding",
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_v3 = upd_ids.limit(1).withColumn(
        "embedding", F.lit(donor_emb[1]).cast("array<float>")
    ).select(
        "vec_id", "embedding",
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("change_version"),
    )
    dels.unionByName(upd_v2).unionByName(upd_v3).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    final, n_batches = PM.run_pq_maintenance(
        spark, feed, str(tmp_path / "chk"), codes, books,
    )
    assert n_batches >= 1

    del_ids = base.orderBy("vec_id").limit(4).select("vec_id")
    win_upd = upd_v3.select("vec_id", "embedding").unionByName(
        upd_v2.join(upd_v3.select("vec_id"), "vec_id", "left_anti")
        .select("vec_id", "embedding")
    )
    final_corpus = (
        base.join(del_ids, "vec_id", "left_anti")
        .join(win_upd.select("vec_id"), "vec_id", "left_anti")
        .unionByName(win_upd)
        .unionByName(b1.select("vec_id", "embedding"))
    )
    from sql_cdc_spark.functions.similarity import pq_encode

    code_cols = [f"code{i}" for i in range(m)]

    def keyset(df):
        return {
            (r.vec_id, *[r[c] for c in code_cols]) for r in df.collect()
        }

    got = keyset(final)
    want = keyset(pq_encode(final_corpus, books))
    assert got == want
    assert len(got) == 200 - 4 + 8

    # idempotent replay of batch 2
    b2 = dels.unionByName(upd_v2).unionByName(upd_v3)
    ups2, dels2 = PM.collapse_batch(b2)
    replay = PM.apply_codes_changes(final, ups2, dels2, books)
    assert keyset(replay) == got


def test_streaming_sketch_maintenance_exact_registers(spark, tmp_path):
    """Stream-equals-batch for HLL register maintenance — EXACT on the
    integer registers (merge is max): draining an event feed in
    micro-batches ends at precisely the register table one batch pass
    over all events produces, merge order and batch replay included."""
    import random as _random

    from sql_cdc_spark.functions import sketches as SK
    from sql_cdc_spark.streaming import sketch_maintenance as SM

    rng = _random.Random(42)
    rows = [
        (f"g{rng.randint(0, 3)}", rng.randint(0, 4000), i)
        for i in range(9000)
    ]
    all_events = spark.createDataFrame(rows, SM.EVENT_SCHEMA)

    feed = str(tmp_path / "feed")
    for lo, hi in ((0, 3000), (3000, 6500), (6500, 9000)):
        spark.createDataFrame(rows[lo:hi], SM.EVENT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    empty = spark.createDataFrame([], "group_key string, reg int, rho int")
    final, n_batches = SM.run_sketch_maintenance(
        spark, feed, str(tmp_path / "chk"), empty,
    )
    assert n_batches >= 1

    want = SK.hll_registers(all_events, ["group_key"], "value")
    got_rows = {(r.group_key, r.reg, r.rho) for r in final.collect()}
    want_rows = {(r.group_key, r.reg, r.rho) for r in want.collect()}
    assert got_rows == want_rows

    # idempotent replay: merging batch 2's registers again is a no-op
    b2 = spark.createDataFrame(rows[3000:6500], SM.EVENT_SCHEMA)
    replay = SM.apply_sketch_batch(final, b2, ["group_key"], "value")
    assert {(r.group_key, r.reg, r.rho) for r in replay.collect()} == got_rows

    # estimator: within the 3σ bound for every group, against exact
    ok_rows = SK.distinct_within_bound(all_events, ["group_key"], "value").collect()
    assert ok_rows and all(r.ok for r in ok_rows), [
        (r.group_key, r.exact_distinct, r.estimate) for r in ok_rows
    ]


def test_hll_merge_is_order_invariant(spark):
    """Register merge is associative + commutative: sketching three
    random slices of the events table and merging in any order equals
    sketching the whole table."""
    from sql_cdc_spark import tables
    from sql_cdc_spark.functions import sketches as SK

    ev = tables.load(spark, SF_DIR_SMALL, "events").select(
        "event_type", F.col("user_id").alias("value")
    )
    parts = [
        ev.filter(F.crc32(F.col("value").cast("string")) % 3 == i)
        for i in range(3)
    ]
    regs = [SK.hll_registers(p, ["event_type"], "value") for p in parts]
    merged = SK.merge_registers(
        regs[2], regs[0], regs[1], group_cols=["event_type"]
    )
    whole = SK.hll_registers(ev, ["event_type"], "value")
    assert {tuple(r) for r in merged.collect()} == {
        tuple(r) for r in whole.collect()
    }


def test_streaming_vocab_maintenance_equals_full_recompute(spark, tmp_path):
    """Stream-equals-batch for the vocabulary state: draining a document
    change feed through run_vocab_maintenance ends at EXACTLY the
    (word, df) table and doc count a full rebuild of the final corpus
    produces — through inserts, deletes, and a same-batch double-update.
    Replaying the last batch is a no-op (idempotent)."""
    from sql_cdc_spark.streaming import vocab_maintenance as VM

    base = (
        tables.load(spark, SF_DIR_SMALL, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
    )
    initial = VM.build_vocab_state(base)
    feed = str(tmp_path / "feed")

    b1 = base.orderBy("doc_id").limit(6).select(
        (F.col("doc_id") + 700_000).alias("doc_id"), "text",
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    b1.coalesce(1).write.mode("append").parquet(feed)

    dels = base.orderBy("doc_id").limit(4).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_ids = base.orderBy(F.desc("doc_id")).limit(2).select("doc_id", "text")
    upd_v2 = upd_ids.select(
        "doc_id", F.concat("text", F.lit(" zzzalpha zzzalpha")).alias("text"),
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_v3 = upd_ids.limit(1).select(
        "doc_id", F.concat("text", F.lit(" zzzomega")).alias("text"),
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("change_version"),
    )
    dels.unionByName(upd_v2).unionByName(upd_v3).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    final, n_batches = VM.run_vocab_maintenance(
        spark, feed, str(tmp_path / "chk"), initial,
    )
    assert n_batches >= 1

    del_ids = base.orderBy("doc_id").limit(4).select("doc_id")
    win_upd = upd_v3.select("doc_id", "text").unionByName(
        upd_v2.join(upd_v3.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", "text")
    )
    final_corpus = (
        base.join(del_ids, "doc_id", "left_anti")
        .join(win_upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(win_upd)
        .unionByName(b1.select("doc_id", "text"))
    )
    want = VM.build_vocab_state(final_corpus)
    got_df = {(r.word, r.df) for r in final.df.collect()}
    want_df = {(r.word, r.df) for r in want.df.collect()}
    assert got_df == want_df
    assert final.doc_ids.count() == 120 - 4 + 6
    # the v3 word won over the superseded v2-only word
    words = {w for w, _ in got_df}
    assert "zzzomega" in words and "zzzalpha" in words
    assert next(df for w, df in got_df if w == "zzzalpha") == 1  # v2 winner only

    # derived IDF matches the batch query formula on the final state
    idf = VM.idf_table(final)
    row = idf.filter(F.col("word") == "zzzomega").first()
    import math
    assert abs(row.idf - round(math.log(122 / 1), 6)) < 1e-9

    # idempotent replay of batch 2
    b2 = dels.unionByName(upd_v2).unionByName(upd_v3)
    ups2, dels2 = VM.collapse_batch(b2)
    replay = VM.apply_vocab_changes(final, ups2, dels2)
    assert {(r.word, r.df) for r in replay.df.collect()} == got_df


def test_streaming_scd2_maintenance_equals_full_recompute(spark, tmp_path):
    """Stream-equals-batch for the SCD2 dimension history: draining a
    versioned change feed through run_scd2_maintenance ends at EXACTLY
    the history a one-shot scd2_history over the full feed produces —
    through inserts, mid-timeline deletes, and re-inserts — and a
    replayed batch is a watermark-filtered no-op."""
    from sql_cdc_spark.operators.cdc import scd2_history
    from sql_cdc_spark.streaming import scd2_maintenance as SM

    keys = spark.range(1, 41).select(F.col("id").alias("key_id"))
    vers = spark.range(1, 7).select(F.col("id").alias("change_version"))
    full = (
        keys.crossJoin(vers)
        .filter((F.col("key_id") + F.col("change_version")) % 3 == 0)
        .select(
            "key_id",
            (F.col("key_id") * 100 + F.col("change_version")).alias("payload"),
            F.when(
                (F.col("key_id") + F.col("change_version")) % 7 == 0, "D"
            ).otherwise("U").alias("op"),
            "change_version",
        )
    )
    initial = SM.build_scd2_state(full.filter(F.col("change_version") <= 2))
    assert initial.watermark == 2

    feed = str(tmp_path / "scd2_feed")
    for v in (3, 4, 5, 6):  # one file per version, written in order
        full.filter(F.col("change_version") == v).coalesce(1).write.mode(
            "append"
        ).parquet(feed)

    final, n_batches = SM.run_scd2_maintenance(
        spark, feed, str(tmp_path / "scd2_chk"), initial
    )
    assert n_batches >= 1 and final.watermark == 6

    cols = ["key_id", "payload", "valid_from", "valid_to", "is_current"]
    got = sorted(tuple(r) for r in final.history.select(*cols).collect())
    want = sorted(
        tuple(r)
        for r in scd2_history(full, ["key_id"]).select(*cols).collect()
    )
    assert got == want

    # replayed batch: versions all <= watermark → the SAME state comes back
    replay = SM.apply_scd2_batch(
        final, full.filter(F.col("change_version") == 6)
    )
    assert replay is final

    # cold start: an empty initial state merges the whole feed in one round
    empty = SM.build_scd2_state(full.filter(F.lit(False)))
    assert empty.watermark == -1
    cold = SM.apply_scd2_batch(empty, full)
    got_cold = sorted(tuple(r) for r in cold.history.select(*cols).collect())
    assert got_cold == want
    final.release()


def test_streaming_chunk_maintenance_equals_full_recompute(spark, tmp_path):
    """Stream-equals-batch for the RAG chunk table: draining a document
    change feed through run_chunk_maintenance ends at EXACTLY the chunk
    spans a full re-chunk of the final corpus produces — through
    inserts, deletes, and a same-batch double-update — and a replayed
    batch is a no-op (idempotent rewrite)."""
    from sql_cdc_spark.streaming import chunk_maintenance as CM

    base = (
        tables.load(spark, SF_DIR_SMALL, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(100)
    )
    initial = CM.build_chunk_state(base)
    feed = str(tmp_path / "feed")

    ins = base.orderBy("doc_id").limit(5).select(
        (F.col("doc_id") + 900_000).alias("doc_id"),
        F.concat("text", F.lit(" " + "pad" * 120)).alias("text"),  # multi-chunk
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    ins.coalesce(1).write.mode("append").parquet(feed)

    dels = base.orderBy("doc_id").limit(3).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_ids = base.orderBy(F.desc("doc_id")).limit(2).select("doc_id", "text")
    upd_v2 = upd_ids.select(
        "doc_id", F.concat("text", F.lit(" v2")).alias("text"),
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_v3 = upd_ids.limit(1).select(
        "doc_id", F.concat("text", F.lit(" v3 wins")).alias("text"),
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("change_version"),
    )
    dels.unionByName(upd_v2).unionByName(upd_v3).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    final, n_batches = CM.run_chunk_maintenance(
        spark, feed, str(tmp_path / "chk"), initial,
    )
    assert n_batches >= 1

    del_ids = base.orderBy("doc_id").limit(3).select("doc_id")
    win_upd = upd_v3.select("doc_id", "text").unionByName(
        upd_v2.join(upd_v3.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", "text")
    )
    final_corpus = (
        base.join(del_ids, "doc_id", "left_anti")
        .join(win_upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(win_upd)
        .unionByName(ins.select("doc_id", "text"))
    )
    want = CM.build_chunk_state(final_corpus)
    key = lambda r: (r.doc_id, r.chunk_index, r.chunk_start, r.chunk_len, r.chunk_digest)
    got = sorted(map(key, final.chunks.collect()))
    assert got == sorted(map(key, want.chunks.collect()))
    # the padded inserts genuinely produced multi-chunk docs
    multi = (
        final.chunks.filter(F.col("doc_id") >= 900_000)
        .groupBy("doc_id").count().filter(F.col("count") > 1).count()
    )
    assert multi == 5

    # idempotent replay of batch 2
    b2 = dels.unionByName(upd_v2).unionByName(upd_v3)
    ups2, dels2 = CM.collapse_batch(b2)
    replay = CM.apply_chunk_changes(final, ups2, dels2)
    assert sorted(map(key, replay.chunks.collect())) == got


def _digest_embedding(chunks):
    """Deterministic pseudo-embedding of a chunk: 8 floats from 4-hex-char
    slices of the md5 chunk digest — a stand-in for the model call of a
    real RAG ingest (pure column algebra, engine-independent), keyed by
    vec_id = doc_id·10000 + chunk_index."""
    dims = [
        (
            F.conv(F.substring("chunk_digest", d * 4 + 1, 4), 16, 10)
            .cast("float")
            / 65535.0
        ).cast("float")
        for d in range(8)
    ]
    return chunks.select(
        (F.col("doc_id") * 10_000 + F.col("chunk_index")).alias("vec_id"),
        F.array(*dims).alias("embedding"),
    )


def test_incremental_rag_index_end_to_end(spark, tmp_path):
    """Full incremental RAG-ingest composition: document change feed →
    chunk-table maintenance → deterministic chunk embeddings → IVF
    posting maintenance under a frozen quantizer. The maintained index
    must equal a from-scratch rebuild (same frozen model) over the full
    re-chunk of the final corpus — composition of three exact
    incremental stages is itself exact."""
    from sql_cdc_spark.streaming import ann_maintenance as AM
    from sql_cdc_spark.streaming import chunk_maintenance as CM

    base = (
        tables.load(spark, SF_DIR_SMALL, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
    )
    chunk_state = CM.build_chunk_state(base)
    postings, model = AM.build_postings(
        _digest_embedding(chunk_state.chunks), n_clusters=8
    )

    feed = str(tmp_path / "feed")
    ins = base.orderBy("doc_id").limit(4).select(
        (F.col("doc_id") + 800_000).alias("doc_id"),
        F.concat("text", F.lit(" " + "tail" * 90)).alias("text"),
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    dels = base.orderBy("doc_id").limit(3).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    upd = base.orderBy(F.desc("doc_id")).limit(2).select(
        "doc_id", F.concat("text", F.lit(" updated body")).alias("text"),
        F.lit("U").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    ins.unionByName(dels).unionByName(upd).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    # the embedding deletes come from the PRE-drain chunk snapshot, which
    # run_chunk_maintenance releases (ownership contract) — materialize
    # them first so they survive the release
    touched = ins.select("doc_id").unionByName(dels.select("doc_id")).unionByName(
        upd.select("doc_id")
    )
    emb_dels = (
        _digest_embedding(chunk_state.chunks.join(touched, "doc_id", "left_semi"))
        .select("vec_id")
        .localCheckpoint(eager=True)
    )
    # stage 1: chunk maintenance through the stream
    final_chunks, _ = CM.run_chunk_maintenance(
        spark, feed, str(tmp_path / "chk"), chunk_state,
    )
    # stage 2+3: the touched docs' embedding delta drives the postings
    emb_ups = _digest_embedding(
        final_chunks.chunks.join(touched, "doc_id", "left_semi")
    )
    maintained = AM.apply_postings_changes(postings, emb_ups, emb_dels, model)

    # oracle: from-scratch chunks+embeddings of the final corpus, assigned
    # under the SAME frozen quantizer
    del_ids = base.orderBy("doc_id").limit(3).select("doc_id")
    final_corpus = (
        base.join(del_ids, "doc_id", "left_anti")
        .join(upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(upd.select("doc_id", "text"))
        .unionByName(ins.select("doc_id", "text"))
    )
    want_chunks = CM.build_chunk_state(final_corpus)
    want = AM.assign_under_model(model, _digest_embedding(want_chunks.chunks))
    got = {(r.vec_id, r.cluster) for r in maintained.collect()}
    assert got == {(r.vec_id, r.cluster) for r in want.collect()}
    assert len(got) == want_chunks.chunks.count()  # one posting per chunk


def _doc_vec(docs):
    """Deterministic doc-level pseudo-embedding: 8 floats from 4-hex-char
    slices of md5(text) — the model-call stand-in for the hybrid-index
    composition test (pure column algebra, so the maintained path and
    the batch oracle derive identical vectors from identical text)."""
    dims = [
        (
            F.conv(F.substring(F.md5(F.col("text")), d * 4 + 1, 4), 16, 10)
            .cast("float")
            / 65535.0
        ).cast("float")
        for d in range(8)
    ]
    return docs.select(
        F.col("doc_id").alias("vec_id"), F.array(*dims).alias("embedding")
    )


def test_index_served_tfidf_equals_batch(spark, tmp_path):
    """The maintained inverted index serves the TF-IDF keyword report
    bit-equal to the batch query on the same corpus (both rank through
    functions/text.py::tfidf_rank), through a maintenance round with
    inserts, an update, and a delete — and a replay of the same batch
    leaves the report unchanged."""
    from sql_cdc_spark.queries.text_q import tfidf_topterms
    from sql_cdc_spark.streaming import search_maintenance as SM

    base = (
        tables.load(spark, SF_DIR_SMALL, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(90)
    )
    state = SM.build_search_state(base)
    want0 = [tuple(r) for r in tfidf_topterms(base).collect()]
    got0 = [tuple(r) for r in SM.topterms_from_index(state).collect()]
    assert got0 == want0 and got0

    ups = base.orderBy("doc_id").limit(3).select(
        (F.col("doc_id") + 910_000).alias("doc_id"),
        F.concat("text", F.lit(" keyword drift corpus")).alias("text"),
    ).unionByName(
        base.orderBy(F.desc("doc_id")).limit(1).select(
            "doc_id", F.concat("text", F.lit(" refreshed body")).alias("text")
        )
    )
    dels = base.orderBy("doc_id").limit(2).select("doc_id")
    state2 = SM.apply_search_changes(state, ups, dels)

    final = (
        base.join(dels, "doc_id", "left_anti")
        .join(ups.select("doc_id"), "doc_id", "left_anti")
        .unionByName(ups)
    )
    want1 = [tuple(r) for r in tfidf_topterms(final).collect()]
    got1 = [tuple(r) for r in SM.topterms_from_index(state2).collect()]
    assert got1 == want1
    # idempotent replay
    state3 = SM.apply_search_changes(state2, ups, dels)
    assert [tuple(r) for r in SM.topterms_from_index(state3).collect()] == want1


def test_streaming_hybrid_index_composition_equals_batch(spark, tmp_path):
    """The RAG read path, composed (VERDICT r5 #8): ONE document change
    feed drives BOTH retrieval states — the incremental BM25 inverted
    index (search_maintenance) and a maintained raw-vector table (the
    brute-force/re-rank dense tier's storage, remove-then-readd through
    the same collapse) — and the FUSED read over the two maintained
    states must equal the batch hybrid (bm25_search + topk_cosine +
    hybrid_fuse) on the final corpus, through inserts, updates and
    deletes across two micro-batches. Fusion runs through the very
    hybrid_fuse derivation sim_hybrid_search uses, so stream == batch
    holds for the composition, not just per branch. A replay of the
    final batch against both states must be a no-op (remove-then-readd
    idempotence composes)."""
    from sql_cdc_spark.functions import similarity as SIM
    from sql_cdc_spark.queries.similarity_q import HYBRID_L, hybrid_fuse
    from sql_cdc_spark.queries.text_q import BM25_QUERY, bm25_search
    from sql_cdc_spark.streaming import feed as FEED
    from sql_cdc_spark.streaming import search_maintenance as SM

    base = (
        tables.load(spark, SF_DIR_SMALL, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(120)
    )
    search0 = SM.build_search_state(base)
    vec0 = FEED.ckpt(_doc_vec(base))

    feed_dir = str(tmp_path / "feed")
    ins = base.orderBy("doc_id").limit(4).select(
        (F.col("doc_id") + 900_000).alias("doc_id"),
        F.concat("text", F.lit(" dup dup slow spark retrieval tail")).alias(
            "text"
        ),
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    upd = base.orderBy(F.desc("doc_id")).limit(3).select(
        "doc_id", F.concat("text", F.lit(" updated spark body")).alias("text"),
        F.lit("U").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    dels = base.orderBy("doc_id").limit(2).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )

    def _feedify(df):
        return df.select(
            "doc_id", F.lit("en").alias("lang"), F.lit("web").alias("source"),
            "text", "op", "change_version",
        )

    _feedify(ins.unionByName(upd)).coalesce(1).write.mode("append").parquet(
        feed_dir
    )
    _feedify(dels).coalesce(1).write.mode("append").parquet(feed_dir)

    # lexical state through the streaming drain
    search_final, n_batches = SM.run_search_maintenance(
        spark, feed_dir, str(tmp_path / "chk_lex"), search0
    )
    assert n_batches >= 2

    # dense state through the SAME feed, its own drain: latest-op
    # collapse → remove-then-readd on the vector table
    def _apply_vec(prev, batch_df, batch_id):
        ups, ds = SM.collapse_batch(batch_df)
        changed = (
            ups.select("doc_id").unionByName(ds).distinct()
            .withColumnRenamed("doc_id", "vec_id")
        )
        kept = prev.join(F.broadcast(changed), "vec_id", "left_anti")
        return FEED.ckpt(
            kept.unionByName(_doc_vec(ups.select("doc_id", "text")))
        )

    vec_final, vn = FEED.drain_feed(
        spark, feed_dir, SM.MANIFEST_CHANGE_SCHEMA,
        str(tmp_path / "chk_vec"), vec0, _apply_vec,
        lambda df: None,
    )
    assert vn >= 2

    # batch oracle: the final corpus, rebuilt from scratch
    final_docs = (
        base.join(dels.select("doc_id"), "doc_id", "left_anti")
        .join(upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(upd.select("doc_id", "text"))
        .unionByName(ins.select("doc_id", "text"))
    )
    # query vector: an untouched surviving doc's embedding — identical
    # whether derived from the maintained table or the rebuilt corpus
    qid = [
        r.doc_id
        for r in base.join(dels.select("doc_id"), "doc_id", "left_anti")
        .join(upd.select("doc_id"), "doc_id", "left_anti")
        .orderBy("doc_id").limit(1).collect()
    ][0]

    def _fused(search_state, vec_table):
        lex = SM.score_query(search_state, BM25_QUERY, k=HYBRID_L).select(
            "doc_id", "score_milli"
        )
        qv = vec_table.filter(F.col("vec_id") == qid).select("embedding")
        dense = SIM.topk_cosine(vec_table, qv, k=HYBRID_L).select(
            F.col("vec_id").alias("doc_id"), "cos_sim"
        )
        return hybrid_fuse(lex, dense)

    got = [tuple(r) for r in _fused(search_final, vec_final).collect()]

    want_vecs = _doc_vec(final_docs)
    want_lex = bm25_search(final_docs, BM25_QUERY, k=HYBRID_L).select(
        "doc_id", "score_milli"
    )
    qv = want_vecs.filter(F.col("vec_id") == qid).select("embedding")
    want_dense = SIM.topk_cosine(want_vecs, qv, k=HYBRID_L).select(
        F.col("vec_id").alias("doc_id"), "cos_sim"
    )
    want = [tuple(r) for r in hybrid_fuse(want_lex, want_dense).collect()]
    assert got == want and got

    # idempotent replay: re-apply the final batch to both states — the
    # fused read must not move
    last_batch = _feedify(dels)
    ups2, ds2 = SM.collapse_batch(last_batch)
    search_replay = SM.apply_search_changes(
        search_final, ups2.select("doc_id", "text"), ds2
    )
    vec_replay = _apply_vec(vec_final, last_batch, vn - 1)
    assert [
        tuple(r) for r in _fused(search_replay, vec_replay).collect()
    ] == want


def test_streaming_manifest_maintenance_equals_batch_pipeline(spark, tmp_path):
    """Stream-equals-batch for the WHOLE corpus-prep composition: draining
    a document change feed through run_manifest_maintenance (foreachBatch
    -> apply_manifest_changes per micro-batch) derives exactly the
    manifest prepare_training_corpus produces on the final corpus —
    through an in-batch multi-change collapse, a delete that resurfaces
    an exact-dup canonical, and a gate-failing update."""
    from sql_cdc_spark.pipelines.corpus import prepare_training_corpus
    from sql_cdc_spark.streaming import manifest_maintenance as MM

    base_docs = (
        tables.load(spark, SF_DIR_SMALL, "documents")
        .select("doc_id", "lang", "source", "text")
        .orderBy("doc_id")
        .limit(120)
    )
    manifest_ids = sorted(
        r.doc_id
        for r in MM.manifest_from_state(MM.build_manifest_state(base_docs))
        .select("doc_id")
        .collect()
    )
    c_id = manifest_ids[5]
    planted = base_docs.filter(F.col("doc_id") == c_id).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "lang", "source", "text"
    )
    base = base_docs.unionByName(planted)
    initial = MM.build_manifest_state(base)

    feed = str(tmp_path / "mfeed")
    # batch 1: near-dup clones of 3 docs + a gate-failing update, the
    # latter changed TWICE in-batch (v1 junk, v2 junkier — v2 must win)
    clone_src = [manifest_ids[8], manifest_ids[9], manifest_ids[11]]
    b1_clones = base_docs.filter(F.col("doc_id").isin(clone_src)).select(
        (F.col("doc_id") + 700_000).alias("doc_id"), "lang", "source",
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    e_id = manifest_ids[13]
    e_v1 = base_docs.filter(F.col("doc_id") == e_id).select(
        "doc_id", "lang", "source", F.lit("short junk v1").alias("text"),
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    e_v2 = base_docs.filter(F.col("doc_id") == e_id).select(
        "doc_id", "lang", "source", F.lit("junk").alias("text"),
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("change_version"),
    )
    b1_clones.unionByName(e_v1).unionByName(e_v2).coalesce(1).write.mode(
        "append"
    ).parquet(feed)
    # batch 2: delete C (resurfaces the planted copy) + delete one clone
    dels = spark.createDataFrame(
        [(c_id,), (clone_src[0] + 700_000,)], "doc_id long"
    ).select(
        "doc_id", F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(4).cast("long").alias("change_version"),
    )
    dels.coalesce(1).write.mode("append").parquet(feed)

    final, n_batches = MM.run_manifest_maintenance(
        spark, feed, str(tmp_path / "mchk"), initial
    )
    assert n_batches >= 1

    final_corpus = (
        base.filter(~F.col("doc_id").isin([c_id, e_id]))
        .unionByName(
            base_docs.filter(F.col("doc_id") == e_id).select(
                "doc_id", "lang", "source", F.lit("junk").alias("text")
            )
        )
        .unionByName(
            b1_clones.select("doc_id", "lang", "source", "text").filter(
                F.col("doc_id") != clone_src[0] + 700_000
            )
        )
    )
    got = {
        tuple(r) for r in MM.manifest_from_state(final).collect()
    }
    want = {tuple(r) for r in prepare_training_corpus(final_corpus).collect()}
    assert got == want
    by_id = {r[0] for r in got}
    assert c_id not in by_id and c_id + 500_000 in by_id   # resurfaced
    assert e_id not in by_id                               # junked out
    # surviving clones lost near-dup election to their originals
    assert clone_src[1] in by_id and clone_src[1] + 700_000 not in by_id


def test_manifest_and_text_collapse_elect_same_winner(spark):
    """A feed consumed through BOTH collapse paths — the multi-payload
    manifest collapse and the single-payload text collapse the other
    maintenance twins share — must elect the SAME winning text for a
    same-version same-op duplicate pair whose lang AND text both
    differ; ordering lang/source ahead of text in the manifest tiebreak
    split the election across modules (ADVICE r5)."""
    from sql_cdc_spark.streaming import dedup_maintenance as DM
    from sql_cdc_spark.streaming import manifest_maintenance as MM

    batch = spark.createDataFrame(
        [
            # lang order (de < en) disagrees with text order (zzz > aaa):
            # a lang-first tiebreak elects 'aaa text', text-first 'zzz text'
            (1, "en", "web", "aaa text", "U", 7),
            (1, "de", "web", "zzz text", "U", 7),
            # and a same-version U/D race still routes to delete wins/loses
            # identically in both modules ('U' > 'D' in the op position)
            (2, "en", "web", "alive", "U", 3),
            (2, "en", "web", None, "D", 3),
        ],
        "doc_id long, lang string, source string, text string, "
        "op string, change_version long",
    )
    m_ups, m_dels = MM.collapse_batch(batch)
    t_ups, t_dels = DM.collapse_batch(
        batch.select("doc_id", "text", "op", "change_version")
    )
    m_win = {r.doc_id: r.text for r in m_ups.collect()}
    t_win = {r.doc_id: r.text for r in t_ups.collect()}
    assert m_win == t_win == {1: "zzz text", 2: "alive"}
    assert m_dels.count() == t_dels.count() == 0


def test_manifest_maintenance_resumes_from_checkpoint(spark, tmp_path):
    """Two separate drains over the same checkpoint: the second must see
    ONLY files appended after the first (n_batches == 1, no replay of
    batch 1), and the final manifest still equals the batch pipeline on
    the final corpus."""
    from sql_cdc_spark.pipelines.corpus import prepare_training_corpus
    from sql_cdc_spark.streaming import manifest_maintenance as MM

    base = (
        tables.load(spark, SF_DIR_SMALL, "documents")
        .select("doc_id", "lang", "source", "text")
        .orderBy("doc_id")
        .limit(80)
    )
    st = MM.build_manifest_state(base)
    feed, chk = str(tmp_path / "rfeed"), str(tmp_path / "rchk")

    b1 = base.orderBy("doc_id").limit(3).select(
        (F.col("doc_id") + 800_000).alias("doc_id"), "lang", "source",
        F.concat("text", F.lit(" copy one")).alias("text"),
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    b1.coalesce(1).write.mode("append").parquet(feed)
    st1, n1 = MM.run_manifest_maintenance(spark, feed, chk, st)
    assert n1 >= 1

    b2 = base.orderBy(F.desc("doc_id")).limit(2).select(
        "doc_id", "lang", "source",
        F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    b2.coalesce(1).write.mode("append").parquet(feed)
    st2, n2 = MM.run_manifest_maintenance(spark, feed, chk, st1)
    assert n2 == 1, "resumed drain must process only the new file"

    del_ids = [r.doc_id for r in base.orderBy(F.desc("doc_id")).limit(2).collect()]
    final_corpus = (
        base.filter(~F.col("doc_id").isin(del_ids))
        .unionByName(b1.select("doc_id", "lang", "source", "text"))
    )
    got = {tuple(r) for r in MM.manifest_from_state(st2).collect()}
    want = {tuple(r) for r in prepare_training_corpus(final_corpus).collect()}
    assert got == want


def test_consumer_lag_report(spark, tmp_path):
    """Exact backlog accounting under the composite cursor order: rows AT
    the cursor version with key <= cursor_id are consumed, ties with
    key > cursor_id are pending — the same rule pull_batch resumes by."""
    log = str(tmp_path / "laglog")
    rows = [("invoices", k, v, "U", None) for v in (1, 2, 3) for k in (10, 20, 30)]
    spark.createDataFrame(
        rows, "table_name string, key_id long, change_version long, op string, payload string"
    ).write.parquet(log)

    reg = SyncStateRegistry(str(tmp_path / "lagreg"))
    reg.read("fresh")                # auto-created at (0, 0)
    reg.advance("mid", 2, 20)        # consumed through (2, 20)
    reg.advance("done", 3, 30)       # fully caught up

    got = {
        r.sync_name: (r.cursor_version, r.current_version, r.version_lag, r.pending_changes)
        for r in pl.consumer_lag(spark, reg, log).collect()
    }
    assert got["fresh"] == (0, 3, 3, 9)
    # mid: pending = (2,30) tie-break + all of version 3 -> 4 rows
    assert got["mid"] == (2, 3, 1, 4)
    assert got["done"] == (3, 3, 0, 0)

    # cold start: consumers registered before the log exists — an empty
    # report row per consumer, never a path error
    cold = {
        r.sync_name: (r.current_version, r.version_lag, r.pending_changes)
        for r in pl.consumer_lag(spark, reg, str(tmp_path / "no_log_yet")).collect()
    }
    assert cold == {"fresh": (0, 0, 0), "mid": (0, 0, 0), "done": (0, 0, 0)}


def test_retry_failed_documents_lifecycle(spark, tmp_path):
    """Poison-record lifecycle completes: a parked record with a captured
    payload is delivered on retry (atomic, original filename) and its
    evidence file removed; a payload-less record stays parked; a second
    retry is a no-op for delivered records (idempotent)."""
    import json as _json
    import os as _os

    out = str(tmp_path / "retry_out")
    err = str(tmp_path / "retry_err")
    _os.makedirs(err)
    with open(_os.path.join(err, "doc_7.json.error"), "w") as f:
        _json.dump(
            {"doc_filename": "doc_7.json", "error": "OSError: disk full",
             "payload": '{"invoice_id": 7}'}, f,
        )
    with open(_os.path.join(err, "doc_9.json.error"), "w") as f:
        _json.dump(
            {"doc_filename": "doc_9.json", "error": "TypeError: unserializable",
             "payload": None}, f,
        )
    with open(_os.path.join(err, "doc_8.json.error"), "w") as f:
        _json.dump(
            {"doc_filename": "no_such_dir/doc_8.json",
             "error": "OSError: original failure",
             "payload": '{"invoice_id": 8}'}, f,
        )
    delivered, parked = pl.retry_failed_documents(out, err)
    # doc_7 delivers; doc_8 STILL fails (missing subdir) and stays parked
    # rather than crashing the replay loop; doc_9 has no payload
    assert (delivered, parked) == (1, 2)
    assert _os.path.exists(_os.path.join(err, "doc_8.json.error"))
    with open(_os.path.join(out, "doc_7.json")) as f:
        assert _json.load(f) == {"invoice_id": 7}
    assert not _os.path.exists(_os.path.join(err, "doc_7.json.error"))
    assert _os.path.exists(_os.path.join(err, "doc_9.json.error"))
    # idempotent second pass: nothing newly delivered, poisons still parked
    assert pl.retry_failed_documents(out, err) == (0, 2)


def test_retry_refuses_escaping_filenames_and_corrupt_evidence(tmp_path):
    """The recorded doc_filename is DATA: absolute paths and ``..``
    components must stay parked, never delivered outside the sink dir;
    a corrupt (non-JSON) evidence file parks instead of aborting the
    replay loop, and records sorted after it still deliver."""
    import json as _json
    import os as _os

    from sql_cdc_spark.streaming import pipeline as pl

    out = str(tmp_path / "esc_out")
    err = str(tmp_path / "esc_err")
    _os.makedirs(err)
    abs_target = str(tmp_path / "outside.json")
    with open(_os.path.join(err, "a_abs.json.error"), "w") as f:
        _json.dump(
            {"doc_filename": abs_target, "error": "x", "payload": '{"a":1}'},
            f,
        )
    with open(_os.path.join(err, "b_dotdot.json.error"), "w") as f:
        _json.dump(
            {"doc_filename": "../escaped.json", "error": "x",
             "payload": '{"a":2}'}, f,
        )
    with open(_os.path.join(err, "c_corrupt.json.error"), "w") as f:
        f.write("{truncated")
    with open(_os.path.join(err, "d_good.json.error"), "w") as f:
        _json.dump(
            {"doc_filename": "d_good.json", "error": "x",
             "payload": '{"a":3}'}, f,
        )
    delivered, parked = pl.retry_failed_documents(out, err)
    assert (delivered, parked) == (1, 3)
    # nothing escaped the sink directory
    assert not _os.path.exists(abs_target)
    assert not _os.path.exists(str(tmp_path / "escaped.json"))
    assert sorted(_os.listdir(out)) == ["d_good.json"]
    # the refused/corrupt evidence is still parked for the operator
    assert sorted(_os.listdir(err)) == [
        "a_abs.json.error", "b_dotdot.json.error", "c_corrupt.json.error"
    ]


def test_retention_floor_is_monotone_across_expires(spark, tmp_path):
    """A later expire with a LOWER min_version must not lower the
    recorded floor: the marker travels with the rewritten log, so the
    stale-cursor gate keeps refusing the range the FIRST expire deleted."""
    from sql_cdc_spark.streaming import changelog as cl
    from sql_cdc_spark.streaming import pipeline as pl

    w = _gen_changes(spark, tmp_path)
    log = w.log_dir
    pl.expire_changelog(spark, log, min_version=10)
    assert cl.retention_floor(log) == 10
    # replayed/older cleanup job: floor must hold at 10, not drop to 5
    pl.expire_changelog(spark, log, min_version=5)
    assert cl.retention_floor(log) == 10


def test_malformed_filename_poison_segregates_not_crashes(spark, tmp_path):
    """A record poisoned BY its malformed filename (path separator) must
    not crash the segregation path: the batch delivers the healthy
    records, the evidence lands under a sanitized (hash-disambiguated)
    name, and the original filename survives verbatim inside the
    evidence JSON. Two distinct malformed names that sanitize to the
    same string must keep SEPARATE evidence files — the overwrite would
    silently destroy the first record's only copy."""
    import json as _json
    import os as _os

    out, err = str(tmp_path / "po"), str(tmp_path / "pe")
    # the two poisons sanitize to the SAME name: '/' fails as a missing
    # subdir, NUL fails inside open() — the only two chars a Linux
    # filesystem actually rejects, and exactly the collision class
    docs = spark.createDataFrame(
        [("ok_1.json", '{"a":1}'), ("bad/poison.json", '{"a":2}'),
         ("bad\x00poison.json", '{"a":4}'), ("ok_2.json", '{"a":3}')],
        "doc_filename string, doc_json string",
    )
    delivered = pl.write_documents(docs, out, error_dir=err)
    assert delivered == 2
    assert sorted(_os.listdir(out)) == ["ok_1.json", "ok_2.json"]
    evidence = sorted(_os.listdir(err))
    assert len(evidence) == 2, "sanitize-collision overwrote evidence"
    assert all(
        e.startswith("bad_poison.json.") and e.endswith(".error")
        for e in evidence
    )
    recs = []
    for e in evidence:
        with open(_os.path.join(err, e)) as f:
            recs.append(_json.load(f))
    assert {r["doc_filename"] for r in recs} == {
        "bad/poison.json", "bad\x00poison.json"
    }
    assert {r["payload"] for r in recs} == {'{"a":2}', '{"a":4}'}


def test_stale_cursor_refused_after_retention(spark, base, tmp_path):
    """The min-valid-version contract: after expire_changelog raises the
    retention floor past a consumer's cursor, pull_batch REFUSES the pull
    (StaleCursorError) instead of silently skipping the expired changes;
    consumer_lag flags the same consumer stale; reset_consumer restores a
    working (from-scratch) pull. A consumer already past the floor is
    untouched."""
    header, lines = base
    w = _gen_changes(spark, tmp_path)
    log = w.log_dir
    reg = SyncStateRegistry(str(tmp_path / "sreg"))
    out = str(tmp_path / "sdocs")

    # behind: consumed a little; ahead: fully drained
    r1 = pl.pull_batch(spark, log, "behind", reg, header, lines, MODEL, out, limit=5)
    assert r1.processed > 0
    pl.drain(spark, log, "ahead", reg, header, lines, MODEL, out, limit=500)
    behind_v = reg.read("behind").last_sync_version
    ahead_v = reg.read("ahead").last_sync_version
    assert behind_v < ahead_v

    floor = behind_v + 1
    pl.expire_changelog(spark, log, min_version=floor)
    assert cl.retention_floor(log) == floor

    with pytest.raises(pl.StaleCursorError, match="behind"):
        pl.pull_batch(spark, log, "behind", reg, header, lines, MODEL, out)
    stale = {
        r.sync_name: r.cursor_stale
        for r in pl.consumer_lag(spark, reg, log).collect()
    }
    assert stale["behind"] is True and stale["ahead"] is False

    # ahead consumer still pulls fine (nothing pending, no error)
    ok = pl.pull_batch(spark, log, "ahead", reg, header, lines, MODEL, out)
    assert ok.processed == 0

    # reset, then... a reset cursor is version 0 < floor: the contract is
    # re-sync from a base snapshot; incremental pull over the expired
    # range must STILL be refused so loss cannot sneak back in
    pl.reset_consumer(reg, str(tmp_path / "schk"), "behind")
    with pytest.raises(pl.StaleCursorError):
        pl.pull_batch(spark, log, "behind", reg, header, lines, MODEL, out)


def test_expiration_invisible_to_valid_consumers(spark, base, tmp_path):
    """Retention safety from the other side: for a consumer whose cursor
    is AT or ABOVE the floor, expiring the log changes nothing — the
    remaining drain delivers byte-identical documents with or without
    the expiration (the inclusive tie re-read only needs the cursor
    version itself, which a valid floor retains)."""
    import shutil

    header, lines = base
    w = _gen_changes(spark, tmp_path, seed=23)
    log = w.log_dir
    out_a = str(tmp_path / "docs_a")
    out_b = str(tmp_path / "docs_b")
    reg = SyncStateRegistry(str(tmp_path / "vreg"))

    pl.pull_batch(spark, log, "c", reg, header, lines, MODEL, out_a, limit=10)
    cursor_v = reg.read("c").last_sync_version

    # clone the log + registry state, expire ONLY the clone up to the cursor
    log2 = str(tmp_path / "logclone")
    shutil.copytree(log, log2)
    reg2 = SyncStateRegistry(str(tmp_path / "vreg2"))
    st = reg.read("c")
    reg2.advance("c", st.last_sync_version, st.last_processed_id)
    pl.expire_changelog(spark, log2, min_version=cursor_v)

    for r in pl.drain(spark, log, "c", reg, header, lines, MODEL, out_a, limit=25):
        pass
    for r in pl.drain(spark, log2, "c", reg2, header, lines, MODEL, out_b, limit=25):
        pass

    import os as _os

    files_a = {f: open(_os.path.join(out_a, f)).read() for f in _os.listdir(out_a)}
    files_b = {f: open(_os.path.join(out_b, f)).read() for f in _os.listdir(out_b)}
    # out_a includes the pre-expiry first batch too; every doc the cloned
    # (expired) drain produced must exist byte-identical in the unexpired
    # run, and both drains end at the same cursor
    for f, body in files_b.items():
        assert files_a[f] == body
    assert reg.read("c").last_sync_version == reg2.read("c").last_sync_version
    assert reg.read("c").last_processed_id == reg2.read("c").last_processed_id


def test_compact_empty_document_dir(spark, tmp_path):
    """Cold start: compacting a directory with no documents yet returns 0
    and writes nothing, instead of failing JSON schema inference."""
    import os as _os

    empty = str(tmp_path / "no_docs")
    _os.makedirs(empty)
    pq = str(tmp_path / "no_docs_pq")
    assert pl.compact_documents(spark, empty, pq) == 0
    assert not _os.path.exists(pq)
    # a missing dir behaves the same as an empty one
    assert pl.compact_documents(spark, str(tmp_path / "never_made"), pq) == 0


def test_maintenance_drain_cold_start_empty_feed(spark, tmp_path):
    """A maintenance job coming up before its feed has produced a single
    file must drain zero batches against an unchanged state, not fail
    PATH_NOT_FOUND (shared read_feed fix — covers every maintenance
    module at once)."""
    from sql_cdc_spark.functions import dedup as DD
    from sql_cdc_spark.streaming import dedup_maintenance as DM

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon")], "doc_id long, text string"
    )
    st = DD.build_near_dup_state(docs)
    final, n = DM.run_dedup_maintenance(
        spark, str(tmp_path / "no_feed_yet"), str(tmp_path / "cchk"), st
    )
    assert n == 0
    assert final is st
    assert final.pairs.count() == 0


def test_discover_feed_schema_cold_start(spark, tmp_path):
    """Before the first feed file exists the evolved schema IS the
    contract: a missing or empty feed dir yields fromDDL(required), not
    PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA — the same cold-start
    contract read_feed already honors."""
    from pyspark.sql.types import StructType

    from sql_cdc_spark.streaming import feed as FEED

    req = "doc_id long, op string, change_version long"
    missing = str(tmp_path / "never_written")
    assert FEED.discover_feed_schema(spark, missing, req) == \
        StructType.fromDDL(req)
    assert os.path.isdir(missing)  # created, like read_feed
    # present-but-empty (mkdir'd by read_feed, no files yet): same
    assert FEED.discover_feed_schema(spark, missing, req) == \
        StructType.fromDDL(req)


def test_fsutil_probes_honor_uri_schemes(spark, tmp_path):
    """The cold-start probes go through Hadoop FileSystem (ADVICE r4):
    they must behave identically for a plain local path and an explicit
    file:// URI — the shape a remote scheme (hdfs://, s3a://) takes —
    where os.makedirs would have treated the URI as a literal relative
    directory name and silently created garbage."""
    from sql_cdc_spark.streaming.fsutil import ensure_dir, has_parquet_files

    plain = str(tmp_path / "plain")
    uri = "file://" + str(tmp_path / "via_uri")
    for target, local in ((plain, plain), (uri, str(tmp_path / "via_uri"))):
        assert not has_parquet_files(spark, target)
        ensure_dir(spark, target)
        assert os.path.isdir(local), f"not created at the real path: {target}"
        assert not has_parquet_files(spark, target)  # exists, still empty
        spark.range(3).coalesce(1).write.mode("append").parquet(target)
        assert has_parquet_files(spark, target)
    # and no literal 'file:' directory appeared under the cwd
    assert not os.path.exists(os.path.join(os.getcwd(), "file:"))


def test_read_violations_propagates_corrupt_evidence(spark, tmp_path):
    """An unreadable evidence file must RAISE, never read as 'no
    violations' — a quality audit that swallows read errors produces
    the one false negative an evidence sink exists to prevent."""
    import pytest as _pytest

    from sql_cdc_spark.streaming import expectations as EX

    vdir = tmp_path / "viol" / "b0"
    vdir.mkdir(parents=True)
    (vdir / "part-00000.snappy.parquet").write_bytes(b"not a parquet file")
    with _pytest.raises(Exception):
        EX.read_violations(spark, str(tmp_path / "viol")).collect()


def test_pull_batch_cold_start_empty_log(spark, base, tmp_path):
    """A consumer polling before the producer has written any change gets
    an empty batch at version 0, not PATH_NOT_FOUND — and the cursor
    stays at the origin so the first real change is picked up later."""
    header, lines = base
    reg = SyncStateRegistry(str(tmp_path / "coldreg"))
    res = pl.pull_batch(
        spark, str(tmp_path / "cold_log"), "c", reg, header, lines, MODEL,
        str(tmp_path / "cold_docs"),
    )
    assert res.processed == 0 and res.has_more is False
    st = reg.read("c")
    assert (st.last_sync_version, st.last_processed_id) == (0, 0)


def test_jdbc_registry_full_pipeline_parity(spark, base, tmp_path):
    """The reference's literal deployment shape, live: consumer cursors
    in a database TABLE (embedded Derby over JDBC) driving the same
    checkpointed pull loop. Contract parity with the file registry:
    auto-create, monotone advance (rewind raises), reset, listing — and
    a two-batch drain through pull_batch lands the exact same cursor the
    file-registry run produces on the same log."""
    from sql_cdc_spark.streaming.registry import JdbcSyncStateRegistry

    header, lines = base
    w = _gen_changes(spark, tmp_path, seed=31)
    url = f"jdbc:derby:{tmp_path / 'regdb'};create=true"
    jreg = JdbcSyncStateRegistry(
        spark, url, "org.apache.derby.jdbc.EmbeddedDriver"
    )

    # contract parity
    st = jreg.read("c")
    assert (st.last_sync_version, st.last_processed_id) == (0, 0)
    jreg.advance("c", 5, 7)
    with pytest.raises(ValueError, match="rewind"):
        jreg.advance("c", 4, 0)
    assert jreg.reset("c").last_sync_version == 0
    assert [s.sync_name for s in jreg.list_consumers()] == ["c"]

    # same drain, two registries: identical final cursors and documents
    freg = SyncStateRegistry(str(tmp_path / "fileg"))
    out_j = str(tmp_path / "docs_j")
    out_f = str(tmp_path / "docs_f")
    for r in pl.drain(spark, w.log_dir, "c", jreg, header, lines, MODEL, out_j, limit=40):
        pass
    for r in pl.drain(spark, w.log_dir, "c", freg, header, lines, MODEL, out_f, limit=40):
        pass
    js, fs = jreg.read("c"), freg.read("c")
    assert (js.last_sync_version, js.last_processed_id) == (
        fs.last_sync_version, fs.last_processed_id,
    )
    import os as _os

    assert sorted(_os.listdir(out_j)) == sorted(_os.listdir(out_f))
    # and consumer_lag takes either registry interchangeably — with a
    # path OR a DataFrame change source (the DB-backed stack's shape)
    lag = pl.consumer_lag(spark, jreg, w.log_dir).collect()
    assert len(lag) == 1 and lag[0].pending_changes == 0
    lag_df = pl.consumer_lag(
        spark, jreg, cl.read_changelog(spark, w.log_dir)
    ).collect()
    assert [tuple(r) for r in lag_df] == [tuple(r) for r in lag]


def test_jdbc_registry_upsert_survives_insert_race(spark, tmp_path):
    """First-use auto-create is a multi-process entry point: two
    processes read()ing an unseen consumer race UPDATE-miss → INSERT,
    and the loser gets a duplicate-key failure that must fall back to
    UPDATE, not propagate (ADVICE r4). Simulated deterministically: the
    row already exists (the 'winner'), and the loser's first UPDATE is
    forced to report a miss — its INSERT then hits the duplicate key
    and the retry UPDATE must land the state."""
    from sql_cdc_spark.streaming.registry import (
        JdbcSyncStateRegistry,
        SyncState,
    )

    url = f"jdbc:derby:{tmp_path / 'racedb'};create=true"
    jreg = JdbcSyncStateRegistry(
        spark, url, "org.apache.derby.jdbc.EmbeddedDriver"
    )
    jreg.read("c")  # the winner's auto-create: row now exists at (0, 0)

    real_try_update = jreg._try_update
    calls = {"n": 0}

    def racing_try_update(conn, state):
        calls["n"] += 1
        if calls["n"] == 1:
            return False  # the loser's view: row not there yet
        return real_try_update(conn, state)

    jreg._try_update = racing_try_update
    try:
        conn = jreg._connect()
        try:
            jreg._upsert(conn, SyncState("c", 9, 3, 1.5))
        finally:
            conn.close()
    finally:
        jreg._try_update = real_try_update
    assert calls["n"] == 2, "duplicate-key INSERT must retry the UPDATE"
    st = jreg.read("c")
    assert (st.last_sync_version, st.last_processed_id) == (9, 3)


def test_full_reference_stack_live_on_database(spark, base, tmp_path):
    """The reference user's EXACT deployment, live end-to-end: the
    change-tracking rows live in an RDBMS (embedded Derby), the consumer
    cursor lives in a database table (JdbcSyncStateRegistry), the engine
    pulls over a partitioned JDBC scan of the change table, and the
    drained documents are byte-identical to the parquet-log + file-
    registry stack on the same change data."""
    from sql_cdc_spark.sources.jdbc import read_jdbc_url, write_jdbc
    from sql_cdc_spark.streaming.registry import JdbcSyncStateRegistry

    header, lines = base
    w = _gen_changes(spark, tmp_path, seed=47)
    url = f"jdbc:derby:{tmp_path / 'stackdb'};create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"

    # ship the parquet harness log into the DATABASE change table
    log_df = cl.read_changelog(spark, w.log_dir).select(
        "table_name", "key_id", "change_version", "op"
    )
    # Spark's default Derby mapping for strings is CLOB, which Derby
    # cannot compare against pushed string predicates — give the text
    # columns real VARCHAR types at create time
    write_jdbc(
        log_df, url=url, table="change_table", driver=driver,
        createTableColumnTypes="table_name VARCHAR(64), op VARCHAR(8)",
    )
    db_changes = read_jdbc_url(
        spark, url=url, table="change_table", driver=driver,
        partition_column="change_version", lower_bound=0,
        upper_bound=int(log_df.agg(F.max("change_version")).first()[0]) + 1,
        num_partitions=3,
    ).withColumn("payload", F.lit(None).cast("string"))
    jreg = JdbcSyncStateRegistry(spark, url, driver)

    out_db = str(tmp_path / "docs_db")
    out_fs = str(tmp_path / "docs_fs")
    for r in pl.drain(spark, db_changes, "c", jreg, header, lines, MODEL, out_db, limit=30):
        pass
    freg = SyncStateRegistry(str(tmp_path / "fsreg"))
    for r in pl.drain(spark, w.log_dir, "c", freg, header, lines, MODEL, out_fs, limit=30):
        pass

    import os as _os

    files_db = {f: open(_os.path.join(out_db, f)).read() for f in _os.listdir(out_db)}
    files_fs = {f: open(_os.path.join(out_fs, f)).read() for f in _os.listdir(out_fs)}
    assert files_db == files_fs and len(files_db) > 0
    js, fs_ = jreg.read("c"), freg.read("c")
    assert (js.last_sync_version, js.last_processed_id) == (
        fs_.last_sync_version, fs_.last_processed_id,
    )


def test_kafka_shaped_stream_feeds_pipeline_byte_identical(spark, base, tmp_path):
    """The Kafka `.load()` gap closed the Derby way (VERDICT r4 #6): the
    spark-sql-kafka jar is absent, so the honest live e2e is the
    connector's exact OUTPUT SHAPE on a real streaming source. Change
    events are encoded to (key, value, topic, partition, offset,
    timestamp) records — the connector's documented output schema, with
    the payload bytes produced by encode_change_event — tailed by a
    schema'd readStream, normalized IN-STREAM by kafka_to_changelog
    (from_json + mandatory-field gate running inside micro-batch
    planning, not on a pre-built batch frame), poison records included,
    and landed via foreachBatch into a changelog directory the standard
    pull pipeline consumes. The drained documents must be byte-identical
    to the file-stack run on the same change data, and the poison
    records must have been dropped in-stream, not crashed the query."""
    from sql_cdc_spark.sources import kafka as kf

    header, lines = base
    w = _gen_changes(spark, tmp_path, seed=53)

    # the connector's output schema (spark-sql-kafka docs): every column,
    # typed as the connector types them
    kafka_records = cl.read_changelog(spark, w.log_dir).select(
        F.col("key_id").cast("string").cast("binary").alias("key"),
        F.to_json(
            F.struct("table_name", "key_id", "change_version", "op")
        ).cast("binary").alias("value"),
        F.lit("cdc.invoices").alias("topic"),
        F.pmod(F.col("key_id"), F.lit(4)).cast("int").alias("partition"),
        F.col("change_version").alias("offset"),
        F.col("ts").alias("timestamp"),
        F.lit(0).cast("int").alias("timestampType"),
    )
    poison = spark.createDataFrame(
        [
            (b"k", b"not json at all", "cdc.invoices", 0, 999_999),
            (b"k", b'{"table_name": "x"}', "cdc.invoices", 1, 999_998),
        ],
        "key binary, value binary, topic string, partition int, offset long",
    ).select(
        "*",
        F.current_timestamp().alias("timestamp"),
        F.lit(0).cast("int").alias("timestampType"),
    )
    kafka_dir = str(tmp_path / "kafka_records")
    kafka_records.unionByName(poison).coalesce(2).write.parquet(kafka_dir)

    stream = spark.readStream.schema(
        spark.read.parquet(kafka_dir).schema
    ).parquet(kafka_dir)
    assert stream.isStreaming
    normalized = kf.kafka_to_changelog(stream)  # streaming plan

    chain_dir = str(tmp_path / "chainlog")

    def _land(batch_df, _bid):
        batch_df.write.mode("append").parquet(chain_dir)

    q = (
        normalized.writeStream.foreachBatch(_land)
        .option("checkpointLocation", str(tmp_path / "kchk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    n_landed = cl.read_changelog(spark, chain_dir).count()
    assert n_landed == cl.read_changelog(spark, w.log_dir).count()

    out_k = str(tmp_path / "docs_k")
    out_f = str(tmp_path / "docs_f")
    kreg = SyncStateRegistry(str(tmp_path / "kreg"))
    freg = SyncStateRegistry(str(tmp_path / "freg"))
    for r in pl.drain(spark, chain_dir, "c", kreg, header, lines, MODEL, out_k, limit=30):
        pass
    for r in pl.drain(spark, w.log_dir, "c", freg, header, lines, MODEL, out_f, limit=30):
        pass

    import os as _os

    files_k = {f: open(_os.path.join(out_k, f)).read() for f in _os.listdir(out_k)}
    files_f = {f: open(_os.path.join(out_f, f)).read() for f in _os.listdir(out_f)}
    assert files_k == files_f and len(files_k) > 0
    ks, fs_ = kreg.read("c"), freg.read("c")
    assert (ks.last_sync_version, ks.last_processed_id) == (
        fs_.last_sync_version, fs_.last_processed_id,
    )


def test_streaming_search_maintenance_equals_batch_bm25(spark, tmp_path):
    """Stream-equals-batch for the BM25 search index: (1) zero-state —
    score_query over a freshly built index equals the batch query
    txt_bm25_search bit-exactly (both call the ONE shared bm25_rank
    derivation); (2) draining a document change feed through
    run_search_maintenance ends at exactly the postings + length tables
    a full rebuild of the final corpus produces — through inserts whose
    text is query-term-rich (the ranking must actually MOVE), deletes,
    and a same-batch double-update; (3) replaying the last batch is a
    no-op."""
    from sql_cdc_spark.queries.text_q import (
        BM25_QUERY,
        BM25_TOPK,
        txt_bm25_search,
    )
    from sql_cdc_spark.streaming import search_maintenance as SM

    corpus = tables.load(spark, SF_DIR_SMALL, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    st0 = SM.build_search_state(
        corpus.select("doc_id", "text")
    )
    got0 = [
        tuple(r)
        for r in SM.score_query(st0, BM25_QUERY, k=BM25_TOPK).collect()
    ]
    want0 = [tuple(r) for r in txt_bm25_search(spark, SF_DIR_SMALL).collect()]
    assert got0 == want0 and got0

    base = corpus.orderBy("doc_id").limit(120)
    initial = SM.build_search_state(base.select("doc_id", "text"))
    feed = str(tmp_path / "feed")

    # batch 1: insert 6 docs saturated with query terms — these MUST
    # enter the maintained top-k or the equality below is vacuous
    b1 = base.orderBy("doc_id").limit(6).select(
        (F.col("doc_id") + 700_000).alias("doc_id"), "lang", "source",
        F.concat("text", F.lit(" dup dup stream dup")).alias("text"),
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    b1.coalesce(1).write.mode("append").parquet(feed)

    # batch 2: delete 4, update 2 — one TWICE in-batch (v3 wins)
    dels = base.orderBy("doc_id").limit(4).select(
        "doc_id", "lang", "source",
        F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_ids = base.orderBy(F.desc("doc_id")).limit(2).select(
        "doc_id", "lang", "source", "text"
    )
    upd_v2 = upd_ids.select(
        "doc_id", "lang", "source",
        F.concat("text", F.lit(" dup slow")).alias("text"),
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_v3 = upd_ids.limit(1).select(
        "doc_id", "lang", "source",
        F.concat("text", F.lit(" entirely new body")).alias("text"),
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("change_version"),
    )
    dels.unionByName(upd_v2).unionByName(upd_v3).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    final, n_batches = SM.run_search_maintenance(
        spark, feed, str(tmp_path / "chk"), initial,
    )
    assert n_batches >= 1

    del_ids = base.orderBy("doc_id").limit(4).select("doc_id")
    win_upd = upd_v3.select("doc_id", "text").unionByName(
        upd_v2.join(upd_v3.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", "text")
    )
    final_corpus = (
        base.select("doc_id", "text")
        .join(del_ids, "doc_id", "left_anti")
        .join(win_upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(win_upd)
        .unionByName(b1.select("doc_id", "text"))
    )
    rebuilt = SM.build_search_state(final_corpus)
    got_post = {tuple(r) for r in final.postings.collect()}
    want_post = {tuple(r) for r in rebuilt.postings.collect()}
    assert got_post == want_post
    assert {tuple(r) for r in final.docs.collect()} == {
        tuple(r) for r in rebuilt.docs.collect()
    }
    # the scored report agrees too, and the inserted term-rich docs
    # actually moved the ranking (non-vacuous)
    got_rank = [
        tuple(r)
        for r in SM.score_query(final, BM25_QUERY, k=BM25_TOPK).collect()
    ]
    want_rank = [
        tuple(r)
        for r in SM.score_query(rebuilt, BM25_QUERY, k=BM25_TOPK).collect()
    ]
    assert got_rank == want_rank
    assert any(r[0] >= 700_000 for r in got_rank), (
        "term-saturated inserts missing from the maintained top-k"
    )

    # idempotent replay of batch 2
    b2 = dels.unionByName(upd_v2).unionByName(upd_v3)
    ups2, dels2 = SM.collapse_batch(b2)
    replay = SM.apply_search_changes(
        final, ups2.select("doc_id", "text"), dels2
    )
    assert {tuple(r) for r in replay.postings.collect()} == got_post


def test_cdf_shaped_stream_feeds_pipeline_byte_identical(spark, base, tmp_path):
    """The Delta-CDF `.load()` gap closed the same way as Kafka's
    (VERDICT r4 #6): no delta jar exists anywhere in this container
    (evidenced in SURVEY), so the honest live e2e is the Change Data
    Feed's exact OUTPUT SHAPE on a real streaming source — row columns
    plus _change_type/_commit_version/_commit_timestamp, update
    pre-images included — tailed by a schema'd readStream, normalized
    IN-STREAM by cdf_to_changelog (map-literal op translation + preimage
    drop running inside micro-batch planning), landed via foreachBatch
    into a changelog the standard pull pipeline consumes. Documents
    byte-identical to the file-stack run on the same change data."""
    from sql_cdc_spark.sources import cdf_to_changelog

    header, lines = base
    w = _gen_changes(spark, tmp_path, seed=61)

    # render the harness log as CDF output rows: header changes carry
    # the invoice id column, I/U/D become insert/update_postimage/delete,
    # and every update ALSO emits the preimage row a real CDF stream has
    log = cl.read_changelog(spark, w.log_dir)
    base_cdf = log.select(
        F.col("key_id").alias("invoice_id"),
        F.col("table_name"),
        F.when(F.col("op") == "I", "insert")
        .when(F.col("op") == "U", "update_postimage")
        .otherwise("delete")
        .alias("_change_type"),
        F.col("change_version").alias("_commit_version"),
        F.col("ts").alias("_commit_timestamp"),
    )
    preimages = base_cdf.filter(
        F.col("_change_type") == "update_postimage"
    ).withColumn("_change_type", F.lit("update_preimage"))
    cdf_dir = str(tmp_path / "cdf_records")
    base_cdf.unionByName(preimages).coalesce(2).write.parquet(cdf_dir)

    stream = spark.readStream.schema(
        spark.read.parquet(cdf_dir).schema
    ).parquet(cdf_dir)
    assert stream.isStreaming

    chain_dir = str(tmp_path / "chainlog")

    def _land(batch_df, _bid):
        # per-table normalization: the harness log carries BOTH tables
        # in one feed; a real lakehouse has one CDF stream per table,
        # so route on the carried table_name then normalize each
        for tbl in (cl.HEADER_TABLE, cl.LINE_TABLE):
            part = batch_df.filter(F.col("table_name") == tbl).drop(
                "table_name"
            )
            cdf_to_changelog(part, tbl, "invoice_id").write.mode(
                "append"
            ).parquet(chain_dir)

    q = (
        stream.writeStream.foreachBatch(_land)
        .option("checkpointLocation", str(tmp_path / "cchk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert (
        cl.read_changelog(spark, chain_dir).count()
        == cl.read_changelog(spark, w.log_dir).count()
    )  # preimages dropped in-stream, everything else landed

    out_c = str(tmp_path / "docs_c")
    out_f = str(tmp_path / "docs_f")
    creg = SyncStateRegistry(str(tmp_path / "creg"))
    freg = SyncStateRegistry(str(tmp_path / "freg"))
    for r in pl.drain(spark, chain_dir, "c", creg, header, lines, MODEL, out_c, limit=30):
        pass
    for r in pl.drain(spark, w.log_dir, "c", freg, header, lines, MODEL, out_f, limit=30):
        pass

    import os as _os

    files_c = {f: open(_os.path.join(out_c, f)).read() for f in _os.listdir(out_c)}
    files_f = {f: open(_os.path.join(out_f, f)).read() for f in _os.listdir(out_f)}
    assert files_c == files_f and len(files_c) > 0


def test_streaming_quality_maintenance_equals_full_recompute(spark, tmp_path):
    """Stream-equals-batch for the quality-gate state: draining a
    document change feed through run_quality_maintenance ends at EXACTLY
    the (lang, q_u, cnt) histogram and per-language median report a full
    rebuild of the final corpus produces — through inserts, deletes, and
    a same-batch double-update — and replaying the last batch is a
    no-op. Zero-state check first: the report from a freshly built state
    over the sf corpus equals the batch query txt_quality_gate exactly
    (both key on the STORED lang and share one derivation function).
    Updates must MOVE histogram mass: the v3 text changes the winning
    doc's score, so decrement and increment paths are both exercised."""
    from sql_cdc_spark.queries.text_q import txt_quality_gate
    from sql_cdc_spark.streaming import quality_maintenance as QM

    corpus = tables.load(spark, SF_DIR_SMALL, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    state0 = QM.build_quality_state(corpus)
    got0 = [tuple(r) for r in QM.quality_gate_report(state0).collect()]
    want0 = [tuple(r) for r in txt_quality_gate(spark, SF_DIR_SMALL).collect()]
    assert got0 == want0 and got0

    base = corpus.orderBy("doc_id").limit(120)
    initial = QM.build_quality_state(base)
    feed = str(tmp_path / "feed")

    b1 = base.orderBy("doc_id").limit(6).select(
        (F.col("doc_id") + 700_000).alias("doc_id"), "lang", "source", "text",
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    b1.coalesce(1).write.mode("append").parquet(feed)

    dels = base.orderBy("doc_id").limit(4).select(
        "doc_id", "lang", "source",
        F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_ids = base.orderBy(F.desc("doc_id")).limit(2).select(
        "doc_id", "lang", "source", "text"
    )
    upd_v2 = upd_ids.select(
        "doc_id", "lang", "source",
        F.concat("text", F.lit(" zzzalpha zzzalpha")).alias("text"),
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_v3 = upd_ids.limit(1).select(
        "doc_id", "lang", "source",
        F.concat("text", F.lit(" the the the a a")).alias("text"),
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("change_version"),
    )
    dels.unionByName(upd_v2).unionByName(upd_v3).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    final, n_batches = QM.run_quality_maintenance(
        spark, feed, str(tmp_path / "chk"), initial,
    )
    assert n_batches >= 1

    del_ids = base.orderBy("doc_id").limit(4).select("doc_id")
    win_upd = upd_v3.select("doc_id", "lang", "source", "text").unionByName(
        upd_v2.join(upd_v3.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "text")
    )
    final_corpus = (
        base.join(del_ids, "doc_id", "left_anti")
        .join(win_upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(win_upd)
        .unionByName(b1.select("doc_id", "lang", "source", "text"))
    )
    want = QM.build_quality_state(final_corpus)
    got_hist = {(r.lang, r.q_u, r.cnt) for r in final.hist.collect()}
    want_hist = {(r.lang, r.q_u, r.cnt) for r in want.hist.collect()}
    assert got_hist == want_hist
    assert final.assign.count() == 120 - 4 + 6
    # total histogram mass == live docs (no cell leaked on update moves)
    assert sum(c for _, _, c in got_hist) == 120 - 4 + 6

    got_report = [tuple(r) for r in QM.quality_gate_report(final).collect()]
    want_report = [tuple(r) for r in QM.quality_gate_report(want).collect()]
    assert got_report == want_report and got_report

    # the updates really moved mass: the two updated docs' old cells are
    # gone or decremented (their new scores differ from the originals)
    moved = QM._doc_quality(upd_ids).collect()
    new_scores = {
        r.doc_id: r.q_u for r in QM._doc_quality(win_upd).collect()
    }
    assert any(new_scores[r.doc_id] != r.q_u for r in moved), (
        "update fixture did not change any quality score — the "
        "decrement/increment paths were not exercised"
    )

    # idempotent replay of batch 2
    b2 = dels.unionByName(upd_v2).unionByName(upd_v3)
    ups2, dels2 = QM.collapse_batch(b2)
    replay = QM.apply_quality_changes(final, ups2, dels2)
    assert {(r.lang, r.q_u, r.cnt) for r in replay.hist.collect()} == got_hist


def test_streaming_lm_maintenance_equals_full_recompute(spark, tmp_path):
    """Stream-equals-batch for the n-gram LM: draining a document change
    feed through run_lm_maintenance ends at EXACTLY the (sh64, cnt)
    census a full rebuild of the final corpus produces — and the scores
    of the final test split derived from the maintained state are
    bit-identical to scores from the rebuild. Zero-state check first:
    scoring the sf corpus's own test split from a freshly built state
    reproduces the batch query crp_ngram_lm_score exactly."""
    from sql_cdc_spark.queries.corpus_q import (
        TEST_FRAC,
        crp_ngram_lm_score,
    )
    from sql_cdc_spark.functions import sampling as SP
    from sql_cdc_spark.streaming import lm_maintenance as LM

    corpus = tables.load(spark, SF_DIR_SMALL, "documents").select(
        "doc_id", "text"
    )
    state0 = LM.build_lm_state(corpus)
    test_docs = corpus.filter(
        SP.hash_unit(F.col("doc_id"), "split") < TEST_FRAC
    )
    got0 = [tuple(r) for r in LM.score_documents(state0, test_docs).collect()]
    want0 = [
        tuple(r) for r in crp_ngram_lm_score(spark, SF_DIR_SMALL).collect()
    ]
    assert got0 == want0 and got0

    base = corpus.orderBy("doc_id").limit(120)
    initial = LM.build_lm_state(base)
    # snapshot before the drain — drain_feed releases superseded states
    base_lm = {(r.sh64, r.cnt) for r in initial.lm.collect()}
    feed = str(tmp_path / "feed")

    b1 = base.orderBy("doc_id").limit(6).select(
        (F.col("doc_id") + 700_000).alias("doc_id"), "text",
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    b1.coalesce(1).write.mode("append").parquet(feed)

    dels = base.orderBy("doc_id").limit(4).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_ids = base.orderBy(F.desc("doc_id")).limit(3).select("doc_id", "text")
    upd_v2 = upd_ids.select(
        "doc_id", F.concat("text", F.lit(" zz yy xx zz yy xx")).alias("text"),
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_v3 = upd_ids.limit(1).select(
        "doc_id", F.concat("text", F.lit(" qq ww ee")).alias("text"),
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("change_version"),
    )
    dels.unionByName(upd_v2).unionByName(upd_v3).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    final, n_batches = LM.run_lm_maintenance(
        spark, feed, str(tmp_path / "chk"), initial,
    )
    assert n_batches >= 1

    del_ids = base.orderBy("doc_id").limit(4).select("doc_id")
    win_upd = upd_v3.select("doc_id", "text").unionByName(
        upd_v2.join(upd_v3.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", "text")
    )
    final_corpus = (
        base.join(del_ids, "doc_id", "left_anti")
        .join(win_upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(win_upd)
        .unionByName(b1.select("doc_id", "text"))
    )
    want = LM.build_lm_state(final_corpus)
    got_lm = {(r.sh64, r.cnt) for r in final.lm.collect()}
    want_lm = {(r.sh64, r.cnt) for r in want.lm.collect()}
    assert got_lm == want_lm

    # the batches actually touched the model (some changed doc is train)
    assert got_lm != base_lm, (
        "change fixture never hit the train split — maintenance vacuous"
    )

    final_test = final_corpus.filter(
        SP.hash_unit(F.col("doc_id"), "split") < TEST_FRAC
    )
    got_scores = [
        tuple(r) for r in LM.score_documents(final, final_test).collect()
    ]
    want_scores = [
        tuple(r) for r in LM.score_documents(want, final_test).collect()
    ]
    assert got_scores == want_scores and got_scores

    # idempotent replay of batch 2
    b2 = dels.unionByName(upd_v2).unionByName(upd_v3)
    ups2, dels2 = LM.collapse_batch(b2)
    replay = LM.apply_lm_changes(final, ups2, dels2)
    assert {(r.sh64, r.cnt) for r in replay.lm.collect()} == got_lm


def test_collapse_latest_same_version_tie_deterministic(spark):
    """A key whose update and delete share one change_version (an
    at-least-once source duplicating across a race) must route the SAME
    way on every execution — the ordering key includes op and payload,
    so 'U' > 'D' wins deterministically and replay cannot diverge."""
    from sql_cdc_spark.streaming import feed as FEED

    rows = [(7, "U", 5, "newer"), (7, "D", 5, None), (8, "D", 3, None)]
    for _ in range(3):
        batch = spark.createDataFrame(
            rows, "doc_id long, op string, change_version long, payload string"
        )
        ups, dels = FEED.collapse_latest(batch, "doc_id", "payload")
        assert [(r.doc_id, r.payload) for r in ups.collect()] == [(7, "newer")]
        assert [r.doc_id for r in dels.collect()] == [8]


def test_drain_feed_timeout_raises_not_partial(spark, tmp_path):
    """A drain that cannot finish within timeout_s must STOP and raise —
    returning a partial state while the stream keeps mutating (and
    releasing!) it is a correctness hazard, not a soft degradation."""
    from sql_cdc_spark.streaming import feed as FEED

    fdir = str(tmp_path / "feed")
    spark.createDataFrame([(1, "I", 1)], "k long, op string, v long")\
        .coalesce(1).write.mode("append").parquet(fdir)
    with pytest.raises(TimeoutError, match="resumes the drain"):
        FEED.drain_feed(
            spark, fdir, "k long, op string, v long",
            str(tmp_path / "chk"), None,
            lambda prev, b, i: prev, lambda s: None, timeout_s=0.05,
        )


def test_scd2_intra_batch_redelivery_is_noop(spark):
    """The watermark only guards CROSS-batch replay; rows duplicated
    INSIDE one micro-batch (writer retry, duplicated extract in one
    trigger) must collapse before the merge — history equals the
    clean-batch history exactly."""
    from sql_cdc_spark.streaming import scd2_maintenance as S2

    base = spark.createDataFrame(
        [(1, 10, "I", 1), (2, 20, "I", 2)], S2.SCD2_CHANGE_SCHEMA
    )
    clean = [(1, 11, "U", 3), (2, 21, "U", 4), (1, 12, "U", 5)]
    dup = clean + [(1, 11, "U", 3), (2, 21, "U", 4)]  # intra-batch replay

    def _hist(batch_rows):
        st = S2.build_scd2_state(base)
        batch = spark.createDataFrame(batch_rows, S2.SCD2_CHANGE_SCHEMA)
        nxt = S2.apply_scd2_batch(st, batch)
        cols = sorted(nxt.history.columns)
        return sorted(tuple(r[c] for c in cols) for r in nxt.history.collect())

    assert _hist(dup) == _hist(clean)


def test_streaming_dsir_maintenance_equals_full_recompute(spark, tmp_path):
    """Stream-equals-batch for the DSIR censuses: draining a document
    change feed ends at EXACTLY the (raw, tgt) censuses a full rebuild
    of the final corpus produces, and the maintained-state selection is
    bit-identical to the rebuild's. Zero-state check first: select_top
    over a fresh build reproduces the batch query crp_dsir_select
    exactly. The change fixture engineers a QUALITY FLIP — a target doc
    edited into a low-quality one — the case where membership moves
    between censuses (impossible in the LM twin, whose split is a
    doc_id hash)."""
    from sql_cdc_spark.functions import text as TX
    from sql_cdc_spark.queries.corpus_q import MIN_QUALITY, crp_dsir_select
    from sql_cdc_spark.streaming import dsir_maintenance as DM

    corpus = tables.load(spark, SF_DIR_SMALL, "documents").select(
        "doc_id", "text"
    )
    state0 = DM.build_dsir_state(corpus)
    got0 = [tuple(r) for r in DM.select_top(state0).collect()]
    want0 = [tuple(r) for r in crp_dsir_select(spark, SF_DIR_SMALL).collect()]
    assert got0 == want0 and got0

    base = corpus.orderBy("doc_id").limit(120)
    initial = DM.build_dsir_state(base)
    feed = str(tmp_path / "feed")

    # batch 1: inserts (cloned docs under new ids)
    b1 = base.orderBy("doc_id").limit(5).select(
        (F.col("doc_id") + 800_000).alias("doc_id"), "text",
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    b1.coalesce(1).write.mode("append").parquet(feed)

    # batch 2: deletes + a quality FLIP (a target doc rewritten to junk)
    flip_id_row = (
        base.withColumn("q", TX.quality_score(F.col("text")))
        .filter(F.col("q") >= MIN_QUALITY)
        .orderBy("doc_id")
        .limit(1)
        .collect()
    )
    assert flip_id_row, "fixture needs at least one target doc"
    flip_id = flip_id_row[0].doc_id
    dels = base.orderBy(F.desc("doc_id")).limit(3).select(
        "doc_id", F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    flip = spark.createDataFrame(
        [(flip_id, "zz", "U", 2)], DM.CHANGE_SCHEMA
    )
    dels.unionByName(flip).coalesce(1).write.mode("append").parquet(feed)

    final, n_batches = DM.run_dsir_maintenance(
        spark, feed, str(tmp_path / "chk"), initial,
    )
    assert n_batches >= 1

    # the flip really moved membership
    flags = {
        r.doc_id: r.is_tgt
        for r in final.dg.select("doc_id", "is_tgt").distinct().collect()
    }
    assert flags[flip_id] is False, "engineered quality flip did not fire"

    del_ids = base.orderBy(F.desc("doc_id")).limit(3).select("doc_id")
    final_corpus = (
        base.join(del_ids, "doc_id", "left_anti")
        .filter(F.col("doc_id") != flip_id)
        .unionByName(spark.createDataFrame([(flip_id, "zz")], "doc_id long, text string"))
        .unionByName(b1.select("doc_id", "text"))
    )
    want = DM.build_dsir_state(final_corpus)
    for got_df, want_df, cols in (
        (final.raw, want.raw, ("sh64", "raw_cnt")),
        (final.tgt, want.tgt, ("sh64", "tgt_cnt")),
    ):
        got = {tuple(r[c] for c in cols) for r in got_df.collect()}
        wnt = {tuple(r[c] for c in cols) for r in want_df.collect()}
        assert got == wnt

    got_sel = [tuple(r) for r in DM.select_top(final).collect()]
    want_sel = [tuple(r) for r in DM.select_top(want).collect()]
    assert got_sel == want_sel and got_sel

    # idempotent replay of batch 2
    b2 = dels.unionByName(flip)
    ups2, dels2 = DM.collapse_batch(b2)
    replay = DM.apply_dsir_changes(final, ups2, dels2)
    got_raw = {(r.sh64, r.raw_cnt) for r in replay.raw.collect()}
    assert got_raw == {(r.sh64, r.raw_cnt) for r in final.raw.collect()}


def test_streaming_semdedup_maintenance_equals_full_recompute(spark, tmp_path):
    """Stream-equals-batch for the SemDeDup election: draining an
    embedding change feed ends at EXACTLY the (vb, dropped) tables a
    full rebuild of the final corpus produces. The fixture engineers the
    RESURRECTION case — deleting a keeper must un-drop or re-home the
    mates it was keeper for — and a bucket MOVE (an embedding update
    that relocates a vector), the two cases row-level patching misses."""
    from sql_cdc_spark.streaming import semdedup_maintenance as SD

    emb = tables.load(spark, SF_DIR_SMALL, "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.orderBy("vec_id").limit(60)
    initial = SD.build_semdedup_state(base)

    feed = str(tmp_path / "feed")
    # batch 1: EXACT clones of three base vectors under new ids — same
    # bucket by construction, cosine 1.0 ≥ τ, so drops must appear with
    # the base vector as keeper
    clones = base.orderBy("vec_id").limit(3).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding",
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    clones.coalesce(1).write.mode("append").parquet(feed)

    # batch 2: delete one keeper (resurrection: its clone re-elects) and
    # MOVE one base vector into another's bucket by replacing its
    # embedding with a fourth vector's (exact clone → new drop there)
    rows = base.orderBy("vec_id").limit(5).collect()
    keeper_id = rows[0].vec_id
    mover_id, donor = rows[3].vec_id, rows[4]
    b2 = spark.createDataFrame(
        [
            (keeper_id, None, "D", 2),
            (mover_id, donor.embedding, "U", 3),
        ],
        SD.CHANGE_SCHEMA,
    )
    b2.coalesce(1).write.mode("append").parquet(feed)

    final, n_batches = SD.run_semdedup_maintenance(
        spark, feed, str(tmp_path / "chk"), initial,
    )
    assert n_batches >= 1

    final_corpus = (
        base.filter(~F.col("vec_id").isin(keeper_id, mover_id))
        .unionByName(
            spark.createDataFrame(
                [(mover_id, donor.embedding)],
                "vec_id long, embedding array<float>",
            )
        )
        .unionByName(clones.select("vec_id", "embedding"))
    )
    want = SD.build_semdedup_state(final_corpus)

    def _drops(st):
        return {
            (r.vec_id, r.keeper_id, r.cos_sim, r.bucket)
            for r in st.dropped.collect()
        }

    got, wnt = _drops(final), _drops(want)
    assert got == wnt and got, "election diverged from full rebuild"
    # non-vacuity of the engineered cases: the deleted keeper appears in
    # NO final row (neither side), and the mover's clone pair fired
    assert all(keeper_id not in (v, k) for (v, k, _, _) in got)
    assert any(
        {v, k} == {mover_id, donor.vec_id} for (v, k, _, _) in got
    ), "bucket-move clone pair did not fire"
    vb_got = {(r.vec_id, r.bucket) for r in final.vb.collect()}
    vb_wnt = {(r.vec_id, r.bucket) for r in want.vb.collect()}
    assert vb_got == vb_wnt

    # idempotent replay of batch 2
    ups2, dels2 = SD.collapse_batch(b2)
    replay = SD.apply_semdedup_changes(final, ups2, dels2)
    assert _drops(replay) == got


def test_streaming_passage_maintenance_equals_full_recompute(spark, tmp_path):
    """Stream-equals-batch for the duplicated-passage census: the state
    built from the full documents table serves EXACTLY the registered
    txt_dup_passage_census rows; draining a change feed (inserts incl. a
    planted cross-source duplicate, deletes, a same-batch double-update)
    ends at exactly the census a full rebuild of the final corpus
    produces; replaying the last batch is a no-op."""
    from sql_cdc_spark.queries.text_q import txt_dup_passage_census
    from sql_cdc_spark.streaming import passage_maintenance as PM

    full = tables.load(spark, SF_DIR_SMALL, "documents").select(
        "doc_id", "source", "text"
    )
    state0 = PM.build_passage_state(full)
    assert [tuple(r) for r in PM.dup_passage_census(state0).collect()] == [
        tuple(r) for r in txt_dup_passage_census(spark, SF_DIR_SMALL).collect()
    ]
    state0.release()

    base = full.orderBy("doc_id").limit(120)
    initial = PM.build_passage_state(base)
    feed = str(tmp_path / "feed")

    # batch 1: inserts — 5 fresh docs plus ONE exact copy of an existing
    # doc under a DIFFERENT source (its passages become corpus-duplicated
    # in both sources, which only the corpus-wide counts can see). The
    # donor is the 4th doc: it survives batch 2's delete of the first 3
    # and sits outside the update set, so both copies stay live.
    donor = base.orderBy("doc_id").limit(4).orderBy(F.desc("doc_id")).limit(1)
    b1 = (
        base.orderBy("doc_id").limit(5)
        .select(
            (F.col("doc_id") + 700_000).alias("doc_id"),
            F.lit(None).cast("string").alias("lang"),
            "source", "text",
            F.lit("I").alias("op"),
            F.lit(1).cast("long").alias("change_version"),
        )
        .unionByName(
            donor.select(
                (F.col("doc_id") + 800_000).alias("doc_id"),
                F.lit(None).cast("string").alias("lang"),
                F.lit("planted_twin").alias("source"), "text",
                F.lit("I").alias("op"),
                F.lit(1).cast("long").alias("change_version"),
            )
        )
    )
    b1.coalesce(1).write.mode("append").parquet(feed)

    # batch 2: deletes + a double-update (v3 must win over v2)
    dels = base.orderBy("doc_id").limit(3).select(
        "doc_id",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("source"),
        F.lit(None).cast("string").alias("text"),
        F.lit("D").alias("op"),
        F.lit(2).cast("long").alias("change_version"),
    )
    upd_ids = base.orderBy(F.desc("doc_id")).limit(2).select(
        "doc_id", "source", "text"
    )
    filler = " ".join(["zz"] * (2 * 8))  # two full passages of filler
    upd_v2 = upd_ids.select(
        "doc_id", F.lit(None).cast("string").alias("lang"), "source",
        F.concat("text", F.lit(" " + filler)).alias("text"),
        F.lit("U").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    upd_v3 = upd_ids.limit(1).select(
        "doc_id", F.lit(None).cast("string").alias("lang"), "source",
        F.concat("text", F.lit(" " + filler + " yy")).alias("text"),
        F.lit("U").alias("op"), F.lit(3).cast("long").alias("change_version"),
    )
    dels.unionByName(upd_v2).unionByName(upd_v3).coalesce(1).write.mode(
        "append"
    ).parquet(feed)

    final, n_batches = PM.run_passage_maintenance(
        spark, feed, str(tmp_path / "chk"), initial,
    )
    assert n_batches >= 1

    del_ids = dels.select("doc_id")
    win_upd = upd_v3.select("doc_id", "source", "text").unionByName(
        upd_v2.join(upd_v3.select("doc_id"), "doc_id", "left_anti")
        .select("doc_id", "source", "text")
    )
    final_corpus = (
        base.join(del_ids, "doc_id", "left_anti")
        .join(win_upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(win_upd)
        .unionByName(b1.select("doc_id", "source", "text"))
    )
    want_state = PM.build_passage_state(final_corpus)
    got = [tuple(r) for r in PM.dup_passage_census(final).collect()]
    want = [tuple(r) for r in PM.dup_passage_census(want_state).collect()]
    assert got == want
    # the planted twin source is fully duplicated mass
    twin = next(r for r in got if r[0] == "planted_twin")
    assert twin[1] > 0 and twin[1] == twin[2] and twin[3] == 1_000_000

    # idempotent replay of batch 2
    b2 = dels.unionByName(upd_v2).unionByName(upd_v3)
    ups2, dels2 = PM.collapse_batch(b2)
    replay = PM.apply_passage_changes(final, ups2, dels2)
    assert [
        tuple(r) for r in PM.dup_passage_census(replay).collect()
    ] == got


def test_streaming_knn_maintenance_equals_full_recompute(spark, tmp_path):
    """Stream-equals-batch for the k-NN graph: the state built from the
    full embeddings table holds EXACTLY the registered sim_knn_join_arrow
    rows; draining an embedding change feed ends at exactly the top-1
    table a full rebuild of the final corpus produces. The fixture
    engineers the two cases row-level patching misses: deleting a
    vector that IS someone's nearest neighbor (the mate must re-elect
    its second choice) and inserting an exact clone (which must displace
    best rows throughout its bucket at cosine 1.0). The served mutual
    edge set matches the fold over the rebuilt table; replaying the last
    batch is a no-op."""
    from sql_cdc_spark.queries.similarity_q import sim_knn_join_arrow
    from sql_cdc_spark.streaming import knn_maintenance as KM

    emb = tables.load(spark, SF_DIR_SMALL, "embeddings").select(
        "vec_id", "embedding"
    )
    state0 = KM.build_knn_state(emb)
    assert {
        (r.vec_id, r.nn_id, r.cos_sim) for r in state0.best.collect()
    } == {tuple(r) for r in sim_knn_join_arrow(spark, SF_DIR_SMALL).collect()}
    state0.release()

    base = emb.orderBy("vec_id").limit(80)
    initial = KM.build_knn_state(base)
    # a vector that is someone's nearest neighbor — deleting it forces
    # a second-choice re-election for every mate that pointed at it
    popular = initial.best.groupBy("nn_id").count().orderBy(
        F.desc("count"), "nn_id"
    ).first().nn_id

    feed = str(tmp_path / "feed")
    # batch 1: exact clones of two vectors (same bucket, cosine 1.0 —
    # they must become their originals' nearest neighbors)
    clones = base.filter(~F.col("vec_id").isin(int(popular))).orderBy(
        "vec_id"
    ).limit(2).select(
        (F.col("vec_id") + 900_000).alias("vec_id"), "embedding",
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    clones.coalesce(1).write.mode("append").parquet(feed)

    # batch 2: delete the popular neighbor + a same-batch double-update
    # (v3 must win) that moves a vector onto a donor's embedding
    rows = base.orderBy(F.desc("vec_id")).limit(3).collect()
    mover_id, donor = rows[0].vec_id, rows[2]
    b2 = spark.createDataFrame(
        [
            (int(popular), None, "D", 2),
            (mover_id, rows[1].embedding, "U", 2),
            (mover_id, donor.embedding, "U", 3),
        ],
        KM.CHANGE_SCHEMA,
    )
    b2.coalesce(1).write.mode("append").parquet(feed)

    final, n_batches = KM.run_knn_maintenance(
        spark, feed, str(tmp_path / "chk"), initial,
    )
    assert n_batches >= 1

    final_corpus = (
        base.filter(~F.col("vec_id").isin(int(popular), int(mover_id)))
        .unionByName(
            spark.createDataFrame(
                [(mover_id, donor.embedding)],
                "vec_id long, embedding array<float>",
            )
        )
        .unionByName(clones.select("vec_id", "embedding"))
    )
    want = KM.build_knn_state(final_corpus)

    def rows_of(st):
        return {
            (r.vec_id, r.nn_id, r.cos_sim, r.bucket)
            for r in st.best.collect()
        }

    got, wnt = rows_of(final), rows_of(want)
    assert got == wnt and got, "knn graph diverged from full rebuild"
    # non-vacuity: the deleted popular vector appears in NO final row,
    # its former mates re-elected (they still have a best row or their
    # bucket emptied), and each clone pair fired at cosine 1.0
    assert all(popular not in (v, n) for (v, n, _, _) in got)
    for r in clones.collect():
        orig = r.vec_id - 900_000
        assert any(
            {v, n} == {orig, r.vec_id} and c == 1.0
            for (v, n, c, _) in got
        ), "clone did not displace its original's best row"
    mut_got = {tuple(r) for r in KM.mutual_edges_from_state(final).collect()}
    mut_wnt = {tuple(r) for r in KM.mutual_edges_from_state(want).collect()}
    assert mut_got == mut_wnt

    # idempotent replay of batch 2
    ups2, dels2 = KM.collapse_batch(b2)
    replay = KM.apply_knn_changes(final, ups2, dels2)
    assert rows_of(replay) == got


def test_incremental_graph_analytics_end_to_end(spark, tmp_path):
    """Composed capstone for the graph family: an embedding change feed
    drives the maintained k-NN state, and the FULL PageRank run over
    mutual edges served from that state equals the batch path
    (knn_join_arrow on the final corpus → the same fold → the same
    loop) node-for-node.
    The RAG-index analog for graph analytics: no batch recompute of the
    neighbor table anywhere on the streaming side."""
    from sql_cdc_spark.operators.iterative import pagerank
    from sql_cdc_spark.queries.similarity_q import (
        knn_join_arrow,
        undirected_edges,
    )
    from sql_cdc_spark.streaming import knn_maintenance as KM

    emb = tables.load(spark, SF_DIR_SMALL, "embeddings").select(
        "vec_id", "embedding"
    )
    base = emb.orderBy("vec_id").limit(70)
    initial = KM.build_knn_state(base)

    feed = str(tmp_path / "feed")
    b1 = base.orderBy("vec_id").limit(4).select(
        (F.col("vec_id") + 950_000).alias("vec_id"), "embedding",
        F.lit("I").alias("op"), F.lit(1).cast("long").alias("change_version"),
    )
    b1.coalesce(1).write.mode("append").parquet(feed)
    gone = base.orderBy(F.desc("vec_id")).limit(2).select(
        "vec_id",
        F.lit(None).cast("array<float>").alias("embedding"),
        F.lit("D").alias("op"), F.lit(2).cast("long").alias("change_version"),
    )
    gone.coalesce(1).write.mode("append").parquet(feed)

    final, _ = KM.run_knn_maintenance(spark, feed, str(tmp_path / "chk"), initial)

    final_corpus = (
        base.join(gone.select("vec_id"), "vec_id", "left_anti")
        .unionByName(b1.select("vec_id", "embedding"))
    )
    edges_stream = KM.mutual_edges_from_state(final).select("id_a", "id_b")
    edges_batch = (
        undirected_edges(knn_join_arrow(final_corpus))
        .filter(F.col("__n") == 2)
        .select("id_a", "id_b")
    )
    got = {
        r.node: (r.degree, r.rank_ppm)
        for r in pagerank(edges_stream, max_iters=5).collect()
    }
    want = {
        r.node: (r.degree, r.rank_ppm)
        for r in pagerank(edges_batch, max_iters=5).collect()
    }
    assert got == want and got
