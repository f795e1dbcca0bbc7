"""What one ``pipeline.pull_batch`` reads and launches, and the semantics
that shape rests on (core tier):

- a warm pull over a flat log reads the same number of log rows, and
  launches at most ``MAX_JOBS_PER_PULL`` Spark jobs, whether the log holds
  10 files or 40: its cost follows the changes since the cursor, not the
  length of the log;
- the pull's listing of the log is its snapshot: a change file appended
  while the pull runs is neither delivered nor skipped by it, and the
  next pull delivers it;
- line→invoice recovery is an inner join: a line change whose line is
  absent from the base line table recovers no invoice, raises nothing
  and does not stall ``drain``.

Rows and jobs are read from Spark's own status stores (populated with the
UI disabled): every job of the pull carries one job group, and each SQL
execution's scan nodes report their output rows."""

import os
import uuid

from sql_cdc_spark import tables
from sql_cdc_spark.streaming import changelog as cl
from sql_cdc_spark.streaming import pipeline as pl
from sql_cdc_spark.streaming import registry as REG
from tests.conftest import MODEL, SF_DIR_SMALL

MAX_JOBS_PER_PULL = 10
ROWS_PER_FILE = 5
DELTA = 20


def _jlist(spark, seq) -> list:
    return list(spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _accounted(spark, run):
    """Run ``run()`` under a fresh job group; returns (its result, jobs it
    launched, rows output by its scans of the change log). A log scan is
    told apart by its output columns: the plan string truncates paths."""
    sc = spark.sparkContext
    group = f"pull-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "pull")
    try:
        res = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = {
        j.jobId()
        for j in _jlist(spark, jsc.statusStore().jobsList(None))
        if j.jobGroup().isDefined() and j.jobGroup().get() == group
    }
    sql = spark._jsparkSession.sharedState().statusStore()
    rows = 0
    for ex in _jlist(spark, sql.executionsList()):
        if not jobs & {int(j) for j in _jlist(spark, ex.jobs().keys().toSeq())}:
            continue
        metrics = sql.executionMetrics(ex.executionId())
        for node in _jlist(spark, sql.planGraph(ex.executionId()).allNodes()):
            if not node.name().startswith("Scan ") or "change_version#" not in node.desc():
                continue
            for m in _jlist(spark, node.metrics()):
                v = metrics.get(m.accumulatorId())
                if m.name() == "number of output rows" and v.isDefined():
                    rows += int(str(v.get()).replace(",", ""))
    return res, len(jobs), rows


def _base(spark):
    header = tables.load(spark, SF_DIR_SMALL, "orders")
    lines = tables.load(spark, SF_DIR_SMALL, "lineitem")
    # invoices with a header row and a line 1, so a change to either
    # yields a document
    keys = [
        r[0]
        for r in header.join(
            lines.where("l_linenumber = 1"),
            header.o_orderkey == lines.l_orderkey,
            "left_semi",
        )
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .take(DELTA)
    ]
    return header, lines, keys


def _flat_log(spark, log_dir, n_files):
    """A flat log of ``n_files`` files with disjoint version ranges, each
    holding ROWS_PER_FILE header changes. Returns its high watermark."""
    n = n_files * ROWS_PER_FILE
    spark.range(1, n + 1).selectExpr(
        f"'{cl.HEADER_TABLE}' AS table_name",
        "id AS key_id",
        "id AS change_version",
        "'U' AS op",
        "current_timestamp() AS ts",
    ).repartitionByRange(n_files, "change_version").write.parquet(log_dir)
    return n


def test_pull_reads_and_launches_the_same_at_any_log_length(spark, tmp_path):
    header, lines, keys = _base(spark)
    seen = []
    for n_files in (10, 40):
        root = tmp_path / f"log{n_files}"
        log_dir = str(root / "log")
        hw = _flat_log(spark, log_dir, n_files)
        reg = REG.SyncStateRegistry(str(root / "state"))
        reg.advance("c", hw, hw)  # the history is consumed
        out = str(root / "docs")
        pl.pull_batch(spark, log_dir, "c", reg, header, lines, MODEL, out)  # warm, empty
        w = cl.ChangeLogWriter(spark, log_dir)
        w.version = hw
        w.append(
            [(cl.HEADER_TABLE, k, "U") for k in keys[: DELTA // 2]]
            + [(cl.LINE_TABLE, k * 8 + 1, "U") for k in keys[DELTA // 2 :]]
        )
        res, jobs, rows = _accounted(
            spark,
            lambda: pl.pull_batch(spark, log_dir, "c", reg, header, lines, MODEL, out),
        )
        assert res.processed == DELTA and res.to_version == hw + DELTA
        assert jobs <= MAX_JOBS_PER_PULL, f"{n_files} files: {jobs} jobs"
        seen.append(rows)
    # the cursor's own file (inclusive re-read) and the delta's, per scan
    assert seen[0] == seen[1] and seen[0] > 0, seen


def test_file_appended_during_pull_waits_for_next_pull(spark, tmp_path, monkeypatch):
    header, lines, keys = _base(spark)
    w = cl.ChangeLogWriter(spark, str(tmp_path / "log"))
    hw = w.append([(cl.HEADER_TABLE, k, "I") for k in keys[:5]])
    reg = REG.SyncStateRegistry(str(tmp_path / "state"))
    out = str(tmp_path / "docs")
    late_key = keys[5]
    sink = pl._per_record_sink

    def _append_then_sink(*args):
        # the pull has listed the log and built its plan; its action
        # has not run yet
        w.append([(cl.HEADER_TABLE, late_key, "U")])
        return sink(*args)

    monkeypatch.setattr(pl, "_per_record_sink", _append_then_sink)
    res = pl.pull_batch(spark, w.log_dir, "c", reg, header, lines, MODEL, out)
    monkeypatch.undo()
    late_doc = f"{late_key}_v{hw + 1}.json"
    assert res.processed == 5 and res.to_version == hw
    assert late_doc not in set(_files(out))
    assert reg.read("c").last_sync_version == hw  # not skipped past it

    res = pl.pull_batch(spark, w.log_dir, "c", reg, header, lines, MODEL, out)
    assert res.processed == 1 and late_doc in set(_files(out))
    assert reg.read("c").last_sync_version == hw + 1


def test_line_change_without_base_line_recovers_nothing(spark, tmp_path):
    header, lines, keys = _base(spark)
    orphan_line = (10 * max(keys) + 7) * 8 + 1  # no such order, so no such line
    assert lines.where(f"l_orderkey * 8 + l_linenumber = {orphan_line}").count() == 0
    w = cl.ChangeLogWriter(spark, str(tmp_path / "log"))
    w.append(
        [
            (cl.HEADER_TABLE, keys[0], "U"),
            (cl.LINE_TABLE, orphan_line, "U"),
            (cl.HEADER_TABLE, keys[1], "U"),
        ]
    )
    reg = REG.SyncStateRegistry(str(tmp_path / "state"))
    out = str(tmp_path / "docs")
    results = pl.drain(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=1)
    assert [r.processed for r in results] == [1, 1, 0]
    assert sorted(_files(out)) == sorted([f"{keys[0]}_v1.json", f"{keys[1]}_v3.json"])
    assert reg.read("c").last_sync_version == 3

    # a log tail of orphan line changes alone: an empty batch, no advance
    w.append([(cl.LINE_TABLE, orphan_line, "U")])
    results = pl.drain(spark, w.log_dir, "c", reg, header, lines, MODEL, out, limit=1)
    assert [(r.processed, r.has_more) for r in results] == [(0, False)]
    assert reg.read("c").last_sync_version == 3


def _files(out):
    return [f for f in os.listdir(out) if f.endswith(".json")]
