"""Fault injection at every step boundary of ``pipeline.pull_batch``
(core tier): the sink dying part-way, the cursor advance failing after a
complete sink, and the registry's state-file rename failing. Each failure
must leave the cursor's state file intact, no stray ``.tmp`` file and no
persisted RDD behind, and the retry must deliver exactly what a clean run
does — a replayable source plus an idempotent sink.

Failures are injected by patching attributes in the driver process; the
per-document writes run in Python workers, out of reach of such a patch,
so the sink is wrapped at ``pipeline._per_record_sink``, the lazy sink
whose counts the pull's one action collects: the wrapper writes two of
the batch's documents and then raises in the driver, before that action
runs."""

import json
import os

import pytest

from sql_cdc_spark import tables
from sql_cdc_spark.streaming import changelog as cl
from sql_cdc_spark.streaming import pipeline as pl
from sql_cdc_spark.streaming import registry as REG
from tests.conftest import MODEL, SF_DIR_SMALL


@pytest.fixture(scope="module")
def feed(spark, tmp_path_factory):
    """(header, lines, log_dir) with 8 invoices: header changes, a
    line-only change and a version tie."""
    header = tables.load(spark, SF_DIR_SMALL, "orders")
    lines = tables.load(spark, SF_DIR_SMALL, "lineitem")
    keys = [r[0] for r in header.select("o_orderkey").orderBy("o_orderkey").take(8)]
    w = cl.ChangeLogWriter(spark, str(tmp_path_factory.mktemp("faults") / "log"))
    w.append([(cl.HEADER_TABLE, k, "I") for k in keys[:5]])
    w.append([(cl.LINE_TABLE, keys[5] * 8 + 1, "U"), (cl.HEADER_TABLE, keys[0], "U")])
    w.append_with_ties([(cl.HEADER_TABLE, k, "U") for k in keys[5:]])
    return header, lines, w.log_dir


def _pull(spark, feed, root):
    """One pull of the whole log; returns (result, delivered files,
    cursor as stored in the consumer's state file)."""
    header, lines, log_dir = feed
    reg = REG.SyncStateRegistry(str(root / "state"))
    res = pl.pull_batch(
        spark, log_dir, "c", reg, header, lines, MODEL, str(root / "docs")
    )
    return res, *_delivered(root)


def _delivered(root):
    with open(root / "state" / "c.json") as f:
        state = json.load(f)
    docs = root / "docs"
    return (
        set(os.listdir(docs)) if docs.is_dir() else set(),
        (state["last_sync_version"], state["last_processed_id"]),
    )


@pytest.fixture(scope="module")
def clean(spark, feed, tmp_path_factory):
    """(files, cursor) of an undisturbed pull."""
    res, *clean = _pull(spark, feed, tmp_path_factory.mktemp("clean"))
    assert not res.has_more and res.processed == 8
    return clean


def _persisted(spark):
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _raise(*args, **kwargs):
    raise OSError("injected failure")


def _sink_dies_after_two_files(monkeypatch):
    sink = pl._per_record_sink

    def _dies(docs, out_dir, error_dir, write_one):
        sink(docs.orderBy("doc_filename").limit(2), out_dir, error_dir, write_one).collect()
        _raise()

    monkeypatch.setattr(pl, "_per_record_sink", _dies)


@pytest.mark.parametrize(
    "inject, n_partial",
    [
        (_sink_dies_after_two_files, 2),
        (lambda mp: mp.setattr(REG.SyncStateRegistry, "advance", _raise), 8),
        (lambda mp: mp.setattr(REG.os, "replace", _raise), 8),
    ],
    ids=["sink_dies_after_two_files", "cursor_advance_fails", "state_rename_fails"],
)
def test_pull_fault_leaves_cursor_and_retry_matches_clean(
    spark, feed, clean, tmp_path, monkeypatch, inject, n_partial
):
    REG.SyncStateRegistry(str(tmp_path / "state")).read("c")  # file at (0, 0)
    cached = _persisted(spark)
    inject(monkeypatch)
    with pytest.raises(OSError, match="injected failure"):
        _pull(spark, feed, tmp_path)
    monkeypatch.undo()

    files, cursor = _delivered(tmp_path)
    assert cursor == (0, 0)
    assert len(files) == n_partial and files <= clean[0]
    for d in ("docs", "state"):
        assert not [f for f in os.listdir(tmp_path / d) if f.endswith(".tmp")]
    assert _persisted(spark) == cached

    # the retry rewrites the partial files under the same names
    res, *retried = _pull(spark, feed, tmp_path)
    assert res.processed == 8 and retried == clean
