"""Self-tests for the benchmark's metric code.

    python -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import datagen, stats, trace  # noqa: E402


def test_percentile_needs_ten_samples_beyond():
    assert not stats.supported_percentile(90, 99)
    assert stats.supported_percentile(90, 100)
    assert not stats.supported_percentile(50, 19)
    assert stats.supported_percentile(50, 20)
    with pytest.raises(ValueError):
        stats.percentile(list(range(99)), 90)
    assert stats.percentile([float(i) for i in range(1, 101)], 90) == 90.0
    assert stats.percentile([float(i) for i in range(1, 21)], 50) == 10.0


def test_quartiles_match_statistics_and_drift():
    values = [10.0, 11.0, 12.0, 13.0, 14.0]
    q1, q2, q3 = stats.quartiles(values)
    assert (q1, q2, q3) == (10.5, 12.0, 13.5)
    assert stats.spread(values) == pytest.approx(3.0 / 12.0)
    assert stats.drift([5.0, 5.0, 5.0, 5.0]) == 0.0
    assert stats.drift([10.0, 11.0, 12.0]) == pytest.approx(2.0 / 11.0)


def test_doc_names():
    assert stats.parse_doc_name("42_v7.json") == (42, 7)
    assert stats.parse_doc_name(".42_v7.json.tmp") is None
    assert stats.parse_doc_name("x_v7.json") is None
    assert stats.parse_doc_name("42_v7.bson") is None


def _doc(d, inv, ver, mtime_ns):
    p = os.path.join(d, f"{inv}_v{ver}.json")
    with open(p, "w") as f:
        f.write("{}")
    os.utime(p, ns=(mtime_ns, mtime_ns))


def test_freshness_from_names_and_mtimes(tmp_path):
    d = str(tmp_path)
    s = 1_000_000_000
    _doc(d, 1, 5, 3 * s)
    _doc(d, 1, 9, 7 * s)
    _doc(d, 2, 4, 4 * s)
    with open(os.path.join(d, ".3_v1.json.tmp"), "w") as f:
        f.write("partial")
    index = stats.DocIndex(d)
    assert (index.docs, index.tmp_files) == (3, 1)
    changes = [
        datagen.Change(1, 5, 1 * s),  # covered by v5, written at 3 s
        datagen.Change(1, 6, 2 * s),  # first doc at a version >= 6 is v9, at 7 s
        datagen.Change(2, 4, 4 * s),  # same instant
        datagen.Change(2, 5, 4 * s),  # nothing at v5 or later: undelivered
        datagen.Change(3, 1, 0),  # only a .tmp: undelivered
    ]
    fresh, missing = stats.freshness_ms(index, changes)
    assert fresh == [2000.0, 5000.0, 0.0]
    assert missing == 2


def test_freshness_takes_earliest_mtime_at_or_after_version(tmp_path):
    d = str(tmp_path)
    s = 1_000_000_000
    _doc(d, 1, 9, 3 * s)  # a later version landed first
    _doc(d, 1, 6, 5 * s)
    fresh, missing = stats.freshness_ms(stats.DocIndex(d), [datagen.Change(1, 6, 0)])
    assert (fresh, missing) == ([3000.0], 0)


def test_span_self_time_sums_to_root():
    S = trace.Span
    root = S(1, "pull", 1, None, 0.0, 10.0)
    a = S(2, "read", 1, 1, 1.0, 2.0)
    b = S(3, "sink", 1, 1, 4.0, 9.0)
    b1 = S(4, "inner", 1, 3, 5.0, 6.0)
    b2 = S(5, "inner", 1, 3, 5.5, 7.0)  # overlaps b1: covered once
    own = trace.self_ms([root, a, b, b1, b2])
    assert own[1] == pytest.approx(4000.0)
    assert own[3] == pytest.approx(3000.0)
    assert own[4] == pytest.approx(1000.0)
    assert sum(own[k] for k in (1, 2, 3, 4)) + own[5] - 500.0 == pytest.approx(root.ms)


def test_tracer_wrap_records_nesting_and_unwraps():
    class Reg:
        def read(self):
            return "r"

        def advance(self):
            return self.read() + "a"

    reg = Reg()
    t = trace.Tracer()
    t.wrap(reg, "read", "registry.read", lambda: 7)
    t.wrap(reg, "advance", "registry.advance", lambda: 7)
    with t.span("pull", 7) as root:
        assert reg.advance() == "ra"
    names = {s.name: s for s in t.tree(root)}
    assert set(names) == {"pull", "registry.advance", "registry.read"}
    assert names["registry.read"].parent == names["registry.advance"].span_id
    t.enabled = False
    assert reg.read() == "r" and len(t.spans) == 3
    t.unwrap_all()
    assert "read" not in reg.__dict__ and "advance" not in reg.__dict__


def test_generator_ticks_are_seeded_and_mixed(tmp_path):
    tables = datagen.Tables(str(tmp_path), *_tiny_lines())
    g1 = datagen.TrickleGenerator(str(tmp_path), tables, 200, 100, 3, rate_per_s=100)
    g2 = datagen.TrickleGenerator(str(tmp_path), tables, 200, 100, 3, rate_per_s=100)
    t1, c1 = g1._tick_rows(2000, 0)
    t2, c2 = g2._tick_rows(2000, 0)
    assert t1.equals(t2)
    tab = t1.to_pydict()
    line = [k for k, n in zip(tab["key_id"], tab["table_name"]) if n == datagen.LINE_TABLE]
    assert 0.4 < len(line) / 2000 < 0.6
    # every line change names a real line of its invoice
    keys = set(tables.line_orderkey * datagen.LINE_KEY_MULT + tables.line_linenumber)
    assert set(line) <= keys
    versions = tab["change_version"]
    assert versions[0] == 101 and all(b - a in (0, 1) for a, b in zip(versions, versions[1:]))
    assert 0.1 < sum(b == a for a, b in zip(versions, versions[1:])) / 2000 < 0.3  # ties
    assert 0 < tab["op"].count("D") < 100


def test_oracle_compare_normalizes_like_conftest():
    import duckdb
    import pyarrow as pa

    from perfbench import bi

    con = duckdb.connect()
    differ = lambda a, b: bi.results_differ(con, pa.table(a), pa.table(b))  # noqa: E731
    assert not differ({"k": [1, 2], "x": [0.5, 1.25]}, {"x": [1.25, 0.5], "k": [2, 1]})  # row and column order
    assert not differ({"n": [5, 7]}, {"n": [7.0, 5.0]})  # int and float print alike
    assert not differ({"x": [1 / 3]}, {"x": [1 / 3 + 1e-12]})  # beyond nine significant digits
    assert differ({"x": [1 / 3]}, {"x": [1 / 3 + 1e-7]})
    assert differ({"a": [1, 1, 2]}, {"a": [1, 2, 2]})  # a multiset, not a set
    assert differ({"a": [1]}, {"b": [1]})
    naive = pa.array([0, 10**6], pa.timestamp("us"))
    utc = pa.array([10**6, 0], pa.timestamp("us", "UTC"))
    assert not differ({"t": naive}, {"t": utc})


def test_per_layer_lists_match_benchmark_json():
    import json

    from perfbench import bi, cdc, run

    with open(run.BENCHMARK_JSON) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == list(dict.fromkeys([*cdc.PER_LAYER, *bi.PER_LAYER]))


def test_descendants_are_found_and_waited_for():
    import subprocess
    import time

    from perfbench import host

    sleeper = "import subprocess, sys; subprocess.run([sys.executable, '-c', 'import time; time.sleep(60)'])"
    child = subprocess.Popen([sys.executable, "-c", sleeper])
    try:
        deadline = time.monotonic() + 10
        while len(host.descendants()) < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
        found = host.descendants()
        assert child.pid in found and len(found) == 2  # the grandchild too
        assert host._wait_gone(found, 0.1) == found
        for pid in found:
            os.kill(pid, 9)
        child.wait()
        assert not host._wait_gone(found, 10)
    finally:
        child.kill()
        child.wait()


def _tiny_lines():
    import numpy as np

    orderkey = np.repeat(np.arange(200, dtype=np.int64), 3)
    linenumber = np.tile(np.arange(1, 4, dtype=np.int32), 200)
    return orderkey, linenumber, np.bincount(orderkey, minlength=200)


@pytest.mark.skipif(os.environ.get("PERFBENCH_SPARK_TESTS") != "1", reason="starts Spark; set PERFBENCH_SPARK_TESTS=1")
def test_spark_fold_on_a_tiny_run(tmp_path):
    from perfbench import host

    box = host.Sandbox(str(tmp_path))
    spark = host.start_spark(box, "perfbench-selftest")
    try:
        t = trace.Tracer(spark)
        fold = trace.SparkFold(spark, {"range_rows": "tiny"})
        path = os.path.join(box.root, "tiny")
        spark.range(1000).write.parquet(path)
        with t.span("outer", 1) as root:
            with t.span("inner", 1):
                rows = spark.read.parquet(path).repartition(3).count()
        spans = t.tree(root)
        fold.fold(spans)
        inner = spans[1].counts
        assert rows == 1000
        assert inner["jobs"] >= 1 and inner["tasks"] >= 1
        assert inner["range_rows"] == 1000 and inner["rows_scanned"] == 1000
        assert inner["shuffle_bytes"] > 0
        assert root.counts.get("jobs", 0) == 0  # jobs go to the innermost span
        c = trace.subtree_counts(spans)
        assert 0 <= c["driver_ms"] <= root.ms
        # a second fold credits nothing twice
        fold.fold(spans)
        assert spans[1].counts["jobs"] == inner["jobs"]
    finally:
        host.stop_spark(spark)
        box.close()
    assert not host.descendants()  # the gateway JVM and its Python workers have ended
