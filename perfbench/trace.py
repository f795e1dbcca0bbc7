"""Spans around the engine's public calls, and Spark's own accounting
folded into them.

A span is {name, start, end, parent, op id}. While a span is open, the
Spark jobs its thread launches carry the span's job group, so after the
operation the benchmark reads Spark's in-memory app and SQL status stores
(populated with ``spark.ui.enabled=false``) and credits every job, stage
and SQL plan node to the innermost span that launched it.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"

# SQL plan nodes that hand rows to Python workers
_PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas")


@dataclass
class Span:
    span_id: int
    name: str
    op_id: int
    parent: int | None
    start: float
    end: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_ms(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return {s.span_id: s.ms - _covered(children.get(s.span_id, []), s.start, s.end) * 1000 for s in spans}


class Tracer:
    """Records spans in memory. ``wrap`` patches a callable attribute so
    each call runs inside a span; ``enabled`` switches recording off for
    untraced operations of a traced run without unpatching."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self.enabled = True
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, op_id: int):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, op_id, parent.span_id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{s.span_id}", s.name)

    def wrap(self, owner: object, attr: str, name: str, op_id) -> None:
        """Run ``owner.attr`` inside a span called ``name``; ``op_id`` is a
        zero-argument callable giving the current operation's id."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, op_id()):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, owner.__dict__.get(attr, _MISSING)))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, prev in reversed(self._patches):
            if prev is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, prev)
        self._patches.clear()

    def tree(self, root: Span) -> list[Span]:
        """``root`` and every span below it."""
        ids = {root.span_id}
        out = [root]
        for s in self.spans:
            if s.parent in ids:
                ids.add(s.span_id)
                out.append(s)
        return out


_MISSING = object()


def _jlist(spark, seq) -> list:
    return list(spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


def _count(text) -> float:
    """A plain SQL count metric such as '600,000'; 0 when absent."""
    if text is None:
        return 0.0
    try:
        return float(str(text).replace(",", ""))
    except ValueError:
        return 0.0


class SparkFold:
    """Credits Spark's accounting to spans, job by job. Call ``fold``
    after each traced operation: the status stores retain a bounded
    number of jobs, so waiting until the end of the run could lose some."""

    def __init__(self, spark, scan_paths: dict[str, str] | None = None):
        self.spark = spark
        self.scan_paths = scan_paths or {}  # count label -> path substring
        self._seen_jobs: set[int] = set()
        self._seen_execs: set[int] = set()

    def fold(self, spans: list[Span]) -> None:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        by_group = {f"{GROUP_PREFIX}{s.span_id}": s for s in spans}
        store = jsc.statusStore()
        job_span: dict[int, Span] = {}
        for job in _jlist(self.spark, store.jobsList(None)):
            jid = job.jobId()
            group = job.jobGroup()
            if jid in self._seen_jobs or not group.isDefined() or group.get() not in by_group:
                continue
            self._seen_jobs.add(jid)
            s = by_group[group.get()]
            job_span[jid] = s
            c = s.counts
            c["jobs"] = c.get("jobs", 0) + 1
            c["tasks"] = c.get("tasks", 0) + job.numCompletedTasks() + job.numFailedTasks()
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                c.setdefault("job_intervals", []).append(
                    (job.submissionTime().get().getTime() / 1000, job.completionTime().get().getTime() / 1000)
                )
            for sid in _jlist(self.spark, job.stageIds()):
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — a stage the store never saw (skipped)
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                c["executor_cpu_ms"] = c.get("executor_cpu_ms", 0) + st.executorCpuTime() / 1e6
                c["executor_run_ms"] = c.get("executor_run_ms", 0) + st.executorRunTime()
                c["gc_ms"] = c.get("gc_ms", 0) + st.jvmGcTime()
                c["shuffle_bytes"] = c.get("shuffle_bytes", 0) + st.shuffleWriteBytes()
                c["spill_bytes"] = c.get("spill_bytes", 0) + st.memoryBytesSpilled() + st.diskBytesSpilled()
        if job_span:
            self._fold_sql(job_span)

    def _fold_sql(self, job_span: dict[int, Span]) -> None:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in _jlist(self.spark, sql.executionsList()):
            eid = ex.executionId()
            if eid in self._seen_execs:
                continue
            jobs = [int(j) for j in _jlist(self.spark, ex.jobs().keys().toSeq())]
            owner = next((job_span[j] for j in jobs if j in job_span), None)
            if owner is None:
                continue
            self._seen_execs.add(eid)
            c = owner.counts
            metrics = sql.executionMetrics(eid)
            graph = sql.planGraph(eid)
            nodes = {n.id(): n for n in _jlist(self.spark, graph.allNodes())}
            child_of: dict[int, list[int]] = {}
            for e in _jlist(self.spark, graph.edges()):
                child_of.setdefault(e.toId(), []).append(e.fromId())

            def rows(node) -> float | None:
                for m in _jlist(self.spark, node.metrics()):
                    if m.name() == "number of output rows":
                        v = metrics.get(m.accumulatorId())
                        return _count(v.get() if v.isDefined() else None)
                return None

            def rows_into(node_id: int) -> float:
                total = 0.0
                for cid in child_of.get(node_id, []):
                    r = rows(nodes[cid])
                    total += r if r is not None else rows_into(cid)
                return total

            for node in nodes.values():
                name = node.name()
                if name.startswith("Scan "):
                    n = rows(node) or 0.0
                    c["rows_scanned"] = c.get("rows_scanned", 0) + n
                    desc = node.desc()
                    for label, path in self.scan_paths.items():
                        if path in desc:
                            c[label] = c.get(label, 0) + n
                elif name.startswith(_PYTHON_NODES):
                    c["python_rows"] = c.get("python_rows", 0) + rows_into(node.id())


def subtree_counts(spans: list[Span]) -> dict[str, float]:
    """Sum of counts over spans, with driver time (no job running) taken
    from the root span's wall time and the union of its jobs' intervals."""
    out: dict[str, float] = {}
    intervals: list[tuple[float, float]] = []
    for s in spans:
        for k, v in s.counts.items():
            if k == "job_intervals":
                intervals.extend(v)
            else:
                out[k] = out.get(k, 0) + v
    root = spans[0]
    wall_ms = root.ms
    busy_ms = _covered(intervals, min([a for a, _ in intervals], default=0), max([b for _, b in intervals], default=0)) * 1000
    out["driver_ms"] = max(0.0, wall_ms - busy_ms)
    return out
