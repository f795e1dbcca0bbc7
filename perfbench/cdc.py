"""The CDC workload, ``cdc_trickle``: an open loop. A generator appends
changes at 100 changes/s while one consumer re-polls immediately.

It drives the engine only through its public calls: ``pipeline.pull_batch``
with a ``SyncStateRegistry`` over a parquet change log. Each delivered
document is checked against the generated inputs.
"""

from __future__ import annotations

import json
import os
import random
import time
from dataclasses import dataclass, field

from perfbench import datagen, host, stats
from perfbench.trace import SparkFold, Tracer, self_ms, subtree_counts

# The reference generator makes 25,000 invoices (sqls/insert-invoices.sql).
HISTORY_INVOICES = 25_000  # the trickle consumer's already-synced history
TRICKLE_LIMIT = 1000  # the reference consumer's default batch limit
SAMPLE_DOCS = 20  # documents parsed and checked against lineitem per delivery

PER_LAYER = (
    "registry.read_ms",
    "registry.advance_ms",
    "changelog.current_version_ms",
    "changelog.files",
    "changelog.rows_scanned",
    "pipeline.query_ms",
    "pipeline.sink_ms",
    "pipeline.files_per_s",
    "pipeline.doc_bytes_avg",
    "pipeline.docs_per_pull",
    "pipeline.rows_read_per_doc",
    "spark.jobs_per_pull",
    "spark.tasks_per_pull",
    "spark.driver_ms_per_pull",
    "spark.executor_cpu_ms_per_pull",
    "spark.shuffle_bytes_per_pull",
    "spark.python_rows_per_pull",
    "spark.gc_ms_per_pull",
    "generator.late_ms_max",
    "consumer.backlog_end",
    "trace.overhead_ms_per_op",
    "trace.self_time_gap_ms",
)


def invoice_model(pl):
    """The header/line document model the repo's bench uses: orders as
    invoice headers, lineitem as lines keyed by orderkey*8+linenumber."""
    return pl.InvoiceModel(
        header_key="o_orderkey",
        line_key_expr=f"l_orderkey * {datagen.LINE_KEY_MULT} + l_linenumber",
        line_parent_key="l_orderkey",
        header_cols=["o_custkey", "o_totalprice"],
        line_cols=["l_linenumber", "l_quantity", "l_extendedprice"],
        line_order_col="l_linenumber",
    )


@dataclass
class Outcome:
    """What a workload hands back to run.py."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    end_to_end: dict[str, float] = field(default_factory=dict)
    per_layer: dict[str, float] = field(default_factory=dict)
    detail: dict = field(default_factory=dict)

    def problem(self, text: str) -> None:
        if len(self.problems) < 20:
            self.problems.append(text)


def check_documents(out: Outcome, index: stats.DocIndex, out_dir: str, error_dir: str, tables: datagen.Tables, rng: random.Random) -> None:
    """No ``.tmp`` left, nothing segregated, and a sample of documents
    parses with the line count lineitem gives its invoice."""
    if index.tmp_files:
        out.problem(f"{index.tmp_files} .tmp files left in {os.path.basename(out_dir)}")
    segregated = len(os.listdir(error_dir)) if os.path.isdir(error_dir) else 0
    if segregated:
        out.failed += segregated
        out.problem(f"{segregated} documents segregated")
    names = [n for n in os.listdir(out_dir) if stats.parse_doc_name(n)]
    for name in rng.sample(names, min(SAMPLE_DOCS, len(names))):
        inv, ver = stats.parse_doc_name(name)
        with open(os.path.join(out_dir, name)) as f:
            doc = json.load(f)
        want = int(tables.lines_per_order[inv])
        if doc.get("invoice_id") != inv or doc.get("change_version") != ver or len(doc.get("lines", ())) != want:
            out.problem(f"{name}: invoice/version/lines {doc.get('invoice_id')}/{doc.get('change_version')}/{len(doc.get('lines', ()))}, want {inv}/{ver}/{want}")


class PullTracer:
    """Wraps the CDC layers' public calls for a traced run and turns each
    traced pull's spans into per-layer samples."""

    def __init__(self, spark, pl, cl, registry, log_dir: str):
        self.tracer = Tracer(spark)
        self.fold = SparkFold(spark, {"log_rows": log_dir})
        self.op = 0
        op = lambda: self.op  # noqa: E731
        self.tracer.wrap(registry, "read", "registry.read", op)
        self.tracer.wrap(registry, "advance", "registry.advance", op)
        self.tracer.wrap(cl, "current_version", "changelog.current_version", op)
        self.tracer.wrap(pl, "write_documents", "pipeline.write_documents", op)
        self.pull_batch = pl.pull_batch
        self.samples: list[dict[str, float]] = []
        self.max_self_gap_ms = 0.0
        self._pending: list = []

    def pull(self, *args, **kwargs):
        """``pull_batch`` inside a root span; the accounting is folded in
        later by ``finish``, outside the caller's timed region."""
        self.op += 1
        with self.tracer.span("pipeline.pull_batch", self.op) as root:
            res = self.pull_batch(*args, **kwargs)
        if root is not None:
            self._pending.append((root, res))
        return res

    def finish(self) -> float:
        """Fold Spark's accounting into the pulls traced since the last
        call and turn them into per-layer samples. Returns the seconds
        spent, so an open-loop caller can idle as long after an untraced
        pull and keep traced and untraced pulls' backlogs alike."""
        t0 = time.perf_counter()
        for root, res in self._pending:
            self._sample(root, res)
        self._pending.clear()
        return time.perf_counter() - t0

    def _sample(self, root, res) -> None:
        spans = self.tracer.tree(root)
        self.fold.fold(spans)
        own = self_ms(spans)
        self.max_self_gap_ms = max(self.max_self_gap_ms, abs(sum(own.values()) - root.ms))
        by_name: dict[str, float] = {}
        for s in spans:
            by_name[s.name] = by_name.get(s.name, 0.0) + own[s.span_id]
        sink_ms = sum(s.ms for s in spans if s.name == "pipeline.write_documents")
        c = subtree_counts(spans)
        docs = max(res.processed, 1)
        self.samples.append(
            {
                "registry.read_ms": by_name.get("registry.read", 0.0),
                "registry.advance_ms": by_name.get("registry.advance", 0.0),
                "changelog.current_version_ms": by_name.get("changelog.current_version", 0.0),
                "changelog.rows_scanned": c.get("log_rows", 0.0),
                "pipeline.query_ms": own[root.span_id],
                "pipeline.sink_ms": sink_ms,
                "pipeline.files_per_s": res.processed / (sink_ms / 1000) if sink_ms else 0.0,
                "pipeline.docs_per_pull": float(res.processed),
                "pipeline.rows_read_per_doc": c.get("rows_scanned", 0.0) / docs,
                "spark.jobs_per_pull": c.get("jobs", 0.0),
                "spark.tasks_per_pull": c.get("tasks", 0.0),
                "spark.driver_ms_per_pull": c["driver_ms"],
                "spark.executor_cpu_ms_per_pull": c.get("executor_cpu_ms", 0.0),
                "spark.shuffle_bytes_per_pull": c.get("shuffle_bytes", 0.0),
                "spark.python_rows_per_pull": c.get("python_rows", 0.0),
                "spark.gc_ms_per_pull": c.get("gc_ms", 0.0),
            }
        )

    def per_layer(self) -> dict[str, float]:
        if not self.samples:
            raise RuntimeError("no traced pull")
        return {k: stats.median([s[k] for s in self.samples]) for k in self.samples[0]}


HISTORY_TAIL = 500
TRICKLE_WARMUP_S = 12.0  # of stream pulls after the cold history pull
FINAL_DRAIN_MAX_PULLS = 50
RATE_PER_S = 100  # changes/s: a pull carries a few hundred documents


def run_trickle(spark, box: host.Sandbox, seed: int, seconds: float, trace: bool, t_start: float) -> Outcome:
    from sql_cdc_spark import tables as tb
    from sql_cdc_spark.streaming import changelog as cl
    from sql_cdc_spark.streaming import pipeline as pl
    from sql_cdc_spark.streaming.registry import SyncStateRegistry

    tables = datagen.write_tables(box.path("data"), seed, ("orders", "lineitem"))
    log_dir = box.path("log")
    datagen.write_header_inserts(log_dir, HISTORY_INVOICES)
    orders = tb.load(spark, tables.data_dir, "orders")
    lines = tb.load(spark, tables.data_dir, "lineitem")
    registry = SyncStateRegistry(box.path("state"))
    model = invoice_model(pl)
    rng = random.Random(seed)
    out = Outcome()
    consumer = "trickle"
    # The consumer has synced all but the last HISTORY_TAIL invoices of the
    # history. Its first (cold) pull takes that tail before the stream
    # starts, so the stream's backlog never holds a cold pull's worth of
    # changes and the pulls settle at their steady batch size sooner.
    registry.advance(consumer, HISTORY_INVOICES - HISTORY_TAIL, HISTORY_INVOICES - HISTORY_TAIL - 1)
    tracer = PullTracer(spark, pl, cl, registry, log_dir) if trace else None
    pull = tracer.pull if tracer else pl.pull_batch
    out_dir, error_dir = box.path("docs"), os.path.join(box.root, "errors")
    gen = datagen.TrickleGenerator(log_dir, tables, HISTORY_INVOICES, HISTORY_INVOICES, seed, RATE_PER_S)

    def one_pull() -> float:
        tp = time.perf_counter()
        pull(spark, log_dir, consumer, registry, orders, lines, model, out_dir, limit=TRICKLE_LIMIT, error_dir=error_dir)
        return (time.perf_counter() - tp) * 1000

    if tracer:
        tracer.tracer.enabled = False
    t_warm = time.perf_counter()
    warm = [one_pull()]
    gen.start()
    fold_s = 0.0
    pull_ms, traced_ms, untraced_ms, files = [], [], [], []
    raised = 0
    try:
        # the driver-side code of a pull (planning, listing, py4j) gets
        # faster over its first dozen pulls; pull until the time is up
        t_warm_end = time.perf_counter() + TRICKLE_WARMUP_S
        while time.perf_counter() < t_warm_end:
            warm.append(one_pull())
        out.detail["warmup_pull_ms"] = warm
        setup_s = time.perf_counter() - t_start
        out.detail["warmup_s"] = time.perf_counter() - t_warm
        measure_ns = time.time_ns()
        t_end = time.perf_counter() + seconds
        stall0 = host.io_stall_ms()
        n = 0
        while time.perf_counter() < t_end:
            if tracer:
                tracer.tracer.enabled = n % 2 == 0
            files.append(gen.files_written())
            try:
                ms = one_pull()
            except Exception as exc:  # noqa: BLE001 — a raising pull is a failed operation
                raised += 1
                out.problem(f"pull raised {type(exc).__name__}: {exc}")
                continue
            finally:
                n += 1
            pull_ms.append(ms)
            if tracer:
                if tracer.tracer.enabled:
                    traced_ms.append(ms)
                    fold_s = tracer.finish()
                else:
                    untraced_ms.append(ms)
                    time.sleep(fold_s)
        end_ns = time.time_ns()
        out.detail["io_stall_ms"] = host.io_stall_ms() - stall0
    finally:
        log = gen.stop()
    if tracer:
        tracer.tracer.enabled = False
    # final drain: everything generated must be delivered
    high = gen.version
    for _ in range(FINAL_DRAIN_MAX_PULLS):
        state = registry.read(consumer)
        if state.last_sync_version >= high:
            break
        try:
            one_pull()
        except Exception as exc:  # noqa: BLE001
            raised += 1
            out.problem(f"final-drain pull raised {type(exc).__name__}: {exc}")
    index = stats.DocIndex(out_dir)
    measured = [c for c in log.changes if measure_ns <= c.due_ns < end_ns]
    fresh, _ = stats.freshness_ms(index, measured)
    _, backlog = stats.freshness_ms(index, log.changes)
    check_documents(out, index, out_dir, error_dir, tables, rng)
    out.attempted += len(pull_ms) + raised + len(log.changes)
    out.failed += raised + backlog
    if backlog:
        out.problem(f"{backlog} changes undelivered after the final drain")
    if not pull_ms or not fresh:
        out.problem("no measured pull delivered a change")
        out.failed += 1
        pull_ms, fresh = pull_ms or [0.0], fresh or [0.0]
    out.end_to_end = {
        "setup_s": setup_s,
        "op_ms_p50": stats.median(pull_ms),
        "freshness_ms_p50": stats.median(fresh),
    }
    out.detail.update(
        pulls=len(pull_ms),
        changes_measured=len(measured),
        changes_total=len(log.changes),
        generator_late_ms_max=max(log.late_ms, default=0.0),
        warmup_drift=stats.drift(warm[1:]),
        drift=stats.drift(pull_ms),
        pull_ms=pull_ms,
        # the highest tail the pull count supports (changes of one pull land together)
        pull_ms_p90=stats.percentile(pull_ms, 90) if stats.supported_percentile(90, len(pull_ms)) else None,
        freshness_ms_quartiles=stats.quartiles(fresh) if len(fresh) > 1 else fresh,
    )
    if tracer:
        tracer.tracer.unwrap_all()
        out.per_layer = tracer.per_layer()
        out.per_layer.update(
            {
                "changelog.files": stats.median([float(f) + 1 for f in files]),  # + the history file
                "pipeline.doc_bytes_avg": index.bytes / max(index.docs, 1),
                "generator.late_ms_max": max(log.late_ms, default=0.0),
                "consumer.backlog_end": float(backlog),
                "trace.overhead_ms_per_op": stats.median(traced_ms) - stats.median(untraced_ms),
                "trace.self_time_gap_ms": tracer.max_self_gap_ms,
            }
        )
    return out
