"""``bi_headline``: bench.py's HEADLINE queries at sf0.1 but one, run as
sequential passes (closed loop, one client) over DataFrames built once,
each written to the noop sink. After the timed passes every result is
checked against its DuckDB twin from ``oracle_sql()``: the results of
the one warm-up pass, which collects them.

``txt_quality_score`` is left out. On this benchmark's seeded corpus its
score lands exactly on a rounding tie at the sixth decimal for a few
documents in 5,000 (for example 0.5123125), and the engine rounds those
up (Spark's ``round`` is half-up on the decimal value) while the DuckDB
oracle rounds the binary double down. That is an engine defect against
its oracle, not a datagen one, so the query cannot pass the check here.

It touches no layer of the CDC loop except ``operators.documents`` (via
``cdc_flagship_documents``), so a CDC-only change should leave it flat.
"""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.compute as pc

from perfbench import datagen, host, stats
from perfbench.cdc import Outcome
from perfbench.trace import SparkFold, Tracer, self_ms, subtree_counts

LEFT_OUT = ("txt_quality_score",)  # see the module docstring


def query_names() -> list[str]:
    import bench  # bench.py owns the list

    return [n for n in bench.HEADLINE if n not in LEFT_OUT]


PER_LAYER = (
    *(f"query.{n}_ms" for n in query_names()),
    "queries.construct_s",
    "queries.plan_ms",
    "spark.executor_cpu_ms_per_pass",
    "spark.tasks_per_pass",
    "spark.shuffle_bytes_per_pass",
    "spark.spill_bytes_per_pass",
    "spark.driver_ms_per_pass",
    "cache.storage_mb",
    "trace.overhead_ms_per_op",
    "trace.self_time_gap_ms",
)


def _normalized_cells(table: pa.Table) -> str:
    """SQL for a result's cells normalized as
    tests/conftest.py::assert_matches_oracle does: floats to nine
    significant digits (``printf('%.9g')`` formats as Python does), every
    other cell as its text, columns in name order. Timestamps were turned
    into UTC microseconds beforehand (``_flat_timestamps``)."""
    cols = []
    for name in sorted(table.column_names):
        quoted = '"' + name.replace('"', '""') + '"'
        if pa.types.is_floating(table.schema.field(name).type):
            cols.append(f"printf('%.9g', {quoted})")
        else:
            cols.append(f"CAST({quoted} AS VARCHAR)")
    return ", ".join(cols)


def _flat_timestamps(table: pa.Table) -> pa.Table:
    for i, f in enumerate(table.schema):
        if pa.types.is_timestamp(f.type):
            us = pc.cast(table.column(i).cast(pa.timestamp("us", f.type.tz)), pa.int64())
            table = table.set_column(i, f.name, us)
    return table


def results_differ(con, mine: pa.Table, theirs: pa.Table) -> bool:
    """Order-insensitive comparison of two results after normalization:
    the same column names, and the same row count and sum of the
    normalized rows' 64-bit hashes (a multiset hash)."""
    if sorted(mine.column_names) != sorted(theirs.column_names):
        return True
    digests = []
    for table in (mine, theirs):
        con.register("result", _flat_timestamps(table))
        try:
            row_hash = f"hash({_normalized_cells(table)})::HUGEINT" if table.num_rows else "0"
            digests.append(con.execute(f"SELECT count(*), sum({row_hash}) FROM result").fetchone())
        finally:
            con.unregister("result")
    return digests[0] != digests[1]


def check_against_oracles(data_dir: str, results: dict[str, pa.Table], out: Outcome) -> None:
    """Every result against its DuckDB twin."""
    import duckdb

    from sql_cdc_spark import queries as q
    from sql_cdc_spark.tables import TABLE_NAMES

    oracles = q.oracle_sql()
    con = duckdb.connect()
    con.execute(f"SET threads TO {host.nproc()}")
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name, mine in results.items():
            duck = con.execute(oracles[name]).fetch_arrow_table()
            if results_differ(con, mine, duck):
                out.failed += 1
                out.problem(f"{name}: result differs from its DuckDB oracle ({mine.num_rows} vs {duck.num_rows} rows)")
    finally:
        con.close()


def run_bi(spark, box: host.Sandbox, seed: int, seconds: float, trace: bool, t_start: float) -> Outcome:
    import __spark_entry__ as entry

    out = Outcome()
    names = query_names()
    tables = datagen.write_tables(box.path("data"), seed)
    qs = entry.queries()
    tracer = Tracer(spark) if trace else None
    fold = SparkFold(spark) if trace else None
    t0 = time.perf_counter()
    if tracer:
        with tracer.span("queries.construct", 0) as root:
            dfs = {n: qs[n](spark, tables.data_dir) for n in names}
        fold.fold(tracer.tree(root))
    else:
        dfs = {n: qs[n](spark, tables.data_dir) for n in names}
    construct_s = time.perf_counter() - t0

    def one_pass() -> tuple[float, list[float]]:
        """Wall time of the pass and, per query, the time from the pass
        start until its result was complete (a dashboard's panels)."""
        start = time.perf_counter()
        done = []
        for n in names:
            dfs[n].write.format("noop").mode("overwrite").save()
            done.append((time.perf_counter() - start) * 1000)
        return done[-1], done

    # The warm-up pass collects every result through Arrow instead of the
    # noop sink: it runs the same plans, and the results it returns are
    # the ones checked after the measured phase.
    t_warm = time.perf_counter()
    results = {n: dfs[n].toArrow() for n in names}
    warm_ms = (time.perf_counter() - t_warm) * 1000
    setup_s = time.perf_counter() - t_start
    # Passes while the next one, as long as the last, still ends within
    # the measured time: a pass is about as long as a run's measured
    # time, so the pass count does not flip between one and two with the
    # host's speed.
    pass_ms, ready_ms = [], []
    t_end = time.perf_counter() + seconds
    while not pass_ms or time.perf_counter() + pass_ms[-1] / 1000 <= t_end:
        total, done = one_pass()
        pass_ms.append(total)
        ready_ms.extend(done)
    out.attempted = len(pass_ms) * len(names) + len(names)
    out.end_to_end = {
        "setup_s": setup_s,
        "op_ms_p50": stats.median(pass_ms),
        "freshness_ms_p50": stats.median(ready_ms),
    }
    out.detail.update(construct_s=construct_s, warmup_pass_ms=warm_ms, passes=len(pass_ms), pass_ms=pass_ms, drift=stats.drift(pass_ms))
    if tracer:
        out.per_layer = _traced_pass(spark, tracer, fold, dfs, names)
        out.per_layer["queries.construct_s"] = construct_s
        # passes still speed up, so the traced pass is compared with the
        # mean of the last untraced pass before it and one right after it
        after_ms, _ = one_pass()
        traced_ms = sum(out.per_layer[f"query.{n}_ms"] for n in names)
        out.per_layer["trace.overhead_ms_per_op"] = traced_ms - (pass_ms[-1] + after_ms) / 2
    t_check = time.perf_counter()
    check_against_oracles(tables.data_dir, results, out)
    out.detail["check_s"] = time.perf_counter() - t_check
    return out


def _traced_pass(spark, tracer: Tracer, fold: SparkFold, dfs: dict, names: list[str]) -> dict[str, float]:
    """One extra pass with every query in a span: planning forced on a
    fresh Dataset over the same plan, then the noop write."""
    layer: dict[str, float] = {}
    plan_ms = 0.0
    with tracer.span("bi.pass", 1) as root:
        for n in names:
            with tracer.span(f"query.{n}", 1) as q:
                fresh = dfs[n].select("*")
                t = time.perf_counter()
                fresh._jdf.queryExecution().executedPlan()
                plan_ms += (time.perf_counter() - t) * 1000
                dfs[n].write.format("noop").mode("overwrite").save()
            layer[f"query.{n}_ms"] = q.ms
    spans = tracer.tree(root)
    fold.fold(spans)
    own = self_ms(spans)
    c = subtree_counts(spans)
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    layer.update(
        {
            "queries.plan_ms": plan_ms,
            "spark.executor_cpu_ms_per_pass": c.get("executor_cpu_ms", 0.0),
            "spark.tasks_per_pass": c.get("tasks", 0.0),
            "spark.shuffle_bytes_per_pass": c.get("shuffle_bytes", 0.0),
            "spark.spill_bytes_per_pass": c.get("spill_bytes", 0.0),
            "spark.driver_ms_per_pass": c["driver_ms"],
            "cache.storage_mb": sum(r.memSize() + r.diskSize() for r in storage) / 2**20,
            "trace.self_time_gap_ms": abs(sum(own.values()) - root.ms),
        }
    )
    return layer
