"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run builds its inputs from the seed,
starts one local Spark session sized from the host, warms up, measures
for ``--seconds``, checks every output, and prints as its LAST stdout line
one JSON object: ``{"correct", "attempted", "failed", "metrics"}`` with
the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``), each as ``{"value", "unit"}``. A per-layer metric of a
layer the workload never calls reads 0. The line before it is a
JSON record of diagnostics (host facts, sample counts, per-repeat values).
Exits non-zero without a result when the engine cannot be imported or
the run fails. Every process the run started (the gateway JVM and its
Python workers) has ended before it exits.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
BENCHMARK_JSON = os.path.join(CHECKOUT, "BENCHMARK.json")


def load_spec() -> dict:
    with open(BENCHMARK_JSON) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, CHECKOUT)
    try:
        import sql_cdc_spark.streaming.pipeline  # noqa: F401 — the engine under test
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {CHECKOUT}: {exc}", file=sys.stderr)
        return 2
    from perfbench import bi, cdc, host

    workloads = {
        "cdc_trickle": (cdc.run_trickle, cdc.PER_LAYER),
        "bi_headline": (bi.run_bi, bi.PER_LAYER),
    }
    if args.workload not in workloads:
        print(f"perfbench: unknown workload {args.workload!r}; have {sorted(workloads)}", file=sys.stderr)
        return 2
    spec = load_spec()
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    run_workload, own_layers = workloads[args.workload]

    box = host.Sandbox(CHECKOUT)
    spark = None
    try:
        probe_before = host.cpu_probe_ms()
        spark = host.start_spark(box, f"perfbench-{args.workload}")
        session_s = time.perf_counter() - T_START
        outcome = run_workload(spark, box, args.seed, args.seconds, bool(args.trace), T_START)
        values = {**outcome.end_to_end, **outcome.per_layer, "jvm_peak_rss_mb": host.jvm_peak_rss_mb(spark)}
        if args.trace:  # the other workloads' layers: this one makes no call into them
            for _, layers in workloads.values():
                values.update({k: 0.0 for k in layers if k not in own_layers})
        probe_after = host.cpu_probe_ms()
    finally:
        t_close = time.perf_counter()
        host.stop_spark(spark)
        t_stop = time.perf_counter()
        box.close()
        print(f"perfbench: spark.stop {t_stop - t_close:.1f}s, sandbox removal {time.perf_counter() - t_stop:.1f}s", file=sys.stderr)

    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: workload produced no value for {missing}", file=sys.stderr)
        return 3
    diagnostics = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": host.nproc(),
        "heap_mb": host.heap_mb(),
        "cpu_probe_ms": [probe_before, probe_after],
        "session_s": session_s,
        "run_s": time.perf_counter() - T_START,
        "problems": outcome.problems,
        **outcome.detail,
    }
    print(json.dumps(diagnostics, default=float))
    result = {
        "correct": not outcome.problems and outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
