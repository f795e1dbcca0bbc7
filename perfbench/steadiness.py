"""Steadiness report: run the workloads repeatedly, one process at a time,
and give each end-to-end metric's median, quartiles and spread against
its bound in BENCHMARK.json, the agreement between run sets, and the
drift within the measured phase.

    python3 perfbench/steadiness.py --workloads cdc_trickle bi_headline --seeds 1-10 --sets 2 --out report.json

Set ``k`` (0-based) uses the given seeds plus ``100 * k``. Within a set the
runs are interleaved: for each seed, every workload in turn. A metric is
steady when its spread (inter-quartile distance over the median) is under
a third of its bound; ``setup_s`` is reported but not held to that rule.
Two sets agree when no metric's median in the later set is worse than in
the earlier one by more than the bound. A measured phase drifts when the
least-squares line through its repeats moves by more than
``DRIFT_LIMIT`` of the median from the first repeat to the last.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402
from perfbench.run import CHECKOUT, load_spec  # noqa: E402

DRIFT_LIMIT = 0.10


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def summarize(spec: dict, runs: list[tuple[dict, dict]]) -> dict:
    out = {"runs": len(runs), "all_correct": all(r["correct"] and r["failed"] == 0 for _, r in runs), "metrics": {}}
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for _, r in runs]
        q1, q2, q3 = stats.quartiles(values)
        spread = stats.spread(values)
        out["metrics"][m["name"]] = {
            "median": q2,
            "q1": q1,
            "q3": q3,
            "spread": spread,
            "bound": m["bound"],
            "steady": m["name"] == "setup_s" or spread < m["bound"] / 3,
            "values": values,
        }
    drifts = [d["drift"] for d, _ in runs]
    out["drift_median"] = stats.median(drifts)
    out["drifting"] = abs(out["drift_median"]) > DRIFT_LIMIT
    out["run_s"] = [d["run_s"] for d, _ in runs]
    out["diagnostics"] = [d for d, _ in runs]
    return out


def agreement(spec: dict, first: dict, second: dict) -> dict:
    """Per metric: how much worse the second set's median is than the
    first's, as a share of the first (negative when it is better)."""
    res = {}
    for m in spec["end_to_end"]:
        a, b = first["metrics"][m["name"]]["median"], second["metrics"][m["name"]]["median"]
        worse = (b - a) / a if m["better"] == "lower" else (a - b) / a
        res[m["name"]] = {"worse_by": worse, "bound": m["bound"], "agree": worse <= m["bound"]}
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None, help="default: run_seconds from BENCHMARK.json")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    spec = load_spec()
    seconds = args.seconds or spec["run_seconds"]
    report = {"seconds": seconds, "sets": []}
    for k in range(args.sets):
        runs: dict[str, list] = {w: [] for w in args.workloads}
        for seed in parse_seeds(args.seeds):
            for w in args.workloads:
                runs[w].append(run_once(w, seed + 100 * k, seconds, 0))
                diag, res = runs[w][-1]
                print(k, w, seed + 100 * k, json.dumps({n: round(v["value"], 3) for n, v in res["metrics"].items()}), round(diag["run_s"], 1), flush=True)
        report["sets"].append({w: summarize(spec, r) for w, r in runs.items()})
        if k:
            report.setdefault("agreement", []).append({w: agreement(spec, report["sets"][k - 1][w], report["sets"][k][w]) for w in args.workloads})
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    for k, summary in enumerate(report["sets"]):
        for w, rep in summary.items():
            for name, m in rep["metrics"].items():
                flag = "ok" if m["steady"] else "SPREAD"
                print(f"set {k} {w:12s} {name:17s} median {m['median']:10.1f}  q1 {m['q1']:10.1f}  q3 {m['q3']:10.1f}  spread {m['spread']:.3f} (bound {m['bound']}) {flag}")
            print(f"set {k} {w:12s} drift {rep['drift_median']:+.3f} over the measured phase  correct {rep['all_correct']}  run_s max {max(rep['run_s']):.0f}")
    for k, agree in enumerate(report.get("agreement", []), start=1):
        for w, per in agree.items():
            for name, a in per.items():
                print(f"set {k} vs {k - 1} {w:12s} {name:17s} worse by {a['worse_by']:+.3f} (bound {a['bound']}) {'ok' if a['agree'] else 'DISAGREE'}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
