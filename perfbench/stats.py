"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

import bisect
import math
import os
import statistics

TAIL_MIN_BEYOND = 10  # a percentile needs this many samples above it


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def supported_percentile(p: float, n: int) -> bool:
    """True when ``n`` samples leave at least ten beyond percentile ``p``
    (p in 0..100): p90 needs 100 samples, p50 needs 20."""
    return n * (100 - p) / 100 >= TAIL_MIN_BEYOND


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile; raises unless the sample supports it."""
    n = len(values)
    if not supported_percentile(p, n):
        raise ValueError(f"p{p:g} needs {math.ceil(TAIL_MIN_BEYOND * 100 / (100 - p))} samples, have {n}")
    return float(sorted(values)[max(0, math.ceil(p / 100 * n) - 1)])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2


def drift(values: list[float]) -> float:
    """Least-squares slope over the sample index times the span of the
    index, as a share of the median: how far the fitted line moves from
    the first repeat of a phase to its last."""
    n = len(values)
    if n < 3:
        return 0.0
    xm, ym = (n - 1) / 2, statistics.fmean(values)
    sxy = sum((i - xm) * (v - ym) for i, v in enumerate(values))
    sxx = sum((i - xm) ** 2 for i in range(n))
    return sxy / sxx * (n - 1) / median(values)


def parse_doc_name(name: str) -> tuple[int, int] | None:
    """``{invoice}_v{version}.json`` (the pipeline's file naming) →
    (invoice, version); None for any other file."""
    if not name.endswith(".json") or name.startswith("."):
        return None
    stem, sep, ver = name[: -len(".json")].rpartition("_v")
    if not sep or not stem.isdigit() or not ver.isdigit():
        return None
    return int(stem), int(ver)


class DocIndex:
    """One scan of a document directory: per invoice, the versions written
    and, for each, the earliest mtime of any document at that version or
    later."""

    def __init__(self, out_dir: str):
        per_inv: dict[int, list[tuple[int, int]]] = {}
        self.docs = 0
        self.bytes = 0
        self.tmp_files = 0
        for entry in os.scandir(out_dir) if os.path.isdir(out_dir) else ():
            if entry.name.endswith(".tmp"):
                self.tmp_files += 1
                continue
            key = parse_doc_name(entry.name)
            if key is None:
                continue
            st = entry.stat()
            per_inv.setdefault(key[0], []).append((key[1], st.st_mtime_ns))
            self.docs += 1
            self.bytes += st.st_size
        self._index: dict[int, tuple[list[int], list[int]]] = {}
        for inv, rows in per_inv.items():
            rows.sort()
            versions = [v for v, _ in rows]
            first_at_or_after = [0] * len(rows)
            best = None
            for i in range(len(rows) - 1, -1, -1):
                best = rows[i][1] if best is None else min(best, rows[i][1])
                first_at_or_after[i] = best
            self._index[inv] = (versions, first_at_or_after)

    def delivered_ns(self, invoice: int, version: int) -> int | None:
        """mtime of the first document for ``invoice`` at a version ≥
        ``version``; None if there is none."""
        hit = self._index.get(invoice)
        if hit is None:
            return None
        versions, first = hit
        i = bisect.bisect_left(versions, version)
        return first[i] if i < len(versions) else None


def freshness_ms(index: DocIndex, changes) -> tuple[list[float], int]:
    """Freshness per change (objects with invoice_id, version, due_ns):
    due time → mtime of the first covering document. Returns (samples,
    number of changes no document covers)."""
    out, missing = [], 0
    for c in changes:
        t = index.delivered_ns(c.invoice_id, c.version)
        if t is None:
            missing += 1
        else:
            out.append((t - c.due_ns) / 1e6)
    return out, missing
