"""Seeded input generators for the benchmark.

Everything here is a pure function of the seed: the TPC-H-shaped tables
the engine reads (same names, columns and value domains as the sf0.1 test
tables), the history change log, and the trickle change stream. Tables
and change files are written with pyarrow, never with Spark, so input
generation neither warms nor loads the engine under test.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HEADER_TABLE = "invoice_header"  # streaming.changelog.HEADER_TABLE
LINE_TABLE = "invoice_line"  # streaming.changelog.LINE_TABLE
LINE_KEY_MULT = 8  # line PK = l_orderkey * 8 + l_linenumber (the bench model)

SF = 0.1
N_ORDERS = int(1_500_000 * SF)
N_CUSTOMERS = int(150_000 * SF)
N_SUPPLIERS = int(10_000 * SF)
N_PARTS = int(200_000 * SF)
N_LINES = int(6_000_000 * SF)
N_EVENTS = 100_000
N_DOCUMENTS = 5_000
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
_PART_NOUN = ["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "valve"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> list[str]:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator) -> dict:
    """Word-salad corpus over a 30-word vocabulary with ~5% near-duplicates
    (another document's text plus ' dup') and a few exact duplicates, so
    the dedup and near-dup operators have real work."""
    n = N_DOCUMENTS
    lengths = rng.integers(10, 101, n)
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(_WORDS), k)]) for k in lengths]
    near = rng.choice(np.arange(1, n), size=n // 20, replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), size=8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, _LANGS, n, _LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng: np.random.Generator) -> dict:
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM)
    return {
        "vec_id": np.arange(N_EMBEDDINGS, dtype=np.int64),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, N_EMBEDDINGS).astype(np.int32),
    }


@dataclass
class Tables:
    """What the checks need to know about the generated base tables."""

    data_dir: str
    line_orderkey: np.ndarray  # l_orderkey per lineitem row
    line_linenumber: np.ndarray
    lines_per_order: np.ndarray  # indexed by o_orderkey


def write_tables(out_dir: str, seed: int, names: tuple[str, ...] | None = None) -> Tables:
    """Write the sf0.1 tables (or just ``names``) as one parquet file each.
    All ten are drawn in a fixed order from one seeded stream, so a table's
    content does not depend on which others were requested."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tabs: dict[str, dict] = {}
    tabs["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    tabs["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    tabs["customer"] = {
        "c_custkey": np.arange(N_CUSTOMERS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMERS).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMERS),
        "c_mktsegment": _pick(rng, _SEGMENTS, N_CUSTOMERS),
    }
    tabs["supplier"] = {
        "s_suppkey": np.arange(N_SUPPLIERS, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIERS).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIERS),
    }
    tabs["part"] = {
        "p_partkey": np.arange(N_PARTS, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _PART_ADJ, N_PARTS), _pick(rng, _PART_NOUN, N_PARTS))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PARTS)],
        "p_type": _pick(rng, _PART_TYPES, N_PARTS),
        "p_size": rng.integers(1, 51, N_PARTS).astype(np.int32),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, N_PARTS) / 10, 2),
    }
    tabs["orders"] = {
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, N_ORDERS) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITIES, N_ORDERS),
    }
    # lineitem: each row picks its order at random (so some orders get none
    # and line numbers can repeat within an order, as in the test tables)
    l_orderkey = rng.integers(0, N_ORDERS, N_LINES).astype(np.int64)
    l_linenumber = rng.integers(1, 8, N_LINES).astype(np.int32)
    tabs["lineitem"] = {
        "l_orderkey": l_orderkey,
        "l_partkey": rng.integers(0, N_PARTS, N_LINES).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, N_LINES).astype(np.int64),
        "l_linenumber": l_linenumber,
        "l_quantity": rng.integers(1, 51, N_LINES).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINES),
        "l_discount": rng.integers(0, 11, N_LINES) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINES) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINES),
        "l_linestatus": _pick(rng, ["F", "O"], N_LINES),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, N_LINES) * _DAY_US),
    }
    ev_type = rng.integers(0, len(_EVENT_TYPES), N_EVENTS)
    tabs["events"] = {
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(np.sort(_EPOCH_2024 + rng.integers(0, 30 * _DAY_US, N_EVENTS))),
        "user_id": rng.integers(0, 1500, N_EVENTS).astype(np.int64),
        "event_type": np.asarray(_EVENT_TYPES, dtype=object)[ev_type].tolist(),
        "value": np.where(
            _EVENT_TYPES.index("purchase") == ev_type,
            _money(rng, 5.0, 560.0, N_EVENTS),
            _money(rng, 0.0, 50.0, N_EVENTS),
        ),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    }
    tabs["documents"] = _documents(rng)
    tabs["embeddings"] = _embeddings(rng)
    for name, cols in tabs.items():
        if names is None or name in names:
            _write(out_dir, name, cols)
    return Tables(
        out_dir,
        l_orderkey,
        l_linenumber,
        np.bincount(l_orderkey, minlength=N_ORDERS),
    )


def _changelog_table(
    table_name: list[str] | str,
    key_id: np.ndarray,
    version: np.ndarray,
    op: list[str] | str,
    ts_us: np.ndarray,
) -> pa.Table:
    """One batch in the streaming.changelog.CHANGELOG_SCHEMA convention."""
    n = len(key_id)
    rep = lambda v: [v] * n if isinstance(v, str) else v  # noqa: E731
    return pa.table(
        {
            "table_name": pa.array(rep(table_name), pa.string()),
            "key_id": pa.array(key_id, pa.int64()),
            "change_version": pa.array(version, pa.int64()),
            "op": pa.array(rep(op), pa.string()),
            "ts": pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us", tz="UTC")),
        }
    )


def write_atomic(table: pa.Table, log_dir: str, name: str) -> None:
    """Write-then-rename, so a reader listing the log never sees a partial
    file (dot-prefixed names are hidden from Spark's file listing)."""
    tmp = os.path.join(log_dir, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(log_dir, name))


def write_header_inserts(log_dir: str, n_invoices: int) -> None:
    """The initial-sync change log: one header insert per invoice
    0..n-1 at version key+1 (bench.cdc_pipeline_throughput's shape)."""
    os.makedirs(log_dir, exist_ok=True)
    keys = np.arange(n_invoices, dtype=np.int64)
    now = np.full(n_invoices, time.time_ns() // 1000, dtype=np.int64)
    write_atomic(
        _changelog_table(HEADER_TABLE, keys, keys + 1, "I", now), log_dir, "history.parquet"
    )


# The trickle stream's change mix, as shares of generated rows. The
# shares are synthetic: they follow the qualitative mix the benchmark was
# specified with (line-only updates, hot keys, version ties, a few
# deletes), not any measured or published traffic.
TICK_S = 0.2  # one change file per tick: 5 files/s for pulls to list
LINE_SHARE = 0.5  # line-only updates (recovery join runs)
HOT_SHARE = 0.2  # rows aimed at the hot key set
HOT_KEYS = 100
TIE_SHARE = 0.2  # rows that reuse the previous row's version
DELETE_SHARE = 0.01  # header deletes (op 'D')


@dataclass
class Change:
    invoice_id: int
    version: int
    due_ns: int  # wall-clock time (time.time_ns) the change was due


@dataclass
class StreamLog:
    changes: list[Change] = field(default_factory=list)
    late_ms: list[float] = field(default_factory=list)  # per tick
    files: int = 0


class TrickleGenerator(threading.Thread):
    """Open-loop change producer: one parquet file per tick at a fixed
    rate, over invoices ``0..n_invoices-1`` whose lines are known.

    Each tick's rows are stamped (``ts``) with the tick's due time; the
    schedule is absolute (due = start + k * tick), so a late tick is
    recorded, never silently absorbed into the next one."""

    def __init__(self, log_dir: str, tables: Tables, n_invoices: int, first_version: int, seed: int, rate_per_s: int):
        super().__init__(name="trickle-generator", daemon=True)
        self.log_dir = log_dir
        self.rate_per_s = rate_per_s
        self.rng = np.random.default_rng(seed + 1)
        self.version = first_version
        self.log = StreamLog()
        self._stop_evt = threading.Event()
        self._lock = threading.Lock()
        in_range = np.nonzero(tables.line_orderkey < n_invoices)[0]
        in_range = in_range[np.argsort(tables.line_orderkey[in_range], kind="stable")]
        self._line_order = tables.line_orderkey[in_range]
        self._line_key = self._line_order * LINE_KEY_MULT + tables.line_linenumber[in_range]
        self.n_invoices = n_invoices
        self._hot = self.rng.choice(n_invoices, HOT_KEYS, replace=False)
        self.error: BaseException | None = None

    def _tick_rows(self, n: int, due_ns: int) -> tuple[pa.Table, list[Change]]:
        rng = self.rng
        is_line = rng.random(n) < LINE_SHARE
        is_hot = rng.random(n) < HOT_SHARE
        invoice = np.where(
            is_hot, self._hot[rng.integers(0, HOT_KEYS, n)], rng.integers(0, self.n_invoices, n)
        )
        key = invoice.copy()
        tables = np.where(is_line, LINE_TABLE, HEADER_TABLE).tolist()
        # a line-only change names one of its invoice's lines by line PK
        # (invoices without lines fall back to a header change)
        lo = np.searchsorted(self._line_order, invoice, "left")
        hi = np.searchsorted(self._line_order, invoice, "right")
        for i in np.nonzero(is_line)[0]:
            if hi[i] > lo[i]:
                key[i] = self._line_key[rng.integers(lo[i], hi[i])]
            else:
                tables[i] = HEADER_TABLE
        ops = np.where(
            (np.asarray(tables) == HEADER_TABLE) & (rng.random(n) < DELETE_SHARE), "D", "U"
        ).tolist()
        step = (rng.random(n) >= TIE_SHARE).astype(np.int64)
        step[0] = 1
        versions = self.version + np.cumsum(step)
        self.version = int(versions[-1])
        ts = np.full(n, due_ns // 1000, dtype=np.int64)
        changes = [Change(int(i), int(v), due_ns) for i, v in zip(invoice, versions)]
        return _changelog_table(tables, key, versions, ops, ts), changes

    def run(self) -> None:
        per_tick = max(1, round(self.rate_per_s * TICK_S))
        tick_ns = int(TICK_S * 1e9)
        start = time.time_ns() + tick_ns
        k = 0
        try:
            while not self._stop_evt.is_set():
                due = start + k * tick_ns
                wait = (due - time.time_ns()) / 1e9
                if wait > 0 and self._stop_evt.wait(wait):
                    break
                late_ms = max(0.0, (time.time_ns() - due) / 1e6)
                table, changes = self._tick_rows(per_tick, due)
                write_atomic(table, self.log_dir, f"tick-{k:07d}.parquet")
                with self._lock:
                    self.log.changes.extend(changes)
                    self.log.late_ms.append(late_ms)
                    self.log.files += 1
                k += 1
        except BaseException as exc:  # surfaced by stop(); the run then fails
            self.error = exc

    def files_written(self) -> int:
        with self._lock:
            return self.log.files

    def stop(self) -> StreamLog:
        self._stop_evt.set()
        self.join(timeout=30)
        if self.is_alive():
            raise RuntimeError("trickle generator did not stop")
        if self.error is not None:
            raise RuntimeError("trickle generator failed") from self.error
        return self.log
