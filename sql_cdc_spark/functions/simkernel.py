"""Arrow/NumPy per-bucket similarity kernels — the one physical
strategy behind the bucketed pair elections (sim_knn_join_arrow,
sim_semantic_dedup, sim_semdedup_sweep, the graph consumers and their
maintenance twins). Evaluating the 64-dim cosine per pair as
interpreted higher-order-function expressions costs ~74 µs/pair
(measured r7 — HOF folds don't participate in whole-stage codegen and
box per element); instead each bucket ships ONCE through Arrow to a
grouped-map kernel that computes tiled cosine blocks with BLAS rank-1
updates and folds the election in-kernel.

Exactness contract — the rows are the DuckDB oracles' rows
(``_knn_join_sql``, ``_semantic_dedup_sql``, ``_semdedup_sweep_sql`` in
queries/similarity_q.py), bit for bit, pinned by fuzz families 15 and 16
(tests/test_fuzz_oracle.py) across bit widths, thresholds, corpus
subsets and planted twins/clones:

- Dot products accumulate ONE DIMENSION at a time
  (``block += outer(M[:, d], M[:, d])``), so every pair's dot is the
  same left-to-right double summation DuckDB's ``list_dot_product``
  performs — never ``np.dot``/``einsum``, whose pairwise summation
  would drift the last ulp.
- Micro-cosine rounding mirrors the oracle's DOUBLE rounding
  (``ROUND(cos, 6)`` HALF_UP on the SHORTEST round-trip decimal of the
  double, the same value Spark's ``F.round`` gives, then the ×1e6
  re-round): the vectorized fast path ``floor(|x|·1e6 + 0.5)`` agrees
  everywhere except when the double product lands within ~1 ulp of a
  .5 midpoint; those rare elements fall back to ``decimal`` HALF_UP on
  ``repr(x)`` (parity pinned against F.round directly in
  tests/test_simkernel.py).
- Ties: the nearest election maxes the bijective bigint key
  (micro+1e6)·2^40 + (2^40−1−id), so the highest cosine wins and ties go
  to the SMALLEST neighbor id (the oracle's ``ORDER BY cos_sim DESC,
  nn_id``); the SemDeDup election mins mate·2^21 + (micro+1e6), so the
  SMALLEST qualifying mate wins (the oracle's ``ORDER BY mate``). Ids
  must fit 40 bits.
- Zero-norm vectors: non-finite cosines (0/0) pin to the sentinel 0,
  as the oracle's NULLIF/COALESCE guard does; fuzz family 15's planted
  zero vector and a unit test pin it.

Memory contract (VERDICT r7 #3 — the hot-bucket defense): both the
query and the MATE axis are tiled (``Q_BLOCK × M_BLOCK`` slabs with a
running per-row election state), so peak kernel memory is bounded by
the tile size plus the bucket's own vector table — LINEAR in bucket
width, never the quadratic Gram slab (a 1M-row hot bucket held a
4096×1e6 ≈ 32 GB slab under the r7 kernel; it now holds 4096×4096
≈ 134 MB regardless of width). The grouped-map input itself is the
remaining linear term: pandas materializes the whole bucket
(w·(dim+1)·8 B ≈ 0.5 GB at w=1M).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

Q_BLOCK = 4096  # query-axis tile rows
M_BLOCK = 4096  # mate-axis tile columns (r7 slabbed the full mate axis)

ID_BITS = 40  # nearest-election id budget
ID_MASK = (1 << ID_BITS) - 1
_I64_MIN = np.iinfo(np.int64).min
_I64_MAX = np.iinfo(np.int64).max


def round_micro_half_up(cos: np.ndarray) -> np.ndarray:
    """6-dp micro rounding of a cosine block, mirroring the JVM/oracle
    double-round sequence exactly — see the module docstring. Returns
    int64 micro units in [−1e6, 1e6]; non-finite inputs pin to 0."""
    finite = np.isfinite(cos)
    safe = np.where(finite, cos, 0.0)
    a = np.abs(safe)
    y = a * 1e6
    fl = np.floor(y)
    r = np.where(y - fl >= 0.5, fl + 1.0, fl)
    # Knife-edge fallback: within ~1 ulp of a .5 midpoint the double
    # product can cross it differently than the decimal Spark rounds.
    # Spark's Round is scala BigDecimal(double) = java
    # BigDecimal.valueOf = Double.toString — the SHORTEST decimal that
    # round-trips, NOT the double's exact expansion (measured: the
    # exact-expansion model rounds 5e-7 to 0, Spark rounds it to 1).
    # Python repr() is the same shortest-round-trip decimal, so
    # Decimal(repr(x)) reproduces the JVM digit-for-digit. Both the
    # repr-vs-exact gap and the product rounding error are < ~2e-10
    # micro, so the 1e-9 window safely covers every divergence.
    edge = finite & (np.abs((y - fl) - 0.5) < 1e-9)
    if edge.any():
        import decimal

        one = decimal.Decimal(1)
        for idx in np.argwhere(edge):
            t = tuple(idx)
            r[t] = int(
                decimal.Decimal(repr(float(a[t])))
                .scaleb(6)
                .quantize(one, rounding=decimal.ROUND_HALF_UP)
            )
    return (r * np.sign(safe)).astype(np.int64)


def _prep(pdf: pd.DataFrame) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Bucket rows → (M, ids, norms) with the fold-order norm."""
    M = np.stack([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    s = np.zeros(len(pdf))
    for d in range(M.shape[1]):  # L2R per-dimension accumulation
        s = s + M[:, d] * M[:, d]
    return M, ids, np.sqrt(s)


def _micro_tiles(M, n_all, q_block, m_block):
    """Yield (qlo, qhi, mlo, mhi, r) tiles of the bucket's micro-rounded
    cosine matrix; each tile accumulates its Gram block one dimension
    at a time (the exactness contract)."""
    w, dims = M.shape
    for qlo in range(0, w, q_block):
        qhi = min(qlo + q_block, w)
        for mlo in range(0, w, m_block):
            mhi = min(mlo + m_block, w)
            block = np.zeros((qhi - qlo, mhi - mlo))
            for d in range(dims):
                block = block + np.outer(M[qlo:qhi, d], M[mlo:mhi, d])
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = block / np.outer(n_all[qlo:qhi], n_all[mlo:mhi])
            yield qlo, qhi, mlo, mhi, round_micro_half_up(cos)


def _empty(cols: dict[str, str]) -> pd.DataFrame:
    return pd.DataFrame(
        {c: pd.Series([], dtype=t) for c, t in cols.items()}
    )


def elect_nearest_pdf(
    pdf: pd.DataFrame,
    with_bucket: bool = False,
    q_block: int = Q_BLOCK,
    m_block: int = M_BLOCK,
) -> pd.DataFrame:
    """Per-row top-1 mate by (cos desc, id asc) — the k-NN election
    (the oracle's ROW_NUMBER over cos_sim DESC, nn_id), folded as a
    running max of the bijective bigint key ((micro+1e6)·2^40 +
    (2^40−1−id)) across mate tiles; vectors alone in their bucket emit
    no row."""
    cols = {"vec_id": "int64", "nn_id": "int64", "cos_sim": "float64"}
    if with_bucket:
        cols["bucket"] = "int32"
    if len(pdf) < 2:  # vectors alone in their bucket emit no row
        return _empty(cols)
    M, ids, n_all = _prep(pdf)
    comp = ID_MASK - ids  # id complement (ties → smallest id wins max)
    best = np.full(len(pdf), _I64_MIN, dtype=np.int64)
    for qlo, qhi, mlo, mhi, r in _micro_tiles(M, n_all, q_block, m_block):
        key = (r + 1_000_000) * (1 << ID_BITS) + comp[None, mlo:mhi]
        # mask self-pairs where the diagonal crosses this tile
        dlo, dhi = max(qlo, mlo), min(qhi, mhi)
        if dlo < dhi:
            dq = np.arange(dlo, dhi)
            key[dq - qlo, dq - mlo] = _I64_MIN
        best[qlo:qhi] = np.maximum(best[qlo:qhi], key.max(axis=1))
    out = {
        "vec_id": ids,
        "nn_id": ID_MASK - (best & ID_MASK),
        "cos_sim": ((best >> ID_BITS) - 1_000_000) / 1e6,
    }
    if with_bucket:
        out["bucket"] = np.full(
            len(pdf), np.int32(pdf["bucket"].iloc[0]), dtype=np.int32
        )
    return pd.DataFrame(out)


def elect_dropped_pdf(
    pdf: pd.DataFrame,
    t_micro: int,
    q_block: int = Q_BLOCK,
    m_block: int = M_BLOCK,
) -> pd.DataFrame:
    """The SemDeDup election: per row, the SMALLEST smaller-id mate with
    micro-cosine ≥ t_micro (the oracle's first qualifying mate by id),
    folded as a running min of the bigint key (mate·2^21 + micro+1e6);
    rows with no qualifying mate emit nothing."""
    cols = {
        "vec_id": "int64",
        "keeper_id": "int64",
        "cos_sim": "float64",
        "bucket": "int32",
    }
    if len(pdf) < 2:
        return _empty(cols)
    M, ids, n_all = _prep(pdf)
    best = np.full(len(pdf), _I64_MAX, dtype=np.int64)
    for qlo, qhi, mlo, mhi, r in _micro_tiles(M, n_all, q_block, m_block):
        mid = ids[mlo:mhi]
        qual = (mid[None, :] < ids[qlo:qhi, None]) & (r >= t_micro)
        key = np.where(
            qual, mid[None, :] * (1 << 21) + (r + 1_000_000), _I64_MAX
        )
        best[qlo:qhi] = np.minimum(best[qlo:qhi], key.min(axis=1))
    hit = best != _I64_MAX
    return pd.DataFrame(
        {
            "vec_id": ids[hit],
            "keeper_id": best[hit] >> 21,
            "cos_sim": ((best[hit] & ((1 << 21) - 1)) - 1_000_000) / 1e6,
            "bucket": np.full(
                int(hit.sum()), np.int32(pdf["bucket"].iloc[0]), dtype=np.int32
            ),
        }
    )


def exact_probe_topk_kernel(probes: list[tuple[int, list[float]]], k: int):
    """mapInArrow generator factory: exact top-k per FIXED probe over
    the whole vector table in ONE scan (the recall-eval exact
    reference — r10, the VERDICT r9 ruling electing the kernel for eval
    references). Per batch, every row's cosine against the probe matrix
    accumulates one dimension at a time (the module exactness contract)
    and rounds through round_micro_half_up (bit-equal to F.round by the
    standing parity test); a running per-probe top-k folded by
    (micro desc, id asc) crosses batches, so each task emits at most
    |probes|·k rows. Per-probe top-k is distributive, so the caller's
    global (micro desc, id asc) top-k over task winners reproduces the
    JVM ``orderBy(cos desc, vec_id).limit(k)`` membership exactly. Rows
    whose id equals the probe's id are excluded (the eval's self-pair
    filter)."""
    pid_list = [p for p, _ in probes]
    vec_list = [list(v) for _, v in probes]

    def kernel(batches):
        import numpy as np
        import pyarrow as pa

        from sql_cdc_spark.functions.simkernel import round_micro_half_up

        if not pid_list:
            return
        P = np.asarray(vec_list, dtype=np.float64)
        pids = np.asarray(pid_list, dtype=np.int64)
        n_p, dims = P.shape
        pn = np.zeros(n_p)
        for d in range(dims):
            pn = pn + P[:, d] * P[:, d]
        pn = np.sqrt(pn)
        best_ids = [np.empty(0, dtype=np.int64) for _ in range(n_p)]
        best_mi = [np.empty(0, dtype=np.int64) for _ in range(n_p)]
        for batch in batches:
            ids = np.asarray(batch.column(0).to_pylist(), dtype=np.int64)
            if ids.size == 0:
                continue
            M = np.asarray(batch.column(1).to_pylist(), dtype=np.float64)
            nr = np.zeros(ids.size)
            acc = np.zeros((ids.size, n_p))
            for d in range(dims):  # L2R per-dimension accumulation
                col = M[:, d]
                nr = nr + col * col
                acc = acc + np.outer(col, P[:, d])
            nr = np.sqrt(nr)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / np.outer(nr, pn)
            mi = round_micro_half_up(cos)
            for j in range(n_p):
                keep = ids != pids[j]
                cid = np.concatenate([best_ids[j], ids[keep]])
                cmi = np.concatenate([best_mi[j], mi[keep, j]])
                order = np.lexsort((cid, -cmi))[:k]
                best_ids[j], best_mi[j] = cid[order], cmi[order]
        if any(len(b) for b in best_ids):
            out_pid = np.concatenate(
                [
                    np.full(len(best_ids[j]), pids[j], dtype=np.int64)
                    for j in range(n_p)
                ]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_pid),
                    pa.array(np.concatenate(best_ids)),
                    pa.array(np.concatenate(best_mi)),
                ],
                ["probe_id", "vec_id", "micro"],
            )

    return kernel


def max_mate_micro_pdf(
    pdf: pd.DataFrame,
    q_block: int = Q_BLOCK,
    m_block: int = M_BLOCK,
) -> pd.DataFrame:
    """Per row, the MAX micro-cosine over smaller-id mates (the
    semdedup-sweep fold); rows with no smaller-id mate emit nothing."""
    cols = {"vec_id": "int64", "max_cm": "int64"}
    if len(pdf) < 2:
        return _empty(cols)
    M, ids, n_all = _prep(pdf)
    best = np.full(len(pdf), _I64_MIN, dtype=np.int64)
    for qlo, qhi, mlo, mhi, r in _micro_tiles(M, n_all, q_block, m_block):
        qual = ids[None, mlo:mhi] < ids[qlo:qhi, None]
        key = np.where(qual, r, _I64_MIN)
        best[qlo:qhi] = np.maximum(best[qlo:qhi], key.max(axis=1))
    hit = best != _I64_MIN
    return pd.DataFrame({"vec_id": ids[hit], "max_cm": best[hit]})
