"""functions/simkernel.py — the hardened Arrow election kernels:
tile-size invariance (the hot-bucket defense must not change a single
bit), JVM-rounding parity on knife-edge cosines, the zero-norm
sentinel, and a mega-bucket run whose peak memory is bounded by the
tile, not the bucket width (VERDICT r7 #2/#3, ADVICE r7)."""

import decimal

import numpy as np
import pandas as pd
import pytest

from sql_cdc_spark.functions import simkernel as K


def _bucket_pdf(n, dims=16, seed=7, bucket=3):
    rng = np.random.default_rng(seed)
    ids = rng.permutation(np.arange(n, dtype=np.int64) * 13 + 2)
    M = rng.normal(size=(n, dims))
    # plant twins (cosine exactly 1.0, the argmax-tie case) and a few
    # scaled clones
    if n >= 6:
        M[1] = M[0]
        M[3] = M[2] * 1.5
    return pd.DataFrame(
        {
            "vec_id": ids,
            "embedding": [row.tolist() for row in M],
            "bucket": np.full(n, bucket, dtype=np.int32),
        }
    )


TILINGS = [(1, 1), (3, 5), (7, 2), (64, 32), (K.Q_BLOCK, K.M_BLOCK)]


@pytest.mark.parametrize("fn", ["nearest", "dropped", "max_mate"])
def test_kernels_tile_size_invariant(fn):
    """Every (q_block, m_block) tiling — down to 1×1, where the
    diagonal self-mask crosses every tile — must produce identical
    frames: the running-election fold is associative over tiles by
    construction, and this pins it."""
    pdf = _bucket_pdf(53)
    outs = []
    for q, m in TILINGS:
        if fn == "nearest":
            out = K.elect_nearest_pdf(pdf, with_bucket=True, q_block=q, m_block=m)
        elif fn == "dropped":
            out = K.elect_dropped_pdf(pdf, t_micro=100_000, q_block=q, m_block=m)
        else:
            out = K.max_mate_micro_pdf(pdf, q_block=q, m_block=m)
        outs.append(sorted(map(tuple, out.itertuples(index=False))))
    assert all(o == outs[0] for o in outs[1:])
    assert outs[0], "vacuous: kernel elected nothing"


def test_round_micro_half_up_matches_bigdecimal_reference():
    """The kernel's micro rounding must agree with HALF_UP on the
    double's SHORTEST round-trip decimal — BigDecimal.valueOf /
    Double.toString, what Spark's Round actually constructs (measured:
    the exact-expansion model rounds 5e-7 down, Spark rounds it up) —
    for every element, including knife-edge values within 1 ulp of a
    .5e-6 midpoint (ADVICE r7)."""
    vals = []
    for k in (0, 1, 2, 349_999, 350_000, 999_999, 1_000_000):
        base = k / 1e6
        mid = (k + 0.5) / 1e6
        for v in (base, mid):
            vals += [
                v,
                np.nextafter(v, 0.0),
                np.nextafter(v, 1.0),
                -v,
                np.nextafter(-v, 0.0),
                np.nextafter(-v, -1.0),
            ]
    arr = np.array(vals)
    got = K.round_micro_half_up(arr)
    one = decimal.Decimal(1)
    for v, g in zip(vals, got):
        want = int(
            decimal.Decimal(repr(abs(float(v))))
            .scaleb(6)
            .quantize(one, rounding=decimal.ROUND_HALF_UP)
        ) * (1 if v > 0 else (-1 if v < 0 else 0))
        assert g == want, f"{v!r}: kernel {g} != BigDecimal {want}"
    assert list(
        K.round_micro_half_up(np.array([np.nan, np.inf, -np.inf]))
    ) == [0, 0, 0]


def test_round_micro_matches_spark_round_on_knife_edges(spark):
    """The same crafted values through the ACTUAL JVM double-round
    sequence (F.round(x, 6) then F.round(·×1e6)) must equal the
    kernel's integers — the parity is with Spark itself, not just our
    BigDecimal model of it."""
    from pyspark.sql import functions as F

    vals = []
    for k in (0, 3, 349_999, 350_000, 499_999, 999_999):
        mid = (k + 0.5) / 1e6
        vals += [
            k / 1e6,
            mid,
            float(np.nextafter(mid, 0.0)),
            float(np.nextafter(mid, 1.0)),
            -mid,
            float(np.nextafter(-mid, -1.0)),
        ]
    df = spark.createDataFrame([(v,) for v in vals], "c double")
    jvm = [
        r.m
        for r in df.select(
            F.round(F.round(F.col("c"), 6) * 1_000_000)
            .cast("long")
            .alias("m")
        ).collect()
    ]
    kern = list(K.round_micro_half_up(np.array(vals)))
    assert kern == jvm


def test_zero_norm_vector_pins_cosine_sentinel_zero(spark):
    """A zero-norm embedding's cosines are 0/0; the kernel pins them to
    0 (ADVICE r7) and still elects deterministically — smallest mate id
    on the all-tie, as the oracles' NULLIF/COALESCE guard does."""
    from sql_cdc_spark.queries.similarity_q import (
        elect_dropped_arrow,
        elect_nearest_arrow,
    )

    rows = [
        (5, [0.0] * 8, 1),
        (7, [1.0, 2.0] + [0.0] * 6, 1),
        (9, [1.0, 2.0] + [0.0] * 6, 1),
    ]
    vb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, bucket int"
    )
    got = {
        r.vec_id: (r.nn_id, r.cos_sim)
        for r in elect_nearest_arrow(vb).collect()
    }
    assert got == {5: (7, 0.0), 7: (9, 1.0), 9: (7, 1.0)}
    dropped = {
        r.vec_id: (r.keeper_id, r.cos_sim)
        for r in elect_dropped_arrow(vb).collect()
    }
    # 9 has twin mate 7 above threshold; 7's only smaller-id mate is
    # the zero vector at sentinel cosine 0 (below T); 5 has no smaller
    assert dropped == {9: (7, 1.0)}


@pytest.mark.slow
def test_mega_bucket_runs_tiled_and_tile_invariant():
    """A hot bucket far wider than the tile must complete with peak
    kernel memory bounded by the TILE (the r7 kernel slabbed
    width×4096; 10k clones would already cost a 10k×4096 slab — at
    w=1M it was ~32 GB) and produce bit-identical elections under a
    different tiling."""
    rng = np.random.default_rng(11)
    base = rng.normal(size=64)
    n = 10_000
    scales = 1.0 + rng.uniform(0.0, 0.5, size=n)
    M = np.outer(scales, base)  # all-clone hot bucket: every cosine 1.0
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": [row.tolist() for row in M],
            "bucket": np.zeros(n, dtype=np.int32),
        }
    )
    a = K.elect_nearest_pdf(pdf, q_block=2048, m_block=2048)
    b = K.elect_nearest_pdf(pdf, q_block=512, m_block=4096)
    assert len(a) == n
    # every vector's best mate: cosine 1.0, smallest other id (0, or 1
    # for vector 0)
    assert (a["cos_sim"] == 1.0).all()
    assert (a["nn_id"] == np.where(a["vec_id"] == 0, 1, 0)).all()
    assert sorted(map(tuple, a.itertuples(index=False))) == sorted(
        map(tuple, b.itertuples(index=False))
    )


def test_exact_probe_topk_kernel_matches_jvm_reference(spark):
    """r10 (VERDICT r9 #2 ruling): the recall-eval exact side now runs
    through exact_probe_topk_kernel — one scan for the whole probe
    panel. Its top-k MEMBERSHIP must equal the old JVM reference (one
    topk_cosine heap scan per probe) on the driver corpus: same
    per-dimension double accumulation, same HALF_UP micro rounding,
    same (cos desc, vec_id asc) tie order. Also pins the distributive
    per-task fold: the global window over per-task winners must not
    admit a row a single-pass top-k would not."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from sql_cdc_spark import tables
    from sql_cdc_spark.functions import similarity as SIM
    from tests.conftest import SF_DIR

    k = 10
    n_probes = 6
    emb = tables.load(spark, SF_DIR, "embeddings")
    probes = [
        (int(r.vec_id), [float(x) for x in r.e])
        for r in emb.filter(F.col("vec_id") < n_probes)
        .select("vec_id", SIM.as_double_array(F.col("embedding")).alias("e"))
        .orderBy("vec_id")
        .collect()
    ]
    assert len(probes) == n_probes
    part = emb.select(
        "vec_id", SIM.as_double_array(F.col("embedding")).alias("embedding")
    ).mapInArrow(
        K.exact_probe_topk_kernel(probes, k),
        "probe_id long, vec_id long, micro long",
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("micro").desc(), F.col("vec_id").asc()
    )
    got = {
        (r.probe_id, r.vec_id)
        for r in part.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .collect()
    }
    want = set()
    for p in range(n_probes):
        q = emb.filter(F.col("vec_id") == p).select("embedding")
        for r in SIM.topk_cosine(
            emb.filter(F.col("vec_id") != p), q, k=k
        ).collect():
            want.add((p, r.vec_id))
    assert got == want
    assert len(want) == n_probes * k
