"""Similarity-search queries over the embeddings table (north-star
extension): brute-force cosine top-k (the exact baseline) and the
LSH-bucketed scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sql_cdc_spark import tables
from sql_cdc_spark.functions import similarity as SIM
from sql_cdc_spark.queries import QueryEntry

QUERY_VEC_ID = 0
TOP_K = 10
LSH_BITS = 8
DIM = 64


def sim_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against the query vector (vec_id=0):
    broadcast 1-row query → scan → TakeOrderedAndProject. The exact-recall
    baseline every ANN variant is measured against."""
    emb = tables.load(spark, sf_dir, "embeddings")
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding")
    return SIM.topk_cosine(emb, query, k=TOP_K)


_TOPK_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_VEC_ID})
SELECT v.vec_id,
       ROUND(list_dot_product(v.e, q.qe)
             / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))), 6)
         AS cos_sim
FROM v, q
ORDER BY cos_sim DESC, v.vec_id ASC
LIMIT {TOP_K}
"""


def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH bucket per vector (8 deterministic
    Knuth-hash hyperplanes → 256 buckets). At corpus scale, ANN search
    probes only the query's bucket (+ neighbors for recall) instead of
    scanning all vectors; all-pairs similarity joins become per-bucket."""
    emb = tables.load(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        SIM.lsh_bucket(F.col("embedding"), n_bits=LSH_BITS, dim=DIM)
        .cast("int")
        .alias("bucket"),
    )


def _lsh_sql(n_bits: int = LSH_BITS, emb_rel: str = "embeddings") -> str:
    # same Knuth-multiplicative hyperplane weights as functions/similarity.py;
    # parameterized (n_bits, source relation) for the family-15 fuzz — the
    # defaults render the registered queries' exact text
    bit_terms = []
    for i in range(n_bits):
        weights = (
            f"list_transform(range(0, {DIM}), "
            f"d -> (((1 + {i * DIM} + d) * 2654435761) % 2147483648) / 2147483648.0 - 0.5)"
        )
        bit_terms.append(
            f"CASE WHEN list_dot_product(e, {weights}) > 0 THEN {1 << i} ELSE 0 END"
        )
    expr = " + ".join(bit_terms)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM {emb_rel})
SELECT vec_id, CAST({expr} AS INTEGER) AS bucket FROM v
"""


def sim_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k: restrict the scan to the query's LSH bucket, then exact
    cosine within it — the IVF/LSH-probe shape. Recall vs the brute-force
    baseline is property-tested in tests/test_llm_ops.py."""
    emb = tables.load(spark, sf_dir, "embeddings")
    bucketed = emb.select(
        "vec_id",
        "embedding",
        SIM.lsh_bucket(F.col("embedding"), n_bits=LSH_BITS, dim=DIM).alias("bucket"),
    )
    qrow = bucketed.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("__qvec"), F.col("bucket").alias("__qbucket")
    )
    a = SIM.as_double_array(F.col("embedding"))
    b = SIM.as_double_array(F.col("__qvec"))
    return (
        bucketed.join(F.broadcast(qrow), F.col("bucket") == F.col("__qbucket"))
        .select("vec_id", SIM.cosine(a, b).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


def _bucketed_topk_sql() -> str:
    lsh = _lsh_sql().strip()
    # reuse the bucket expression as a CTE
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS ({lsh.replace('WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)', '')} ),
vb AS (SELECT v.vec_id, v.e, b.bucket FROM v JOIN b USING (vec_id)),
q AS (SELECT e AS qe, bucket AS qb FROM vb WHERE vec_id = {QUERY_VEC_ID})
SELECT vb.vec_id,
       ROUND(list_dot_product(vb.e, q.qe)
             / (sqrt(list_dot_product(vb.e, vb.e)) * sqrt(list_dot_product(q.qe, q.qe))), 6)
         AS cos_sim
FROM vb, q WHERE vb.bucket = q.qb
ORDER BY cos_sim DESC, vb.vec_id ASC
LIMIT {TOP_K}
"""


def sim_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: search the query's bucket plus all hamming-1
    neighbor buckets (one flipped hyperplane bit) — the standard recall
    lever when a near vector straddles a hyperplane. Probes 1+8 of 256
    buckets ≈ 3.5% of the corpus."""
    emb = tables.load(spark, sf_dir, "embeddings")
    bucketed = emb.select(
        "vec_id",
        "embedding",
        SIM.lsh_bucket(F.col("embedding"), n_bits=LSH_BITS, dim=DIM).alias("bucket"),
    )
    qrow = bucketed.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("embedding").alias("__qvec"), F.col("bucket").alias("__qbucket")
    )
    probes = F.array(
        F.col("__qbucket"),
        *[F.col("__qbucket").bitwiseXOR(F.lit(1 << i)) for i in range(LSH_BITS)],
    )
    a = SIM.as_double_array(F.col("embedding"))
    b = SIM.as_double_array(F.col("__qvec"))
    return (
        bucketed.join(
            F.broadcast(qrow), F.array_contains(probes, F.col("bucket"))
        )
        .select("vec_id", SIM.cosine(a, b).alias("cos_sim"))
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


def _multiprobe_sql() -> str:
    lsh = _lsh_sql().strip()
    neighbors = ", ".join(f"xor(q.qb, {1 << i})" for i in range(LSH_BITS))
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS ({lsh.replace('WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)', '')} ),
vb AS (SELECT v.vec_id, v.e, b.bucket FROM v JOIN b USING (vec_id)),
q AS (SELECT e AS qe, bucket AS qb FROM vb WHERE vec_id = {QUERY_VEC_ID})
SELECT vb.vec_id,
       ROUND(list_dot_product(vb.e, q.qe)
             / (sqrt(list_dot_product(vb.e, vb.e)) * sqrt(list_dot_product(q.qe, q.qe))), 6)
         AS cos_sim
FROM vb, q WHERE vb.bucket IN (q.qb, {neighbors})
ORDER BY cos_sim DESC, vb.vec_id ASC
LIMIT {TOP_K}
"""


IVF_N_PROBE = 4
IVF_RECALL_BOUND = 0.3  # measured 0.5 at sf0.01 (deterministic: seeded fit)


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a hash-gated accuracy contract. The k-means result
    itself is not SQL-expressible, so the emitted row is the CONTRACT, not
    the neighbor list: recall@k of the IVF search vs the exact brute-force
    top-k, computed in-plan (left-semi join of the two id sets), plus the
    boolean ``recall_ok`` (≥ IVF_RECALL_BOUND). The oracle emits the
    expected literals, so a quantizer/probe regression flips recall_ok and
    fails the driver hash (round-2 verdict #3). Membership/self-retrieval
    properties remain pytest-gated in tests/test_llm_ops.py.

    The synthetic embeddings are uniform random (no cluster structure), so
    recall tracks the scanned fraction: n_probe=4 of 16 centroids scans
    ~1/4 of the corpus and measures 0.5 recall@10 at sf0.01."""
    emb = tables.load(spark, sf_dir, "embeddings")
    ivf = SIM.ivf_topk(emb, query_id=QUERY_VEC_ID, k=TOP_K, n_probe=IVF_N_PROBE)
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding")
    exact = SIM.topk_cosine(emb, query, k=TOP_K)
    hits = ivf.select("vec_id").join(exact.select("vec_id"), "vec_id", "left_semi")
    return hits.agg(F.count(F.lit(1)).alias("__n_hits")).select(
        F.lit(TOP_K).alias("k"),
        F.lit(IVF_N_PROBE).alias("n_probe"),
        (F.col("__n_hits") / TOP_K >= IVF_RECALL_BOUND).alias("recall_ok"),
    )


_IVF_SQL = f"""
SELECT {TOP_K} AS k, {IVF_N_PROBE} AS n_probe, TRUE AS recall_ok
"""


def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label element-wise centroid of the embedding vectors — the
    primitive under IVF coarse quantizers and k-means clustering, as one
    posexplode + one groupBy (map-side partial sums; shuffle is
    |labels|×dim rows regardless of corpus size). Sums run in integer
    micro-units (CLAUDE.md cents rule) so the result is bit-identical
    across engines and partition orders."""
    emb = tables.load(spark, sf_dir, "embeddings")
    pe = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    micros = F.round(F.col("v").cast("double") * 1e6).cast("long")
    return (
        pe.groupBy("label", "pos")
        .agg(
            F.round(F.sum(micros) / (F.count(F.lit(1)) * 1e6), 6).alias("centroid"),
            F.count(F.lit(1)).alias("n_vecs"),
        )
        .orderBy("label", "pos")
    )


_CENTROIDS_SQL = f"""
SELECT label, p - 1 AS pos,
       ROUND(SUM(CAST(ROUND(CAST(embedding[p] AS DOUBLE) * 1000000, 0) AS BIGINT))
             / (COUNT(*) * 1000000.0), 6) AS centroid,
       COUNT(*) AS n_vecs
FROM embeddings, generate_series(1, {DIM}) t(p)
GROUP BY label, p ORDER BY label, pos
"""


def sim_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid assignment (the k-means E-step, and the eval pass
    of a centroid classifier): every vector goes to the label centroid
    with the smallest squared L2 distance. All arithmetic is exact —
    vectors and centroids live in the integer-micro domain (element →
    round(x·1e6), centroid element → floor(mean+0.5)), so dist² is a
    bigint and the argmin is bit-identical cross-engine with no float
    tolerance. Scale shape: centroids come from ONE groupBy carrying dim
    per-dimension sum columns (map-side combined; the shuffle is |labels|
    rows × dim ints — posexplode would instead shuffle |corpus|×dim rows);
    the scan side is one pass, the per-vector argmin folds |labels|
    candidate rows with a map-side combinable min(struct) — no window, no
    corpus-wide sort."""
    emb = tables.load(spark, sf_dir, "embeddings")
    dim_sum = [
        F.sum(
            F.round(F.element_at("embedding", d + 1).cast("double") * 1e6).cast(
                "long"
            )
        ).alias(f"s{d}")
        for d in range(DIM)
    ]
    sums = emb.groupBy("label").agg(*dim_sum, F.count(F.lit(1)).alias("n"))
    carr = sums.select(
        F.col("label").alias("c_label"),
        F.array(
            *[
                F.floor(F.col(f"s{d}") / F.col("n") + 0.5).cast("long")
                for d in range(DIM)
            ]
        ).alias("cv"),
    )
    micro = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )
    # dist² via the norm decomposition ‖x‖² − 2x·c + ‖c‖²: the vector and
    # centroid norms are folded ONCE each (per row / per broadcast
    # centroid) and only the dot product is per-pair — measured ~9%
    # faster than the per-pair (a−b)² fold at sf0.1, with bit-identical
    # bigints (products ≪ 2^63, so the decomposition is exact)
    base = emb.select("vec_id", "label", micro.alias("mv")).withColumn(
        "x2",
        F.aggregate(
            F.transform("mv", lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )
    carr = carr.withColumn(
        "c2",
        F.aggregate(
            F.transform("cv", lambda v: v * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ),
    )
    dot = F.aggregate(
        F.zip_with("mv", "cv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    best = (
        base.crossJoin(F.broadcast(carr))
        .select(
            "vec_id",
            "label",
            "c_label",
            (F.col("x2") - 2 * dot + F.col("c2")).alias("dist2"),
        )
        .groupBy("vec_id", "label")
        .agg(F.min(F.struct(F.col("dist2"), F.col("c_label"))).alias("b"))
    )
    return best.select(
        "vec_id",
        "label",
        F.col("b.c_label").alias("assigned_label"),
        F.col("b.dist2").alias("dist2"),
        (F.col("label") == F.col("b.c_label")).alias("is_own_label"),
    ).orderBy("vec_id")


_CENTROID_ASSIGN_SQL = f"""
WITH pe AS (
  SELECT label, p - 1 AS pos,
         CAST(floor(SUM(CAST(round(CAST(embedding[p] AS DOUBLE) * 1000000) AS BIGINT))
                    * 1.0 / COUNT(*) + 0.5) AS BIGINT) AS c
  FROM embeddings, generate_series(1, {DIM}) t(p)
  GROUP BY label, p
),
carr AS (
  SELECT label AS c_label, list(c ORDER BY pos) AS cv FROM pe GROUP BY label
),
mv AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS m
  FROM embeddings
),
scored AS (
  SELECT v.vec_id, v.label, c.c_label,
         (SELECT CAST(SUM((v.m[i] - c.cv[i]) * (v.m[i] - c.cv[i])) AS BIGINT)
          FROM UNNEST(generate_series(1, len(v.m))) AS t(i)) AS dist2
  FROM mv v CROSS JOIN carr c
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) AS rn
  FROM scored
)
SELECT vec_id, label, c_label AS assigned_label, dist2,
       label = c_label AS is_own_label
FROM ranked WHERE rn = 1 ORDER BY vec_id
"""


def sim_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization — the storage/bandwidth
    scale path for ANN at 100 TB (4 bytes/dim → 1). All arithmetic runs
    in an exact integer-microsecond domain: element → round(x·1e6) as
    bigint, scale = max|micro|, q = floor(micro·127/scale + 0.5) —
    floor(x+0.5) sidesteps engine round-half conventions, and every
    product stays ≪ 2^53 so the doubles are exact. Emits per-vector
    checksums (sum of quantized codes, total abs dequantization error in
    micros) — a quantizer regression moves the hash. Pure scan-side
    column algebra: zero shuffles, zero UDFs."""
    emb = tables.load(spark, sf_dir, "embeddings")

    def q_of(m):  # quantized code of a micro element (needs `scale` col)
        return F.floor(m * 127.0 / F.col("scale_micro") + 0.5).cast("long")

    def dq_of(m):  # dequantized micros of the same element
        return F.floor(q_of(m) * F.col("scale_micro") / 127.0 + 0.5).cast("long")

    micro = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )
    return (
        emb.withColumn("micro", micro)
        .withColumn(
            "scale_micro",
            F.greatest(
                F.array_max(F.transform(F.col("micro"), lambda v: F.abs(v))),
                F.lit(1).cast("long"),
            ),
        )
        .select(
            "vec_id",
            "scale_micro",
            F.aggregate(
                F.col("micro"),
                F.lit(0).cast("long"),
                lambda acc, m: acc + q_of(m),
            ).alias("sum_q"),
            F.aggregate(
                F.col("micro"),
                F.lit(0).cast("long"),
                lambda acc, m: acc + F.abs(m - dq_of(m)),
            ).alias("sum_abs_err_micro"),
        )
        .orderBy("vec_id")
    )


# shared CTE text: micro-domain embedding + per-vector scale (the same
# constants drive both quantization oracles, so they cannot drift)
_MICRO_CTES = """m AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS micro
  FROM embeddings
),
s AS (
  SELECT vec_id, micro,
         GREATEST(list_max(list_transform(micro, v -> abs(v))), 1) AS scale_micro
  FROM m
)"""

_QUANTIZE_SQL = f"""
WITH {_MICRO_CTES}
SELECT vec_id, scale_micro,
       CAST(list_sum(list_transform(micro,
            v -> CAST(floor(v * 127.0 / scale_micro + 0.5) AS BIGINT))) AS BIGINT) AS sum_q,
       CAST(list_sum(list_transform(micro,
            v -> abs(v - CAST(floor(CAST(floor(v * 127.0 / scale_micro + 0.5) AS BIGINT)
                                    * scale_micro / 127.0 + 0.5) AS BIGINT)))) AS BIGINT)
         AS sum_abs_err_micro
FROM s ORDER BY vec_id
"""


def sim_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN search in the int8 domain — the 100 TB hot path: score every
    vector by the INTEGER dot product of quantized codes (4× less
    memory-bandwidth than float32; SIMD-friendly on real hardware), rank
    by qdot·scale_v·scale_q (exact bigint, ≪ 2^63). The query's codes are
    one broadcast row; the scan stays scan-local and the bounded top-k
    compiles to TakeOrderedAndProject. Every step is integer-exact, so
    the DuckDB oracle reproduces the ranking bit-for-bit — no float
    tolerance anywhere."""
    emb = tables.load(spark, sf_dir, "embeddings")
    micro = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )
    base = (
        emb.withColumn("micro", micro)
        .withColumn(
            "scale_micro",
            F.greatest(
                F.array_max(F.transform(F.col("micro"), lambda v: F.abs(v))),
                F.lit(1).cast("long"),
            ),
        )
        .withColumn(
            "qv",
            F.transform(
                F.col("micro"),
                lambda m: F.floor(m * 127.0 / F.col("scale_micro") + 0.5).cast(
                    "long"
                ),
            ),
        )
        .select("vec_id", "scale_micro", "qv")
    )
    qrow = base.filter(F.col("vec_id") == QUERY_VEC_ID).select(
        F.col("qv").alias("qqv"), F.col("scale_micro").alias("qscale")
    )
    qdot = F.aggregate(
        F.zip_with("qv", "qqv", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return (
        base.crossJoin(F.broadcast(qrow))
        .select(
            "vec_id",
            qdot.alias("qdot"),
            (F.col("scale_micro") * F.col("qscale")).alias("__ss"),
        )
        .select(
            "vec_id", "qdot", (F.col("qdot") * F.col("__ss")).alias("qscore")
        )
        .orderBy(F.col("qscore").desc(), F.col("vec_id").asc())
        .limit(TOP_K)
    )


_QTOPK_SQL = f"""
WITH {_MICRO_CTES},
q AS (
  SELECT vec_id, scale_micro,
         list_transform(micro, v -> CAST(floor(v * 127.0 / scale_micro + 0.5) AS BIGINT)) AS qv
  FROM s
),
qq AS (SELECT qv AS qqv, scale_micro AS qscale FROM q WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, qdot, qdot * scale_micro * qscale AS qscore
FROM (
  SELECT q.vec_id, q.scale_micro, qq.qscale,
         (SELECT CAST(SUM(q.qv[i] * qq.qqv[i]) AS BIGINT)
          FROM UNNEST(generate_series(1, len(q.qv))) AS t(i)) AS qdot
  FROM q, qq
)
ORDER BY qscore DESC, vec_id ASC
LIMIT {TOP_K}
"""


def sim_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm QA census per label — the sanity pass before any
    cosine/IVF work: unnormalized or degenerate vectors show up as
    outlier squared-L2 norms. Norms are exact bigints in the integer-micro
    domain (Σ micro², ≪ 2^63 at any realistic dim), so min/max/sum are
    bit-identical cross-engine. Pure scan + one map-side-combined groupBy."""
    emb = tables.load(spark, sf_dir, "embeddings")
    micro = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )
    norm2 = F.aggregate(
        micro, F.lit(0).cast("long"), lambda acc, m: acc + m * m
    )
    return (
        emb.select("label", norm2.alias("__n2"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("__n2").alias("min_norm2_micro2"),
            F.max("__n2").alias("max_norm2_micro2"),
            F.sum("__n2").alias("sum_norm2_micro2"),
        )
        .orderBy("label")
    )


_NORM_STATS_SQL = """
WITH n AS (
  SELECT label,
         CAST(list_sum(list_transform(embedding,
              x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
                   * CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT) AS n2
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs,
       MIN(n2) AS min_norm2_micro2, MAX(n2) AS max_norm2_micro2,
       CAST(SUM(n2) AS BIGINT) AS sum_norm2_micro2
FROM n GROUP BY label ORDER BY label
"""


PQ_SHORTLIST = 100
PQ_RECALL_BOUND = 0.7  # measured 0.9 at sf0.001 AND sf0.01 (seeded fit)


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with ADC re-rank
    (functions/similarity.py::pq_adc_topk) under the same hash-gated
    accuracy contract as sim_ivf_topk: the codebook fit is not
    SQL-expressible, so the emitted row is the CONTRACT — recall@k of
    the PQ search vs the exact brute-force top-k, computed in-plan, plus
    ``recall_ok`` (≥ PQ_RECALL_BOUND). A codebook/encode/ADC regression
    flips the boolean and fails the driver hash. Code-compression and
    shortlist-monotonicity properties are pytest-gated in
    tests/test_llm_ops.py. This completes the ANN ladder: brute-force →
    SRP-LSH buckets → IVF coarse quantizer → int8 scalar quantization →
    PQ (the memory-bound end: 64 floats → 8 codes, the index a 100 TB
    corpus can actually hold in RAM)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    pq = SIM.pq_adc_topk(
        emb, query_id=QUERY_VEC_ID, k=TOP_K, shortlist=PQ_SHORTLIST
    )
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding")
    exact = SIM.topk_cosine(emb, query, k=TOP_K)
    hits = pq.select("vec_id").join(exact.select("vec_id"), "vec_id", "left_semi")
    return hits.agg(F.count(F.lit(1)).alias("__n_hits")).select(
        F.lit(TOP_K).alias("k"),
        F.lit(SIM.PQ_M).alias("m_subspaces"),
        F.lit(PQ_SHORTLIST).alias("shortlist"),
        (F.col("__n_hits") / TOP_K >= PQ_RECALL_BOUND).alias("recall_ok"),
    )


_PQ_SQL = f"""
SELECT {TOP_K} AS k, {SIM.PQ_M} AS m_subspaces, {PQ_SHORTLIST} AS shortlist, TRUE AS recall_ok
"""


RP_DIM = 64     # source embedding dimensionality
RP_K = 16       # projected dimensionality (4× compression)


def _rp_signs() -> list[list[int]]:
    """The ±1 Achlioptas projection matrix, derived ONCE from md5 of
    the (row, dim) coordinates — a deterministic constant baked into
    BOTH the Spark plan and the oracle SQL (same-constants discipline:
    the two engines cannot drift because neither computes the matrix).
    At cluster scale the matrix is a few KiB of literals shipped inside
    the plan — no broadcast, no side table."""
    import hashlib

    return [
        [
            1 if hashlib.md5(f"rp{j}-{d}".encode()).digest()[0] & 1 else -1
            for d in range(RP_DIM)
        ]
        for j in range(RP_K)
    ]


def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64 → 16 dims — the
    dimensionality-reduction scale path for ANN indexing (store/search
    the sketch, re-rank survivors in the full space; JL bounds the
    pairwise-distance distortion). Signs are ±1 (Achlioptas), so the
    projection is pure integer addition in the exact micro domain:
    y_j = Σ_d s_jd · micro_d, |y_j| ≤ 64·|micro|max ≪ 2^63, making every
    projected coordinate hash-comparable bit-for-bit across engines.
    Scan-local column algebra: zero shuffles, zero UDFs, one pass. The
    zip_with+aggregate form is the measured winner — an A/B against a
    flat 64-term element_at sum per output dim read 0.59 s vs 0.82 s at
    sf0.1 (the giant scalar expression falls out of whole-stage
    codegen; the array fold stays inside it)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    micro = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )
    signs = _rp_signs()
    proj_cols = [
        F.aggregate(
            F.zip_with(
                F.col("micro"),
                F.array(*[F.lit(s).cast("long") for s in signs[j]]),
                lambda x, s: x * s,
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias(f"y{j:02d}")
        for j in range(RP_K)
    ]
    return (
        emb.withColumn("micro", micro)
        .select("vec_id", *proj_cols)
        .orderBy("vec_id")
    )


def _rp_sql() -> str:
    signs = _rp_signs()
    cols = ",\n       ".join(
        "CAST(list_dot_product(micro, ["
        + ", ".join(str(s) for s in signs[j])
        + f"]) AS BIGINT) AS y{j:02d}"
        for j in range(RP_K)
    )
    return f"""
WITH m AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS micro
  FROM embeddings
)
SELECT vec_id,
       {cols}
FROM m ORDER BY vec_id
"""


def sim_knn_join_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed k-NN self-JOIN: EVERY vector's nearest neighbor (top-1 by
    exact cosine) among the vectors sharing its SRP-LSH bucket — the
    semantic-dedup primitive at corpus scale, where 'find each doc's
    closest sibling' must never become an all-pairs scan. The candidate
    space is the per-bucket self-join (256 buckets from 8 deterministic
    hyperplanes); the argmax orders by (cos_sim desc, nn_id asc), so
    ties break to the smallest neighbor id identically on any engine.
    Vectors alone in their bucket emit no row (single-probe recall is
    the documented trade; the multi-probe lever is
    sim_multiprobe_topk).

    Scale note: bucket width must track corpus size — per-bucket work is
    quadratic in bucket occupancy, so n_bits is chosen to hold the mean
    bucket near a target size (≈ log2(N / target)); 8 bits fits the test
    corpus, a 100 TB corpus runs the same plan at 20+ bits (or the IVF
    coarse quantizer) so occupancy, and thus per-bucket cost, stays flat
    (measured in bench.py::knn_10x_stress).

    Physical strategy: each bucket ships ONCE through Arrow to a
    grouped-map kernel (functions/simkernel.py) that computes tiled
    cosine blocks with vectorized NumPy and elects per-row argmax
    in-kernel. Arrow traffic is the VECTOR table (one row per vector —
    never the pair table), and both kernel axes are TILED so peak task
    memory is the tile plus the bucket's own vector table — linear in
    bucket width, never the quadratic Gram slab. The kernel module
    states the exactness and tie contract; the DuckDB oracle
    (_knn_join_sql) defines the rows, and fuzz family 15 pins the
    kernel to it across bit widths, corpus subsets and planted
    twins/clones."""
    return knn_join_arrow(tables.load(spark, sf_dir, "embeddings"))


def knn_join_arrow(emb: DataFrame, n_bits: int = LSH_BITS) -> DataFrame:
    """The bucketed nearest-neighbor self-join over any
    (vec_id, embedding) frame — see sim_knn_join_arrow. ``n_bits`` is
    the scale knob: per-bucket pair cost is quadratic in bucket width,
    so bits must grow ~log2 with the corpus to keep expected width (and
    per-vector cost) constant."""
    return elect_nearest_arrow(bucket_vectors(emb, n_bits)).orderBy("vec_id")


def elect_nearest_arrow(vb: DataFrame, with_bucket: bool = False) -> DataFrame:
    """The per-bucket top-1 election over a bucketed (vec_id, embedding,
    bucket) frame, through the Arrow kernel (functions/simkernel.py) —
    unordered. A vector's row depends ONLY on its own bucket's
    membership, which is what makes per-bucket incremental
    recomputation exact (streaming/knn_maintenance.py).
    ``with_bucket`` appends the elector's bucket column (free: it is
    the group key)."""
    from sql_cdc_spark.functions import simkernel as K

    schema = "vec_id long, nn_id long, cos_sim double"
    if with_bucket:
        schema += ", bucket int"

    def elect(pdf):
        return K.elect_nearest_pdf(pdf, with_bucket=with_bucket)

    return vb.groupBy("bucket").applyInPandas(elect, schema)


SEMDEDUP_T = 0.35  # within-bucket cosine above which a doc is redundant


def elect_dropped_arrow(
    vb: DataFrame, threshold: float = SEMDEDUP_T
) -> DataFrame:
    """The SemDeDup election over a bucketed (vec_id, embedding, bucket)
    frame, through the per-bucket Arrow kernel — see sim_semantic_dedup.
    Unordered; a vector's row depends ONLY on its own bucket's
    membership, which is what makes per-bucket incremental
    recomputation exact (streaming/semdedup_maintenance.py). See
    functions/simkernel.py for the exactness/memory contract.
    ``threshold`` must be a ≤6-dp decimal (the micro-domain contract;
    fuzz family 16 sweeps it)."""
    from sql_cdc_spark.functions import simkernel as K

    t_micro = int(round(threshold * 1_000_000))

    def elect(pdf):
        return K.elect_dropped_pdf(pdf, t_micro)

    return vb.groupBy("bucket").applyInPandas(
        elect, "vec_id long, keeper_id long, cos_sim double, bucket int"
    )


def max_mate_micro_arrow(vb: DataFrame) -> DataFrame:
    """The semdedup-sweep fold (per-vector MAX smaller-id-mate
    micro-cosine) through the per-bucket Arrow kernel."""
    from sql_cdc_spark.functions import simkernel as K

    def fold(pdf):
        return K.max_mate_micro_pdf(pdf)

    return vb.groupBy("bucket").applyInPandas(
        fold, "vec_id long, max_cm long"
    )


def knn_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session's ONE materialized top-1-neighbor table per sf_dir —
    every graph consumer (sim_pagerank_fixed3 / sim_pagerank_step /
    sim_mutual_knn) reads this _cache.session_cached frame, built
    through the Arrow kernel (knn_join_arrow)."""
    from sql_cdc_spark.queries._cache import session_cached

    return session_cached(
        spark,
        ("knn_best", sf_dir),
        lambda: knn_join_arrow(tables.load(spark, sf_dir, "embeddings")),
    )


def _knn_join_sql(
    n_bits: int = LSH_BITS, emb_rel: str = "embeddings"
) -> str:
    lsh = _lsh_sql(n_bits, emb_rel).strip()
    v_cte = f"WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM {emb_rel})"
    return f"""
{v_cte},
b AS ({lsh.replace(v_cte, '')} ),
vb AS (SELECT v.vec_id, v.e, b.bucket FROM v JOIN b USING (vec_id)),
p AS (
  SELECT a.vec_id, c.vec_id AS nn_id,
         ROUND(COALESCE(list_dot_product(a.e, c.e)
               / NULLIF(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.e, c.e)), 0), 0), 6)
           AS cos_sim
  FROM vb a JOIN vb c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
)
SELECT vec_id, nn_id, cos_sim FROM (
  SELECT p.*, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY cos_sim DESC, nn_id) AS rn
  FROM p
) WHERE rn = 1
ORDER BY vec_id
"""


def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) re-expressed with
    deterministic cluster scoping: drop every vector that has a
    SMALLER-id mate with cosine ≥ ``SEMDEDUP_T`` in its SRP-LSH bucket,
    keeping the minimum-id representative per redundancy group — the
    embedding-space dedup decision, per-bucket instead of all-pairs.
    The paper scopes pairs by k-means cluster; the 8-hyperplane SRP
    bucket plays that role here because it is a pure expression both
    engines replay bit-identically (a k-means fit is neither).

    One row per DROPPED vector: (vec_id, keeper_id, cos_sim, bucket),
    keeper_id = its smallest same-bucket mate above threshold (the
    one-pass, chain-free election: the same smaller-id rule
    dd_cluster_canonical uses, minus the transitive closure —
    dup_clusters is the exact-clustering alternative when chains
    matter). The kept set is the complement; keepers can appear as
    keeper_id for many dropped rows.

    Scale shape: identical to sim_knn_join_arrow — per-bucket
    grouped-map Arrow kernel (elect_dropped_arrow), no corpus sort
    beyond the bounded result;
    bucket width is the documented n_bits knob
    (bench.py::knn_10x_stress)."""
    emb = tables.load(spark, sf_dir, "embeddings")
    return elect_dropped_arrow(bucket_vectors(emb)).orderBy("vec_id")


def bucket_vectors(emb: DataFrame, n_bits: int = LSH_BITS) -> DataFrame:
    """(vec_id, embedding, bucket): the SRP-bucketed vector table the
    election (and its streaming maintenance twin) operates on."""
    return emb.select(
        "vec_id",
        "embedding",
        SIM.lsh_bucket(F.col("embedding"), n_bits=n_bits, dim=DIM).alias(
            "bucket"
        ),
    )


# the SemDeDup tuning sweep's thresholds, micro-cosine units; the middle
# point IS the registered election's SEMDEDUP_T so the sweep and the
# decision query stay tied (guarded by an invariant test)
SEMDEDUP_SWEEP_TS = (250_000, 350_000, 450_000)


def sim_semdedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup threshold sweep — how much of the corpus each candidate
    cosine threshold would drop (the tuning measurement you run BEFORE
    committing to SEMDEDUP_T, the embedding twin of
    dd_containment_sweep): per threshold, the dropped-vector count and
    integer drop ppm.

    Scale shape: ONE per-bucket Arrow-kernel pass (the
    sim_semantic_dedup strategy — the per-vector MAX smaller-id-mate
    micro-cosine folds IN-KERNEL, so not even the pair-key table is
    materialized; fuzz family 16 pins the fold to the DuckDB per-vector
    max), and every threshold then reads that
    |V|-row table with a conditional sum; adding thresholds is free.
    A vector's drop decision at ANY threshold is a pure function of
    its max mate cosine, so the sweep is exact, not sampled. The
    census is a 1-row aggregate stacked to |thresholds| rows against
    the broadcast 1-row corpus count."""
    emb = tables.load(spark, sf_dir, "embeddings")
    per_vec = max_mate_micro_arrow(bucket_vectors(emb))
    counts = per_vec.agg(
        *[
            F.sum((F.col("max_cm") >= t).cast("long")).alias(f"d{t}")
            for t in SEMDEDUP_SWEEP_TS
        ]
    )
    total = emb.agg(F.count(F.lit(1)).alias("n_total"))
    stacked = counts.crossJoin(F.broadcast(total)).selectExpr(
        "n_total",
        f"stack({len(SEMDEDUP_SWEEP_TS)}, "
        + ", ".join(f"{t}L, d{t}" for t in SEMDEDUP_SWEEP_TS)
        + ") as (threshold_micro, n_dropped)",
    )
    return (
        stacked.select(
            "threshold_micro",
            # the conditional sums are null over an empty per-vec table
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            "n_total",
            F.expr(
                "1000000 * coalesce(n_dropped, 0) div n_total"
            ).alias("drop_ppm"),
        )
        .orderBy("threshold_micro")
    )


def _semdedup_sweep_sql() -> str:
    lsh = _lsh_sql().strip()
    ts = ", ".join(str(t) for t in SEMDEDUP_SWEEP_TS)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS ({lsh.replace('WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)', '')} ),
vb AS (SELECT v.vec_id, v.e, b.bucket FROM v JOIN b USING (vec_id)),
pv AS (
  SELECT a.vec_id,
         MAX(CAST(round(ROUND(COALESCE(list_dot_product(a.e, c.e)
               / NULLIF(sqrt(list_dot_product(a.e, a.e))
                  * sqrt(list_dot_product(c.e, c.e)), 0), 0), 6) * 1000000)
             AS BIGINT)) AS max_cm
  FROM vb a JOIN vb c ON a.bucket = c.bucket AND c.vec_id < a.vec_id
  GROUP BY a.vec_id
),
tot AS (SELECT COUNT(*) AS n_total FROM embeddings),
th AS (SELECT UNNEST([{ts}]) AS threshold_micro)
SELECT th.threshold_micro,
       (SELECT COUNT(*) FROM pv WHERE pv.max_cm >= th.threshold_micro)
         AS n_dropped,
       t.n_total,
       1000000 * (SELECT COUNT(*) FROM pv
                  WHERE pv.max_cm >= th.threshold_micro) // t.n_total
         AS drop_ppm
FROM th CROSS JOIN tot t
ORDER BY threshold_micro
"""


def _semantic_dedup_sql(
    n_bits: int = LSH_BITS,
    emb_rel: str = "embeddings",
    threshold: float = SEMDEDUP_T,
) -> str:
    """Parameterized like _knn_join_sql/_lsh_sql so fuzz family 16 can
    re-derive the election at arbitrary (bits, threshold, corpus);
    defaults render the registered oracle text byte-for-byte."""
    lsh = _lsh_sql(n_bits, emb_rel).strip()
    v_cte = f"WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM {emb_rel})"
    return f"""
{v_cte},
b AS ({lsh.replace(v_cte, '')} ),
vb AS (SELECT v.vec_id, v.e, b.bucket FROM v JOIN b USING (vec_id)),
dup AS (
  SELECT a.vec_id, a.bucket, c.vec_id AS mate,
         ROUND(COALESCE(list_dot_product(a.e, c.e)
               / NULLIF(sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.e, c.e)), 0), 0), 6)
           AS cos
  FROM vb a JOIN vb c ON a.bucket = c.bucket AND c.vec_id < a.vec_id
)
SELECT vec_id, keeper_id, cos_sim, bucket FROM (
  SELECT vec_id, bucket, mate AS keeper_id, cos AS cos_sim,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY mate) AS rn
  FROM dup WHERE cos >= {threshold}
) WHERE rn = 1
ORDER BY vec_id
"""



# ---- hybrid sparse+dense retrieval (round-6 queue) ----------------------
# The generator emits embeddings FOR the documents (vec_id ≡ doc_id, same
# 0..N-1 id space and cardinality at every sf), so fusing the lexical and
# dense rankings over the shared id is the real hybrid-search shape, not
# a synthetic join.
HYBRID_L = 50        # per-branch retrieval depth
HYBRID_TOPK = 10
RRF_K = 60           # the standard reciprocal-rank-fusion damping


def sim_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-L and brute-force cosine dense
    top-L fused by reciprocal-rank fusion — the sparse+dense pattern
    production RAG search runs, integer-exact end to end. Each branch's
    rank is derived WITHOUT a window: among the L retrieved rows, rank =
    1 + count of strictly-better rows (better = (score, id) ordering),
    a broadcast self-join over ≤L rows — so the plan carries no
    partition-less window and ranks are engine-identical. RRF
    contribution is the integer 1000000 div (RRF_K + rank); docs
    retrieved by only one branch keep a NULL rank on the other and
    score on the branches that found them. Top-k by (rrf_micro desc,
    doc_id) total order.

    Scale shape: each branch is its own already-scale-shaped operator
    (term-filtered explode / broadcast-query scan, both
    TakeOrderedAndProject); the fusion works on 2·L rows — constants,
    not corpus — so hybrid costs the max of its branches at any scale."""
    from sql_cdc_spark.queries.text_q import BM25_QUERY, bm25_search

    docs = tables.load(spark, sf_dir, "documents")
    emb = tables.load(spark, sf_dir, "embeddings")

    lex = bm25_search(docs, BM25_QUERY, k=HYBRID_L).select(
        "doc_id", "score_milli"
    )
    query = emb.filter(F.col("vec_id") == QUERY_VEC_ID).select("embedding")
    dense = SIM.topk_cosine(emb, query, k=HYBRID_L).select(
        F.col("vec_id").alias("doc_id"), "cos_sim"
    )
    return hybrid_fuse(lex, dense, k=HYBRID_TOPK)


def hybrid_fuse(lex: DataFrame, dense: DataFrame, k: int = HYBRID_TOPK) -> DataFrame:
    """The RRF fusion core of sim_hybrid_search over ANY pair of
    retrieved branches — lex as (doc_id, score_milli), dense as
    (doc_id, cos_sim), each ≤ L rows. Parameterized so the streaming
    composition test fuses the MAINTAINED BM25 index and a maintained
    vector table through the very same derivation the batch query runs
    (stream == batch must hold through the fusion, not just per
    branch)."""

    def _ranked(branch: DataFrame, score: str, rank_name: str) -> DataFrame:
        a = branch.alias("a")
        b = branch.alias("b")
        better = (F.col(f"b.{score}") > F.col(f"a.{score}")) | (
            (F.col(f"b.{score}") == F.col(f"a.{score}"))
            & (F.col("b.doc_id") < F.col("a.doc_id"))
        )
        return (
            a.join(F.broadcast(b), better, "left")
            .groupBy(F.col("a.doc_id").alias("doc_id"))
            .agg((F.count(F.col("b.doc_id")) + 1).alias(rank_name))
        )

    # fusion WITHOUT a join: branch ranks union into (doc_id, branch,
    # rank) rows and ONE aggregate pivots them back out while summing
    # the RRF contributions — a full-outer join here would plan as a
    # SortMergeJoin (outer joins never broadcast their preserved side)
    # and trip the scale guard for no benefit on 2·L rows
    lex_r = _ranked(lex, "score_milli", "lex_rank").select(
        "doc_id", F.lit("lex").alias("branch"), F.col("lex_rank").alias("rnk")
    )
    dense_r = _ranked(dense, "cos_sim", "dense_rank").select(
        "doc_id",
        F.lit("dense").alias("branch"),
        F.col("dense_rank").alias("rnk"),
    )
    rrf = (
        lex_r.unionByName(dense_r)
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("branch") == "lex", F.col("rnk"))).alias(
                "lex_rank"
            ),
            F.max(F.when(F.col("branch") == "dense", F.col("rnk"))).alias(
                "dense_rank"
            ),
            F.sum(F.expr(f"1000000 div ({RRF_K} + rnk)"))
            .cast("long")
            .alias("rrf_micro"),
        )
    )
    return rrf.orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id").asc()
    ).limit(k)


def _hybrid_sql() -> str:
    from sql_cdc_spark.queries.text_q import BM25_QUERY, _bm25_sql

    bm = _bm25_sql(BM25_QUERY, k=HYBRID_L).strip()
    return f"""
WITH lex AS (SELECT doc_id, score_milli FROM ({bm})),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT e AS qe FROM v WHERE vec_id = {QUERY_VEC_ID}),
dense AS (
  SELECT v.vec_id AS doc_id,
         ROUND(list_dot_product(v.e, q.qe)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))), 6)
           AS cos_sim
  FROM v, q
  ORDER BY cos_sim DESC, v.vec_id ASC
  LIMIT {HYBRID_L}
),
lex_r AS (
  SELECT a.doc_id, CAST(1 + COUNT(b.doc_id) AS BIGINT) AS lex_rank
  FROM lex a LEFT JOIN lex b
    ON b.score_milli > a.score_milli
    OR (b.score_milli = a.score_milli AND b.doc_id < a.doc_id)
  GROUP BY a.doc_id
),
dense_r AS (
  SELECT a.doc_id, CAST(1 + COUNT(b.doc_id) AS BIGINT) AS dense_rank
  FROM dense a LEFT JOIN dense b
    ON b.cos_sim > a.cos_sim
    OR (b.cos_sim = a.cos_sim AND b.doc_id < a.doc_id)
  GROUP BY a.doc_id
),
fused AS (
  SELECT doc_id, 'lex' AS branch, lex_rank AS rnk FROM lex_r
  UNION ALL
  SELECT doc_id, 'dense' AS branch, dense_rank AS rnk FROM dense_r
)
SELECT doc_id,
       MAX(CASE WHEN branch = 'lex' THEN rnk END) AS lex_rank,
       MAX(CASE WHEN branch = 'dense' THEN rnk END) AS dense_rank,
       CAST(SUM(1000000 // ({RRF_K} + rnk)) AS BIGINT) AS rrf_micro
FROM fused GROUP BY doc_id
ORDER BY rrf_micro DESC, doc_id ASC
LIMIT {HYBRID_TOPK}
"""


# ---- ANN recall evaluation panel (round 6) --------------------------------
# fixed probe panel: the eval cost is |panel| corpus-heap scans at ANY
# corpus size, so the panel must be bounded by construction, never a
# corpus fraction
ANN_EVAL_PROBES = 6


def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality harness: recall@k of the single-probe LSH path
    against brute-force exact top-k, per probe — the measurement that
    decides bucket bits / probe counts BEFORE trusting an approximate
    index (every ANN family member here trades recall for scan
    locality; this is the operator that prices the trade). For each
    panel probe: the exact top-k (corpus heap scan), the bucketed
    candidates' top-k (the sim_bucketed_topk shape), and their overlap
    as integer recall_pct.

    Scale shape (r10 rewrite — guide §1.2/§4.2; the VERDICT r9 ruling
    electing the Arrow kernel for eval exact-references): the old plan
    ran 4 scan branches PER PROBE (24 at |panel|=6 — an exact heap
    scan, a probe-row lookup, the bucket side and the probe-bucket
    lookup), measured 1.7-2.0 s at sf0.1 with per-branch scheduling as
    the dominant cost. Now the probe panel is collected ONCE (bounded:
    ≤ |panel| rows — the documented seed-collect class), the exact side
    is ONE mapInArrow scan computing all |panel| cosines per batch with
    the same per-dimension accumulation + HALF_UP micro rounding the
    elected knn kernel uses (functions/simkernel.py — bit-equal to
    F.round by its standing parity test) with a per-task top-k fold,
    and the ann side is ONE scan broadcast-joined against the |panel|-
    row probe frame. 2 corpus scans total instead of 24; everything
    after operates on ≤ (tasks+1)·k·|panel| rows. Membership of both
    top-k sets is deterministic (cos 6-dp rounded, vec_id tiebreak), so
    the report hashes identically on any engine — the DuckDB oracle is
    unchanged and re-proves value identity."""
    from pyspark.sql.window import Window

    from sql_cdc_spark.functions import simkernel as K

    emb = tables.load(spark, sf_dir, "embeddings")
    vb = emb.select(
        "vec_id",
        "embedding",
        SIM.lsh_bucket(F.col("embedding"), n_bits=LSH_BITS, dim=DIM).alias(
            "bucket"
        ),
    )
    # bounded seed collect (≤ ANN_EVAL_PROBES rows): the probe panel as
    # plain doubles, exactly the values the old per-probe broadcast
    # carried
    probes = [
        (int(r.vec_id), [float(x) for x in r.e])
        for r in emb.filter(F.col("vec_id") < ANN_EVAL_PROBES)
        .select(
            "vec_id", SIM.as_double_array(F.col("embedding")).alias("e")
        )
        .orderBy("vec_id")
        .collect()
    ]
    part_topk = (
        emb.select(
            "vec_id", SIM.as_double_array(F.col("embedding")).alias("embedding")
        )
        .mapInArrow(
            K.exact_probe_topk_kernel(probes, TOP_K),
            "probe_id long, vec_id long, micro long",
        )
    )
    w = Window.partitionBy("probe_id").orderBy(
        F.col("micro").desc(), F.col("vec_id").asc()
    )
    exact = (
        part_topk.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("probe_id", "vec_id", F.lit("e").alias("side"))
    )
    pframe = vb.filter(F.col("vec_id") < ANN_EVAL_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("bucket").alias("pbucket"),
        F.col("embedding").alias("pe"),
    )
    cand = vb.join(
        F.broadcast(pframe), F.col("bucket") == F.col("pbucket")
    ).filter(F.col("vec_id") != F.col("probe_id"))
    wa = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id").asc()
    )
    ann = (
        cand.select(
            "probe_id",
            "vec_id",
            SIM.cosine(
                SIM.as_double_array(F.col("embedding")),
                SIM.as_double_array(F.col("pe")),
            ).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= TOP_K)
        .select("probe_id", "vec_id", F.lit("a").alias("side"))
    )
    tagged = exact.unionByName(ann)
    per_vec = tagged.groupBy("probe_id", "vec_id").agg(
        F.max((F.col("side") == "e").cast("int")).alias("e"),
        F.max((F.col("side") == "a").cast("int")).alias("a"),
    )
    return (
        per_vec.groupBy("probe_id")
        .agg(
            F.sum("e").cast("long").alias("n_exact"),
            F.sum("a").cast("long").alias("n_ann"),
            F.sum(F.col("e") * F.col("a")).cast("long").alias("n_hits"),
        )
        .select(
            "probe_id",
            "n_exact",
            "n_ann",
            "n_hits",
            F.expr("100 * n_hits div n_exact").alias("recall_pct"),
        )
        .orderBy("probe_id")
    )


def _ann_recall_sql() -> str:
    lsh = _lsh_sql().strip()
    cos = (
        "ROUND(list_dot_product({a}, {b}) "
        "/ (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    cos_ve = cos.format(a="v.e", b="p.pe")
    cos_ce = cos.format(a="c.e", b="p.pe")
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS ({lsh.replace('WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)', '')} ),
vb AS (SELECT v.vec_id, v.e, b.bucket FROM v JOIN b USING (vec_id)),
probes AS (
  SELECT vec_id AS probe_id, e AS pe, bucket AS pbucket
  FROM vb WHERE vec_id < {ANN_EVAL_PROBES}
),
exact AS (
  SELECT probe_id, vec_id, 'e' AS side FROM (
    SELECT p.probe_id, v.vec_id,
           ROW_NUMBER() OVER (PARTITION BY p.probe_id
               ORDER BY {cos_ve} DESC, v.vec_id ASC) AS rn
    FROM v JOIN probes p ON v.vec_id <> p.probe_id
  ) WHERE rn <= {TOP_K}
),
ann AS (
  SELECT probe_id, vec_id, 'a' AS side FROM (
    SELECT p.probe_id, c.vec_id,
           ROW_NUMBER() OVER (PARTITION BY p.probe_id
               ORDER BY {cos_ce} DESC, c.vec_id ASC) AS rn
    FROM vb c JOIN probes p
      ON c.bucket = p.pbucket AND c.vec_id <> p.probe_id
  ) WHERE rn <= {TOP_K}
),
per_vec AS (
  SELECT probe_id, vec_id,
         MAX(CASE WHEN side = 'e' THEN 1 ELSE 0 END) AS e,
         MAX(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS a
  FROM (SELECT * FROM exact UNION ALL SELECT * FROM ann)
  GROUP BY 1, 2
)
SELECT probe_id, CAST(SUM(e) AS BIGINT) AS n_exact,
       CAST(SUM(a) AS BIGINT) AS n_ann,
       CAST(SUM(e * a) AS BIGINT) AS n_hits,
       100 * CAST(SUM(e * a) AS BIGINT) // CAST(SUM(e) AS BIGINT)
         AS recall_pct
FROM per_vec GROUP BY probe_id ORDER BY probe_id
"""


# ---- mutual k-NN graph edges (round 6) -----------------------------------


def sim_mutual_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest-neighbor pairs: (a, b) where a is b's bucketed
    top-1 neighbor AND b is a's — the reciprocity filter that turns the
    directed k-NN graph into the high-precision edge set cluster
    pruning and duplicate election want (a hub vector is many points'
    nearest neighbor but reciprocates at most one; mutuality cuts
    exactly those hub edges).

    Scale shape: ONE knn pass — read from the session's materialized
    knn_best table (Arrow-kernel strategy, shared with the PageRank
    family; VERDICT r7 #1) — then reciprocity WITHOUT a second join or
    a recompute: each directed edge folds to its undirected
    (least, greatest) key and one map-side-combined groupBy keeps keys
    seen from BOTH directions (count = 2 — a vector emits at most one
    directed edge, so the pair key can only be hit once per endpoint).
    cos_sim is symmetric and 6-dp-rounded identically in both
    directions, so MIN is a no-op made explicit for determinism."""
    return mutual_edges(knn_best(spark, sf_dir)).orderBy("id_a", "id_b")


def undirected_edges(best: DataFrame) -> DataFrame:
    """Fold directed top-1 rows (vec_id, nn_id, cos_sim, ...) to the
    undirected (id_a < id_b) edge set, carrying the reciprocity count
    __n and the symmetric cosine — the ONE derivation behind
    sim_mutual_knn (count-2 filter on top), sim_pagerank_step's graph
    (all folded edges), and the maintained-state serve in
    streaming/knn_maintenance.py, shared by reference so the three
    cannot drift."""
    return (
        best.select(
            F.least("vec_id", "nn_id").alias("id_a"),
            F.greatest("vec_id", "nn_id").alias("id_b"),
            "cos_sim",
        )
        .groupBy("id_a", "id_b")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.min("cos_sim").alias("cos_sim"),
        )
    )


def mutual_edges(best: DataFrame) -> DataFrame:
    """The reciprocity filter over the shared fold: an undirected edge is
    MUTUAL iff both directions elected it (a vector emits ≤ 1 directed
    edge, so fold count 2 ⟺ reciprocal). The ONE mutuality predicate —
    sim_mutual_knn and the maintained-state serve
    (streaming/knn_maintenance.py) both call it."""
    return (
        undirected_edges(best)
        .filter(F.col("__n") == 2)
        .select("id_a", "id_b", "cos_sim")
    )


def _mutual_knn_sql() -> str:
    knn = _knn_join_sql().strip()
    return f"""
WITH best AS ({knn}),
e AS (
  SELECT LEAST(vec_id, nn_id) AS id_a, GREATEST(vec_id, nn_id) AS id_b,
         cos_sim
  FROM best
)
SELECT id_a, id_b, MIN(cos_sim) AS cos_sim
FROM e GROUP BY 1, 2 HAVING COUNT(*) = 2
ORDER BY id_a, id_b
"""


# ---- one PageRank power iteration over the mutual-NN graph (round 6) ------
PR_RANK_UNIT = 1_000_000  # integer rank mass per node (ppm domain)
PR_DAMPING_PCT = 85  # integer damping (rank' = 15% base + 85% inflow)
PR_TOPN = 50  # hub report depth


def sim_pagerank_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One PageRank power iteration (damping 0.85) over the SYMMETRIZED
    NN graph — every vector's top-1 edge folded undirected (the
    UMAP/spectral-clustering graph; NOT the mutual subset, whose degree
    is 1 everywhere by construction) — the hub-centrality read that
    finds the vectors at the center of redundancy clusters, and the
    repo's second iterative-graph operator after dd_dup_clusters'
    min-label propagation. One iteration IS the fixpoint building
    block: a full PageRank is this step looped, each round one join +
    one aggregate over the edge list, the Pregel-without-Pregel shape
    that scales to any edge count. Degrees genuinely vary here (a hub
    is many vectors' nearest neighbor: degree = 1 + in-degree), so one
    step already separates cluster centers from leaves — rank is NOT a
    monotone function of degree (it depends on the NEIGHBORS' degrees:
    a node fed by leaves outranks one fed by other hubs).

    Integer-exact: every node starts with PR_RANK_UNIT ppm of rank and
    sends floor(unit / degree) along each edge; the new rank is
    floor(0.15·unit) + floor(0.85·inflow) computed as bigint floor
    divisions (150000 + (85·inflow) div 100), so ranks are bit-identical
    on any engine — no float mass, no normalization drift.

    Scale shape: the undirected edge set (ONE knn pass — the session's
    materialized Arrow-kernel knn_best table, shared with
    sim_pagerank_fixed3 / sim_mutual_knn per VERDICT r7 #1 — + one
    fold-distinct aggregate) fans out to 2·|E| directed rows; degree is
    one map-side-combined groupBy; the contribution join pins the
    one-row-per-node side as the shuffle-hash build side (both sides
    scale with the corpus — the documented broadcast-abort band);
    inflow is a second groupBy on dst. The hub report is
    TakeOrderedAndProject over (rank desc, vec_id) — a total order, so
    the limit is deterministic."""
    best = knn_best(spark, sf_dir)
    # the same undirected fold sim_mutual_knn filters — here ALL folded
    # edges form the graph (the mutual subset has degree 1 everywhere)
    edges = undirected_edges(best).select("id_a", "id_b")
    directed = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    contrib = deg.select(
        "src", "degree", F.expr(f"{PR_RANK_UNIT} div degree").alias("contrib")
    )
    inflow = (
        directed.join(contrib.hint("shuffle_hash"), "src")
        .groupBy(F.col("dst").alias("vec_id"))
        .agg(F.sum("contrib").alias("inflow"))
    )
    ranked = inflow.join(
        deg.select(F.col("src").alias("vec_id"), "degree").hint("shuffle_hash"),
        "vec_id",
    ).select(
        "vec_id",
        "degree",
        F.expr(
            f"{PR_RANK_UNIT * (100 - PR_DAMPING_PCT) // 100} "
            f"+ ({PR_DAMPING_PCT} * inflow) div 100"
        ).alias("rank_ppm"),
    )
    return ranked.orderBy(F.desc("rank_ppm"), F.asc("vec_id")).limit(PR_TOPN)


def pagerank_round(
    directed: DataFrame,
    ranks: DataFrame,
    damping_pct: int = PR_DAMPING_PCT,
    extra: tuple = (),
) -> DataFrame:
    """ONE PageRank recurrence over a (src, dst) directed edge frame and
    a (node, degree, rank_ppm) state frame — the shared loop body of
    the registered sim_pagerank_fixed3 unroll AND the fixpoint driver
    operators/iterative.py::pagerank, by reference so the two cannot
    drift by edit. Integer-exact: contribution = rank div degree,
    rank' = floor((100−d)%·unit) + floor(d%·inflow), all bigint floor
    divisions. The inflow join is LEFT with coalesce(inflow, 0) so a
    node receiving no inflow decays to base rank instead of vanishing
    (ADVICE r6). Both joins pin shuffle-hash: ranks are one-row-per-node
    and corpus-scale — the documented broadcast-abort band.

    ``extra`` columns are appended to the output projection (the
    fixpoint driver threads rank_ppm through as __prev for its L1-delta
    stop signal)."""
    base_ppm = PR_RANK_UNIT * (100 - damping_pct) // 100
    contrib = ranks.select(
        F.col("node").alias("src"),
        F.expr("rank_ppm div degree").alias("contrib"),
    )
    inflow = (
        directed.join(contrib.hint("shuffle_hash"), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("contrib").alias("inflow"))
    )
    return ranks.join(inflow.hint("shuffle_hash"), "node", "left").select(
        "node",
        "degree",
        F.expr(
            f"{base_ppm} + ({damping_pct} * coalesce(inflow, 0)) div 100"
        ).alias("rank_ppm"),
        *extra,
    )


PR_FIXED_ROUNDS = 3  # unroll depth of the registered fixed-depth query


def sim_pagerank_fixed3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PR_FIXED_ROUNDS unrolled PageRank iterations over the symmetrized
    NN graph — driver-visible evidence for the LOOP composition, not
    just its step (VERDICT r6 #4): sim_pagerank_step pins one
    iteration; this query chains three through the SAME pagerank_round
    body the fixpoint driver (operators/iterative.py::pagerank) loops,
    and the oracle replays the chain as staged CTEs (the reference's
    sproc multi-stage CTE chain, sqls/storedprocedure.sql:14-56, is the
    precedent for staged-CTE oracles). Rank mass stays integer ppm, so
    the three-round trajectory is bit-identical cross-engine.

    Scale shape: the expensive subtree (the bucketed knn election) is
    computed ONCE — it enters through the documented
    _cache.session_cached lifecycle under ("knn_best", sf_dir), built
    through the Arrow kernel (knn_join_arrow), so
    the three unrolled rounds (and any other graph query in the
    session) read the materialized one-row-per-vector table rather
    than re-running the pair pass per reference. Each round is one
    shuffle-hash join + one inflow aggregate over the edge list — the
    Pregel-without-Pregel shape; unrolling three rounds triples only
    the edge-side work, never the knn pass. The hub report is
    TakeOrderedAndProject over the (rank desc, vec_id) total order."""
    best = knn_best(spark, sf_dir)
    edges = undirected_edges(best).select("id_a", "id_b")
    directed = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    deg = directed.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    ranks = deg.select(
        F.col("src").alias("node"),
        "degree",
        F.lit(PR_RANK_UNIT).cast("long").alias("rank_ppm"),
    )
    for _ in range(PR_FIXED_ROUNDS):
        ranks = pagerank_round(directed, ranks)
    return (
        ranks.select(F.col("node").alias("vec_id"), "degree", "rank_ppm")
        .orderBy(F.desc("rank_ppm"), F.asc("vec_id"))
        .limit(PR_TOPN)
    )


def _pagerank_fixed_sql(n_rounds: int = PR_FIXED_ROUNDS) -> str:
    knn = _knn_join_sql().strip()
    base = PR_RANK_UNIT * (100 - PR_DAMPING_PCT) // 100
    rounds = "".join(
        f""",
i{k} AS (
  SELECT d.dst AS node,
         CAST(SUM(r.rank_ppm // r.degree) AS BIGINT) AS inflow
  FROM directed d JOIN r{k - 1} r ON r.node = d.src
  GROUP BY 1
),
r{k} AS (
  SELECT r.node, r.degree,
         CAST({base} + ({PR_DAMPING_PCT} * COALESCE(i.inflow, 0)) // 100
              AS BIGINT) AS rank_ppm
  FROM r{k - 1} r LEFT JOIN i{k} i ON i.node = r.node
)"""
        for k in range(1, n_rounds + 1)
    )
    return f"""
WITH best AS ({knn}),
und AS (
  SELECT LEAST(vec_id, nn_id) AS id_a, GREATEST(vec_id, nn_id) AS id_b
  FROM best GROUP BY 1, 2
),
directed AS (
  SELECT id_a AS src, id_b AS dst FROM und
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM und
),
deg AS (SELECT src AS node, COUNT(*) AS degree FROM directed GROUP BY 1),
r0 AS (SELECT node, degree, CAST({PR_RANK_UNIT} AS BIGINT) AS rank_ppm
       FROM deg){rounds}
SELECT node AS vec_id, degree, rank_ppm FROM r{n_rounds}
ORDER BY rank_ppm DESC, vec_id ASC
LIMIT {PR_TOPN}
"""


def _pagerank_sql() -> str:
    knn = _knn_join_sql().strip()
    return f"""
WITH best AS ({knn}),
und AS (
  SELECT LEAST(vec_id, nn_id) AS id_a, GREATEST(vec_id, nn_id) AS id_b
  FROM best GROUP BY 1, 2
),
directed AS (
  SELECT id_a AS src, id_b AS dst FROM und
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM und
),
deg AS (SELECT src AS node, COUNT(*) AS degree FROM directed GROUP BY 1),
inflow AS (
  SELECT d.dst AS node,
         CAST(SUM(CAST({PR_RANK_UNIT} AS BIGINT) // g.degree) AS BIGINT)
           AS inflow
  FROM directed d JOIN deg g ON g.node = d.src
  GROUP BY 1
)
SELECT g.node AS vec_id, g.degree,
       CAST({PR_RANK_UNIT * (100 - PR_DAMPING_PCT) // 100}
            + ({PR_DAMPING_PCT} * i.inflow) // 100 AS BIGINT) AS rank_ppm
FROM deg g JOIN inflow i ON i.node = g.node
ORDER BY rank_ppm DESC, vec_id ASC
LIMIT {PR_TOPN}
"""


# ---- one exact Lloyd iteration (round 6) ----------------------------------
KMEANS_K = 8  # deterministic seeds: the embeddings of vec_id 0..K-1


def sim_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact k-means (Lloyd) iteration — the training step behind
    every coarse quantizer in the ANN family (IVF lists, PQ codebooks,
    SemDeDup's buckets): assign every vector to its nearest seed, then
    report per cluster the assignment count, the inertia (Σ dist²) and
    the centroid drift the M-step would apply. Everything lives in the
    integer-micro domain (element → round(x·1e6)), so assignment,
    inertia and drift are bigint-exact on any engine:

    - seeds are the vectors with vec_id < KMEANS_K — a K-row bounded
      collect baked into the plan as literals (the IVF sample pattern),
      so assignment is SCAN-LOCAL: per-row argmin over K literal
      centroids via least(struct(dist², cluster)), no join, no shuffle.
    - dist² uses the ‖x‖² − 2x·c + ‖c‖² decomposition; ‖c‖² folds at
      plan-build time into one literal per seed.
    - drift_num = Σ_d |n·seed_d − Σ_assigned x_d| = n·Σ_d |seed_d −
      mean_d| exactly, division-free (the M-step's movement, scaled by
      n to stay integral).

    The ONLY shuffle is the K-group aggregate. Bounds: |x_d| ≤ 2e6
    micro, so dist² ≤ 64·(4e6)² ≈ 1e15 and inertia stays under 2^63
    through ~9000× this corpus; a 100 TB run re-scales to milli-units,
    same plan."""
    base = _emb_micro(tables.load(spark, sf_dir, "embeddings"))
    return _kmeans_round_report(base, _kmeans_seeds(base))


def _emb_micro(emb: DataFrame) -> DataFrame:
    """(vec_id, mv): the integer-micro quantized embedding table the
    k-means family operates on."""
    micro = F.transform(
        F.col("embedding"), lambda x: F.round(x.cast("double") * 1e6).cast("long")
    )
    return emb.select("vec_id", micro.alias("mv"))


def _kmeans_seeds(base: DataFrame) -> dict[int, list[int]]:
    """The deterministic seeds: the micro vectors with vec_id < KMEANS_K
    — a K-row bounded collect baked into the plan as literals (the IVF
    sample pattern)."""
    rows = base.filter(F.col("vec_id") < KMEANS_K).collect()  # K rows
    return {int(r["vec_id"]): [int(v) for v in r["mv"]] for r in rows}


def kmeans_stats(base: DataFrame, cents: dict[int, list[int]]) -> DataFrame:
    """Per-cluster (cluster_id, n, inertia, s0..s{dims-1}) aggregate
    under literal centroids ``cents`` — the SHARED Lloyd-round
    measurement behind the registered step report, the fixed-depth
    chain (sim_kmeans_fixed) and the fixpoint trainer
    (operators/iterative.py::kmeans_train), by reference so none can
    drift by edit. The E-step is the shared SIM.assign_to_centroids
    expression (scan-local argmin over K literal centroids); the ONLY
    shuffle is this K-group aggregate."""
    dims = len(next(iter(cents.values())))
    assigned = SIM.assign_to_centroids(base, cents)
    return assigned.groupBy(F.col("b.c").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("b.d").cast("long").alias("inertia"),
        *[
            F.sum(F.element_at("mv", d + 1)).cast("long").alias(f"s{d}")
            for d in range(dims)
        ],
    )


def kmeans_update(
    cents: dict[int, list[int]], stats_rows
) -> dict[int, list[int]]:
    """The Lloyd M-step on collected per-cluster stats: element-wise
    FLOOR(Σx / n) (Python // — exact integer floor division; the oracle
    replays it with the (s − posmod(s, n)) // n identity because DuckDB
    // truncates toward zero while Python floors). Empty clusters keep
    their previous centroid."""
    nxt = dict(cents)
    dims = len(next(iter(cents.values())))
    for r in stats_rows:
        n = int(r["n"])
        nxt[int(r["cluster_id"])] = [int(r[f"s{d}"]) // n for d in range(dims)]
    return nxt


def _kmeans_round_report(
    base: DataFrame, cents: dict[int, list[int]]
) -> DataFrame:
    """The per-cluster round report (cluster_id, n, inertia, drift)
    under literal centroids — the projection both sim_kmeans_step
    (seeds) and sim_kmeans_fixed (round-R centroids) return. drift_num
    = Σ_d |n·c_d − Σ_assigned x_d| = n·Σ_d |c_d − mean_d| exactly,
    division-free (the M-step's movement, scaled by n to stay
    integral)."""
    dims = len(next(iter(cents.values())))
    agg = kmeans_stats(base, cents)
    cent_arr = F.map_from_arrays(
        F.array(*[F.lit(cid).cast("long") for cid in sorted(cents)]),
        F.array(
            *[
                F.array(*[F.lit(v).cast("long") for v in cents[cid]])
                for cid in sorted(cents)
            ]
        ),
    )
    drift = F.aggregate(
        F.zip_with(
            F.array(*[F.col(f"s{d}") for d in range(dims)]),
            F.element_at(cent_arr, F.col("cluster_id")),
            lambda s, c: F.abs(F.col("n") * c - s),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return (
        agg.select("cluster_id", "n", "inertia", drift.alias("drift"))
        .orderBy("cluster_id")
    )


def _kmeans_step_sql() -> str:
    return f"""
WITH m AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
  FROM embeddings
),
seeds AS (SELECT vec_id AS cluster_id, mv AS cv FROM m WHERE vec_id < {KMEANS_K}),
pairs AS (
  SELECT m.vec_id, m.mv, s.cluster_id,
         CAST(list_dot_product(m.mv, m.mv)
              - 2 * list_dot_product(m.mv, s.cv)
              + list_dot_product(s.cv, s.cv) AS BIGINT) AS dist2
  FROM m CROSS JOIN seeds s
),
best AS (
  SELECT vec_id, mv, cluster_id, dist2 FROM (
    SELECT p.*, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist2, cluster_id) AS rn
    FROM pairs p
  ) WHERE rn = 1
),
agg AS (
  SELECT cluster_id, COUNT(*) AS n, CAST(SUM(dist2) AS BIGINT) AS inertia
  FROM best GROUP BY cluster_id
),
sums AS (
  SELECT b.cluster_id, u.d, CAST(SUM(b.mv[u.d]) AS BIGINT) AS s
  FROM best b, unnest(range(1, {DIM + 1})) AS u(d)
  GROUP BY 1, 2
),
drift AS (
  SELECT su.cluster_id,
         CAST(SUM(abs(a.n * sd.cv[su.d] - su.s)) AS BIGINT) AS drift
  FROM sums su
  JOIN seeds sd ON sd.cluster_id = su.cluster_id
  JOIN agg a ON a.cluster_id = su.cluster_id
  GROUP BY 1
)
SELECT a.cluster_id, a.n, a.inertia, d.drift
FROM agg a JOIN drift d ON d.cluster_id = a.cluster_id
ORDER BY a.cluster_id
"""


# ---- fixed-depth Lloyd chain (round 7) -------------------------------------
KMEANS_FIXED_ROUNDS = 3  # two M-step updates, then the round-3 report


def sim_kmeans_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMEANS_FIXED_ROUNDS chained exact Lloyd rounds — driver-visible
    evidence for the k-means LOOP, not just its step (the pagerank
    twin of sim_pagerank_fixed3): sim_kmeans_step pins one iteration
    from the deterministic seeds; this query runs two full M-step
    centroid updates (floor-division means, empty clusters keep their
    previous centroid) and returns the round-3 report through the SAME
    kmeans_stats / kmeans_update / _kmeans_round_report bodies the
    fixpoint trainer (operators/iterative.py::kmeans_train) loops. The
    oracle replays the chain as staged CTEs (assign → per-dim sums →
    floor-div centroids → reassign), using the (s − posmod(s, n)) // n
    identity so DuckDB's truncating // reproduces Python's floor
    division exactly on negative coordinate sums.

    Scale shape: per round ONE corpus scan with a scan-local argmin
    over K literal centroids + ONE K-group aggregate (map-side
    combined); between rounds the driver holds K centroid arrays — a
    bounded collect, the IVF sample pattern. Nothing corpus×corpus,
    no window over the corpus; R rounds cost R scans."""
    base = _emb_micro(tables.load(spark, sf_dir, "embeddings"))
    cents = _kmeans_seeds(base)
    for _ in range(KMEANS_FIXED_ROUNDS - 1):
        cents = kmeans_update(cents, kmeans_stats(base, cents).collect())
    return _kmeans_round_report(base, cents)


def _kmeans_fixed_sql(n_rounds: int = KMEANS_FIXED_ROUNDS) -> str:
    dist2 = (
        "CAST(list_dot_product(m.mv, m.mv)"
        " - 2 * list_dot_product(m.mv, c.cv)"
        " + list_dot_product(c.cv, c.cv) AS BIGINT)"
    )
    upds = "".join(
        f""",
a{k} AS (
  SELECT vec_id, mv, cluster_id FROM (
    SELECT m.vec_id, m.mv, c.cluster_id,
           ROW_NUMBER() OVER (PARTITION BY m.vec_id
               ORDER BY {dist2}, c.cluster_id) AS rn
    FROM m CROSS JOIN c{k - 1} c
  ) WHERE rn = 1
),
s{k} AS (
  SELECT cluster_id, u.d AS d, CAST(SUM(mv[u.d]) AS BIGINT) AS s,
         COUNT(*) AS n
  FROM a{k}, UNNEST(range(1, {DIM} + 1)) AS u(d)
  GROUP BY 1, 2
),
nc{k} AS (
  SELECT cluster_id,
         list((s - ((s % n) + n) % n) // n ORDER BY d) AS cv
  FROM s{k} GROUP BY cluster_id
),
c{k} AS (
  SELECT c.cluster_id, COALESCE(n.cv, c.cv) AS cv
  FROM c{k - 1} c LEFT JOIN nc{k} n USING (cluster_id)
)"""
        for k in range(1, n_rounds)
    )
    fin = n_rounds - 1
    return f"""
WITH m AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
  FROM embeddings
),
c0 AS (SELECT vec_id AS cluster_id, mv AS cv FROM m WHERE vec_id < {KMEANS_K}){upds},
p AS (
  SELECT m.vec_id, m.mv, c.cluster_id, {dist2} AS dist2
  FROM m CROSS JOIN c{fin} c
),
best AS (
  SELECT vec_id, mv, cluster_id, dist2 FROM (
    SELECT p.*, ROW_NUMBER() OVER (PARTITION BY vec_id
               ORDER BY dist2, cluster_id) AS rn
    FROM p
  ) WHERE rn = 1
),
agg AS (
  SELECT cluster_id, COUNT(*) AS n, CAST(SUM(dist2) AS BIGINT) AS inertia
  FROM best GROUP BY cluster_id
),
sums AS (
  SELECT b.cluster_id, u.d, CAST(SUM(b.mv[u.d]) AS BIGINT) AS s
  FROM best b, UNNEST(range(1, {DIM} + 1)) AS u(d)
  GROUP BY 1, 2
),
drift AS (
  SELECT su.cluster_id,
         CAST(SUM(abs(a.n * sd.cv[su.d] - su.s)) AS BIGINT) AS drift
  FROM sums su
  JOIN c{fin} sd ON sd.cluster_id = su.cluster_id
  JOIN agg a ON a.cluster_id = su.cluster_id
  GROUP BY 1
)
SELECT a.cluster_id, a.n, a.inertia, d.drift
FROM agg a JOIN drift d ON d.cluster_id = a.cluster_id
ORDER BY a.cluster_id
"""


# ---- one power-iteration step toward the dominant direction (round 6) -----
POWER_SEED_ID = 0  # v0 = the embedding of this vector, milli-quantized
POWER_UNIT = 1_000  # milli quantization — the bigint-overflow budget:
# |x| ≤ 0.53 ⇒ |x_int| ≤ 530, dot ≤ 64·530² ≈ 1.8e7, per-row term ≤
# 9.5e9, so the per-dim sum stays under 2^63 through ~10^9 vectors
# (micros would overflow on a SINGLE row: 64·(5.3e5)²·5.3e5 ≈ 9.5e18)


def sim_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus's dominant embedding
    direction: y = Xᵀ(X·v₀) — the building block of PCA / spectral
    drift monitoring over an embedding column (iterate + normalize to
    converge on the top singular vector; each iteration is this exact
    plan re-run with the previous y as v). Everything lives in an
    integer-milli domain (element → round(x·1e3), the established
    quantizer recipe at a coarser unit — see POWER_UNIT for the
    overflow budget), so the per-dimension accumulator is bigint-exact
    and bit-identical on any engine.

    Scale shape: v₀ is ONE bounded-collect row baked into the plan as a
    literal array (the kmeans-seed pattern), so the dot product x·v₀ is
    SCAN-LOCAL; the only exchange is the |dims|-row per-dimension
    aggregate after posexplode — map-side combined, 64 groups, the
    treeAggregate shape. No joins, nothing corpus×corpus; doubling the
    corpus doubles only the scan."""
    emb = tables.load(spark, sf_dir, "embeddings")
    milli = F.transform(
        F.col("embedding"),
        lambda x: F.round(x.cast("double") * POWER_UNIT).cast("long"),
    )
    base = emb.select("vec_id", milli.alias("mv"))
    seed_row = base.filter(F.col("vec_id") == POWER_SEED_ID).collect()  # 1 row
    assert len(seed_row) == 1, "power-iteration seed vector missing"
    seed = [int(v) for v in seed_row[0]["mv"]]
    # the step is the shared SIM.power_step expression — also the loop
    # body of operators/iterative.py::power_iteration, so the registered
    # step and the converging driver cannot drift by edit
    return (
        SIM.power_step(base, seed)
        .select((F.col("pos") + 1).alias("dim_id"), "y")
        .orderBy("dim_id")
    )


def _power_iteration_sql() -> str:
    u = POWER_UNIT
    return f"""
WITH m AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {u}) AS BIGINT)) AS mv
  FROM embeddings
),
seed AS (
  SELECT i AS dim_id, mv[i] AS v
  FROM m, UNNEST(generate_series(1, len(mv))) AS t(i)
  WHERE vec_id = {POWER_SEED_ID}
),
xi AS (
  SELECT vec_id, i AS dim_id, mv[i] AS x
  FROM m, UNNEST(generate_series(1, len(mv))) AS t(i)
),
dots AS (
  SELECT xi.vec_id, CAST(SUM(xi.x * s.v) AS BIGINT) AS dot
  FROM xi JOIN seed s USING (dim_id)
  GROUP BY 1
)
SELECT xi.dim_id, CAST(SUM(d.dot * xi.x) AS BIGINT) AS y
FROM xi JOIN dots d USING (vec_id)
GROUP BY 1
ORDER BY dim_id
"""


QUERIES: dict[str, QueryEntry] = {
    "sim_random_projection": QueryEntry(sim_random_projection, _rp_sql()),
    "sim_mutual_knn": QueryEntry(sim_mutual_knn, _mutual_knn_sql()),
    "sim_pagerank_step": QueryEntry(sim_pagerank_step, _pagerank_sql()),
    "sim_pagerank_fixed3": QueryEntry(
        sim_pagerank_fixed3, _pagerank_fixed_sql()
    ),
    "sim_power_iteration": QueryEntry(
        sim_power_iteration, _power_iteration_sql()
    ),
    "sim_kmeans_step": QueryEntry(sim_kmeans_step, _kmeans_step_sql()),
    "sim_kmeans_fixed": QueryEntry(sim_kmeans_fixed, _kmeans_fixed_sql()),
    "sim_ann_recall_eval": QueryEntry(sim_ann_recall_eval, _ann_recall_sql()),
    "sim_topk_cosine": QueryEntry(sim_topk_cosine, _TOPK_SQL),
    "sim_pq_topk": QueryEntry(sim_pq_topk, _PQ_SQL),
    "sim_lsh_buckets": QueryEntry(sim_lsh_buckets, _lsh_sql()),
    "sim_bucketed_topk": QueryEntry(sim_bucketed_topk, _bucketed_topk_sql()),
    "sim_multiprobe_topk": QueryEntry(sim_multiprobe_topk, _multiprobe_sql()),
    "sim_ivf_topk": QueryEntry(sim_ivf_topk, _IVF_SQL),
    "sim_label_centroids": QueryEntry(sim_label_centroids, _CENTROIDS_SQL),
    "sim_centroid_assign": QueryEntry(sim_centroid_assign, _CENTROID_ASSIGN_SQL),
    "sim_norm_stats": QueryEntry(sim_norm_stats, _NORM_STATS_SQL),
    "sim_embedding_quantize": QueryEntry(sim_embedding_quantize, _QUANTIZE_SQL),
    "sim_quantized_topk": QueryEntry(sim_quantized_topk, _QTOPK_SQL),
    "sim_knn_join_arrow": QueryEntry(sim_knn_join_arrow, _knn_join_sql()),
    "sim_semantic_dedup": QueryEntry(sim_semantic_dedup, _semantic_dedup_sql()),
    "sim_semdedup_sweep": QueryEntry(
        sim_semdedup_sweep, _semdedup_sweep_sql()
    ),
    "sim_hybrid_search": QueryEntry(sim_hybrid_search, _hybrid_sql()),
}
