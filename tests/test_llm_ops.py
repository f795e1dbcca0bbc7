"""Semantic properties of the LLM-data operators, beyond oracle equality:
planted duplicates are found, sketch invariants hold, ANN self-retrieves.
"""

import pytest
from pyspark.sql import functions as F

from sql_cdc_spark import tables
from sql_cdc_spark.functions import dedup as DD
from sql_cdc_spark.functions import similarity as SIM
from tests.conftest import SF_DIR_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return tables.load(spark, SF_DIR_SMALL, "documents")


def _with_planted_dups(docs, n=5, id_offset=1_000_000):
    """Append exact copies of the first n docs under new ids."""
    clones = (
        docs.orderBy("doc_id")
        .limit(n)
        .withColumn("doc_id", F.col("doc_id") + id_offset)
    )
    return docs.unionByName(clones), id_offset


def test_exact_dedup_finds_planted_copies(spark, docs):
    planted, off = _with_planted_dups(docs, n=5)
    dups = DD.exact_duplicates(planted).filter(F.col("n_copies") >= 2).collect()
    # each planted pair collapses to one digest with canonical = original id
    assert len([d for d in dups if d.canonical_id < off]) >= 5
    for d in dups:
        assert d.canonical_id < off


def doc_shingles_exact(docs, text_col: str = "text", id_col: str = "doc_id"):
    """(doc_id, sh64) exploded-distinct, pure JVM expressions — the
    cross-implementation REFERENCE for DD.doc_shingles (the elected
    Arrow kernel must stay bit-identical to this). The shingle string is
    hashed to its 60-bit md5-prefix int before the distinct, the same
    hashed domain the DuckDB oracle dedups on."""
    sh64 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10).cast("long")
    return (
        DD.balance_partitions(docs)
        .select(F.col(id_col), F.explode(DD.shingles(F.col(text_col))).alias("shingle"))
        .select(F.col(id_col), sh64.alias("sh64"))
        .distinct()
    )


def test_doc_shingles_kernel_matches_exact(spark, docs):
    """r9 optimization: the elected mapInArrow shingling kernel must be
    bit-identical to the JVM expression reference (doc_shingles_exact)
    on the driver corpus AND on planted edge cases covering every
    semantic the kernel re-implements in Python: Java's ASCII-only
    regex \\s (NBSP is NOT whitespace), Spark trim (0x20 only),
    UTF8String.toLowerCase (Turkish İ, ß, Greek final sigma, titlecase
    digraphs, fullwidth forms), blank/sub-width documents, and null
    text."""
    edge_texts = [
        "İstanbul Şehir Üniversitesi kampüsü",
        "STRASSE ß GROSS MASSE WEISS",
        "ΣΟΦΟΣ ΣΟΦΙΑ ΤΕΛΟΣ",
        "nbsp joined words here now",
        "tab\tand\nnewline\rand\x0bvt\x0cff mix",
        "", " ", "  ", "one", "one two",
        "ǅungla Ǳungla ǈjubav titlecase digraphs",
        "ＦＵＬＬ ＷＩＤＴＨ here",
        None,
    ]
    edges = spark.createDataFrame(
        [(10_000 + i, t) for i, t in enumerate(edge_texts)],
        "doc_id long, text string",
    )
    corpus = docs.select("doc_id", "text").unionByName(edges)
    got = sorted(map(tuple, DD.doc_shingles(corpus).collect()))
    want = sorted(map(tuple, doc_shingles_exact(corpus).collect()))
    assert got == want


def test_shingle_kernel_output_batches_are_bounded():
    """r10 (VERDICT r9 #4 / ADVICE r9): the shingling kernel must flush
    its output buffer every ``flush_rows`` shingle rows instead of
    holding one input batch's full fan-out — a long-document corpus at
    Arrow's 10k rows/batch otherwise spikes multi-GB of Python lists
    per task. Drives the module-level kernel directly over a synthetic
    batch holding one LONG document (far more shingles than the flush
    bound) plus trailing short docs, and checks (a) several batches come
    out, (b) every batch respects the bound max(flush, one doc's own
    distinct shingles), and (c) chunking changes no rows vs an unbounded
    run."""
    import pyarrow as pa

    from sql_cdc_spark.functions.dedup import _shingle_kernel

    long_doc = " ".join(f"w{i}" for i in range(5_000))  # 4,998 shingles
    mediums = [
        (100 + j, " ".join(f"m{j}x{i}" for i in range(50)))  # 48 shingles
        for j in range(200)
    ]
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([1] + [i for i, _ in mediums], pa.int64()),
            pa.array([long_doc] + [t for _, t in mediums]),
        ],
        ["doc_id", "text"],
    )
    flush = 1_000
    chunks = list(_shingle_kernel("doc_id", flush_rows=flush)([batch]))
    assert len(chunks) >= 5, "fan-out did not trigger chunked flushes"
    # one doc's own distinct shingles is the irreducible working set:
    # the long doc flushes alone; every other batch stays within
    # flush + one medium doc's shingles
    sizes = sorted((c.num_rows for c in chunks), reverse=True)
    assert sizes[0] <= 4_998
    assert all(s <= flush + 48 for s in sizes[1:]), sizes
    got = sorted(
        (i, s)
        for c in chunks
        for i, s in zip(c.column(0).to_pylist(), c.column(1).to_pylist())
    )
    whole = list(_shingle_kernel("doc_id", flush_rows=1 << 30)([batch]))
    want = sorted(
        (i, s)
        for c in whole
        for i, s in zip(c.column(0).to_pylist(), c.column(1).to_pylist())
    )
    assert got == want and len(got) > 5_000


def test_doc_shingles_registry_inputs_are_keyed(spark, docs):
    """ADVICE r9: doc_shingles replaced the reference path's defensive
    global distinct with a one-row-per-id PRECONDITION. Spot-check every
    frame shape the registry feeds it: the base corpus table, the
    exact-dedup survivor set, and the incremental upsert batch (updates
    ∪ offset inserts) — each must be keyed by doc_id, or n_sh and every
    Jaccard/containment downstream silently double-counts."""
    from sql_cdc_spark.queries.dedup_q import (
        INC_DEL,
        INC_ID_OFFSET,
        INC_INS,
        INC_UPD,
        INC_SUFFIX,
    )

    def dup_ids(df):
        return (
            df.groupBy("doc_id")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )

    base = docs.select("doc_id", "text")
    assert dup_ids(base) == 0, "corpus table is not keyed by doc_id"

    exact = DD.exact_duplicates(base)
    survivors = base.join(
        exact.select(F.col("canonical_id").alias("doc_id")), "doc_id"
    )
    assert dup_ids(survivors) == 0, "exact-dedup survivors not keyed"

    is_del = (F.col("doc_id") % INC_DEL[0]) == INC_DEL[1]
    is_upd = ((F.col("doc_id") % INC_UPD[0]) == INC_UPD[1]) & ~is_del
    is_ins = (F.col("doc_id") % INC_INS[0]) == INC_INS[1]
    upserts = (
        base.filter(is_upd)
        .select("doc_id", F.concat("text", F.lit(INC_SUFFIX)).alias("text"))
        .unionByName(
            base.filter(is_ins).select(
                (F.col("doc_id") + INC_ID_OFFSET).alias("doc_id"), "text"
            )
        )
    )
    assert dup_ids(upserts) == 0, "incremental upsert batch not keyed"


def test_identical_docs_have_identical_signatures(spark, docs):
    planted, off = _with_planted_dups(docs, n=3)
    sigs = DD.minhash_signatures(DD.doc_shingles(planted))
    rows = {r.doc_id: tuple(r[f"mh{i}"] for i in range(DD.MINHASH_K)) for r in sigs.collect()}
    for orig in list(rows):
        if orig + off in rows:
            assert rows[orig] == rows[orig + off]


def test_planted_dups_survive_full_near_dup_pipeline(spark, docs):
    planted, off = _with_planted_dups(docs, n=3)
    shingled = DD.doc_shingles(planted).persist()
    cands = DD.lsh_candidate_pairs(DD.minhash_signatures(shingled))
    pairs = DD.jaccard_pairs(shingled, cands, threshold=0.99).collect()
    found = {(p.id_a, p.id_b) for p in pairs}
    for orig in range(3):
        matches = [p for p in found if p[1] == p[0] + off]
        assert matches, f"planted duplicate of doc {orig} not recovered"
    # jaccard of identical docs is exactly 1
    assert all(p.jaccard == 1.0 for p in pairs if p.id_b == p.id_a + off)


def test_simhash_identical_docs_zero_hamming(spark, docs):
    planted, off = _with_planted_dups(docs, n=3)
    pairs = DD.simhash_pairs(DD.simhash(planted), max_hamming=0).collect()
    planted_pairs = {(p.id_a, p.id_b) for p in pairs if p.id_b == p.id_a + off}
    assert len(planted_pairs) >= 3
    assert all(p.hamming == 0 for p in pairs if p.id_b == p.id_a + off)


def test_ann_self_retrieval_and_bucket_consistency(spark):
    emb = tables.load(spark, SF_DIR_SMALL, "embeddings")
    bucketed = emb.select(
        "vec_id", "embedding", SIM.lsh_bucket(F.col("embedding")).alias("bucket")
    )
    qb = bucketed.filter(F.col("vec_id") == 0).select("bucket").first().bucket
    in_bucket = {r.vec_id for r in bucketed.filter(F.col("bucket") == qb).collect()}

    from sql_cdc_spark.queries.similarity_q import sim_bucketed_topk

    got = sim_bucketed_topk(spark, SF_DIR_SMALL).collect()
    # the query vector retrieves itself first with cosine exactly 1
    assert got[0].vec_id == 0 and got[0].cos_sim == 1.0
    # every ANN result really lives in the query's bucket
    assert {r.vec_id for r in got} <= in_bucket
    # scores are sorted descending with the id tiebreak
    scores = [(r.cos_sim, -r.vec_id) for r in got]
    assert scores == sorted(scores, reverse=True)


def test_topk_cosine_bounds(spark):
    emb = tables.load(spark, SF_DIR_SMALL, "embeddings")
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    top = SIM.topk_cosine(emb, query, k=5).collect()
    assert len(top) == 5
    assert all(-1.0 <= r.cos_sim <= 1.0 for r in top)
    assert top[0].vec_id == 0 and top[0].cos_sim == 1.0


def test_ivf_topk_membership_and_self_retrieval(spark):
    emb = tables.load(spark, SF_DIR_SMALL, "embeddings")
    got = SIM.ivf_topk(emb, query_id=0, k=10, n_clusters=8).collect()
    assert got and got[0].vec_id == 0 and got[0].cos_sim == 1.0
    # single-probe: all results share the query's cluster
    assert len({r.cluster for r in got}) == 1
    # probing more clusters can only improve (or keep) the k-th score
    wide = SIM.ivf_topk(emb, query_id=0, k=10, n_clusters=8, n_probe=4).collect()
    assert wide[-1].cos_sim >= got[-1].cos_sim


def test_hll_sketch_accuracy_bound(spark):
    """The sketch query's in-plan accuracy verdict holds: within_bound is
    true for every event type and n_users equals the exact distinct count."""
    from sql_cdc_spark.queries.events_q import evt_user_cardinality_sketch

    got = {
        r.event_type: (r.n_users, r.within_bound)
        for r in evt_user_cardinality_sketch(spark, SF_DIR_SMALL).collect()
    }
    ev = tables.load(spark, SF_DIR_SMALL, "events")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got.keys() == exact.keys()
    for t in exact:
        n_users, within = got[t]
        assert n_users == exact[t]
        assert within is True, (t, n_users)


def test_lsh_band_cap_prevents_quadratic_blowup(spark, docs):
    """Planted skew: a boilerplate bucket of 200 identical docs would emit
    ~19.9k candidate pairs; the bucket cap drops it while pairs from
    honest-sized buckets survive."""
    hot = spark.range(200).select(
        (F.col("id") + 5_000_000).alias("doc_id"),
        F.lit("the same boilerplate legal disclaimer repeated verbatim").alias("text"),
    )
    base = docs.select("doc_id", "text").orderBy("doc_id").limit(30)
    sigs = DD.minhash_signatures(DD.doc_shingles(base.unionByName(hot)))
    uncapped = DD.lsh_candidate_pairs(sigs).count()
    capped_pairs = DD.lsh_candidate_pairs(sigs, max_bucket_size=50)
    capped = capped_pairs.count()
    assert uncapped >= 200 * 199 // 2
    assert capped <= uncapped - 200 * 199 // 2, "hot bucket not dropped"
    # no pair from the hot bucket survives; honest pairs (if any) keep ids < offset
    assert capped_pairs.filter(F.col("id_a") >= 5_000_000).count() == 0


def test_ivf_sample_fit_touches_fraction_of_corpus(spark):
    """ivf_assign's default fit sizes the sample to ~50 points per
    centroid: on a corpus much larger than 50·k the k-means fit must not
    see the full corpus, while assignment still covers every vector."""
    from sql_cdc_spark.functions.similarity import ivf_assign

    emb = tables.load(spark, "/root/testdata/sf0.01", "embeddings")
    big = emb
    for i in range(3):  # 500 → 4000 rows, well past 50·16=800
        big = big.unionByName(
            emb.withColumn("vec_id", F.col("vec_id") + (i + 1) * 10_000)
        )
    assigned, model = ivf_assign(big, n_clusters=16)
    assert assigned.count() == big.count()
    assert len(model.clusterCenters()) <= 16
    assert model.summary.numIter >= 0  # model fit happened
    assert model.summary.trainingCost >= 0
    # the fit dataset the model saw is the sample, not the corpus
    assert model.summary.predictions.count() < big.count()


def test_ann_recall_vs_brute_force(spark):
    """Recall@10 vs the exact baseline at sf0.01 (deterministic data, so
    exact values are stable). The synthetic embeddings are uniform random
    — near-zero cosine structure — so absolute recall is modest by
    construction; the load-bearing assertions are the orderings: wider
    probing never loses recall, and every variant beats the 1/N floor."""
    from tests.conftest import SF_DIR

    import __spark_entry__ as e

    qs = e.queries()
    truth = {r.vec_id for r in qs["sim_topk_cosine"](spark, SF_DIR).collect()}

    def recall(name):
        got = {r.vec_id for r in qs[name](spark, SF_DIR).collect()}
        return len(got & truth) / len(truth)

    r_single = recall("sim_bucketed_topk")
    r_multi = recall("sim_multiprobe_topk")
    assert r_multi >= r_single >= 0.1
    assert r_multi >= 0.3


@pytest.mark.slow
def test_ivf_probe_sweep_recall_monotone_to_exact(spark):
    """IVF probe-width sweep: with a seeded (deterministic) coarse
    quantizer, widening n_probe can only add scanned clusters, so
    recall@10 vs brute force is non-decreasing in n_probe — and probing
    ALL clusters degenerates to the exact scan (recall 1.0). This pins
    the recall/cost dial the 100 TB deployment would actually turn."""
    from tests.conftest import SF_DIR

    import __spark_entry__ as e
    from sql_cdc_spark import tables
    from sql_cdc_spark.functions.similarity import ivf_topk

    truth = {
        r.vec_id for r in e.queries()["sim_topk_cosine"](spark, SF_DIR).collect()
    }
    emb = tables.load(spark, SF_DIR, "embeddings")
    recalls = []
    for n_probe in (1, 2, 4, 8):
        got = {
            r.vec_id
            for r in ivf_topk(emb, query_id=0, k=10, n_clusters=8, n_probe=n_probe).collect()
        }
        recalls.append(len(got & truth) / len(truth))
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[-1] == 1.0, f"full probe must be exact: {recalls}"


def test_balance_partitions_fixes_compute_starved_scans(spark, docs):
    """A byte-small corpus scans as one partition (parquet can't split
    below a row group), starving compute-dense shingling; balancing must
    lift it to cluster parallelism — and leave well-split inputs alone."""
    from sql_cdc_spark.functions.dedup import balance_partitions

    target = spark.sparkContext.defaultParallelism
    small = docs.coalesce(1)
    assert balance_partitions(small).rdd.getNumPartitions() == target
    wide = docs.repartition(target + 4)
    assert balance_partitions(wide).rdd.getNumPartitions() == target + 4


def test_dup_clusters_connected_components(spark):
    """Chains must collapse transitively (A~B, B~C => one cluster even
    though A,C were never paired), disjoint components stay disjoint, and
    every cluster is labeled by its minimum member."""
    from sql_cdc_spark.functions.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [(2, 7), (7, 9), (11, 12), (40, 41), (41, 3)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(pairs).collect()}
    assert got == {2: 2, 7: 2, 9: 2, 11: 11, 12: 11, 3: 3, 40: 3, 41: 3}


def test_dup_clusters_deep_chain_beats_round_budget(spark):
    """The r9 star-contraction rewrite's reason to exist: a component
    whose diameter EXCEEDS max_iters. Min-label propagation moved the
    min one hop per round, so a 60-hop chain at max_iters=8 silently
    returned partial labels; large-star/small-star contracts the same
    chain within the log-scale budget. Also pins the new fail-loud
    contract: the operator must either converge or raise — never emit
    wrong labels."""
    from sql_cdc_spark.functions.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    got = {r.doc_id: r.cluster_id for r in dup_clusters(chain, 8).collect()}
    assert got == {i: 0 for i in range(61)}


def test_dup_clusters_raises_rather_than_truncates(spark):
    """max_iters=1 cannot finish a chain — the operator must raise, not
    return partial labels (the old algorithm's silent-truncation bug)."""
    import pytest as _pytest

    from sql_cdc_spark.functions.dedup import dup_clusters

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dup_clusters(chain, 1)


def _pairs_set(df):
    return {(r.id_a, r.id_b, r.jaccard) for r in df.collect()}


@pytest.mark.slow
def test_incremental_near_dup_equals_full_recompute(spark, docs):
    """apply_near_dup_changes == build_near_dup_state on the post-change
    corpus, through a batch containing inserts (verbatim copies → new
    pairs), updates (text rewritten → pairs retired/changed), and deletes
    (pairs retired). Run at the registry's cap and threshold."""
    base = docs.select("doc_id", "text")
    deletes = base.filter((F.col("doc_id") % 7) == 2).select("doc_id")
    updates = base.filter((F.col("doc_id") % 7) == 3).select(
        "doc_id", F.concat(F.col("text"), F.lit(" incremental rewrite")).alias("text")
    )
    inserts = base.filter((F.col("doc_id") % 7) == 4).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    upserts = updates.unionByName(inserts)

    state = DD.build_near_dup_state(base, max_bucket_size=50, threshold=0.5)
    got = DD.apply_near_dup_changes(
        state, upserts, deletes, max_bucket_size=50, threshold=0.5
    )

    new_corpus = (
        base.join(deletes, "doc_id", "left_anti")
        .join(updates.select("doc_id"), "doc_id", "left_anti")
        .unionByName(upserts)
    )
    want = DD.build_near_dup_state(
        new_corpus, max_bucket_size=50, threshold=0.5
    )
    assert _pairs_set(got.pairs) == _pairs_set(want.pairs)
    # the maintained state TABLES must match a fresh build too — they are
    # the inputs of the NEXT batch
    assert _pairs_set(
        got.banded.select(
            F.col("doc_id").alias("id_a"),
            F.col("bkey").alias("id_b"),
            F.lit(0.0).alias("jaccard"),
        )
    ) == _pairs_set(
        want.banded.select(
            F.col("doc_id").alias("id_a"),
            F.col("bkey").alias("id_b"),
            F.lit(0.0).alias("jaccard"),
        )
    )
    got_sizes = {(r.bkey, r.bsz) for r in got.bucket_sizes.collect()}
    want_sizes = {(r.bkey, r.bsz) for r in want.bucket_sizes.collect()}
    assert got_sizes == want_sizes


@pytest.mark.slow
def test_incremental_near_dup_cap_flip_exact(spark):
    """The hot-band-cap edge: an affected bucket crossing the cap must
    retire pairs of UNTOUCHED docs (bucket newly over cap) and create
    them (bucket newly under cap), exactly as a full recompute would.
    Identical texts collide in every band bucket, so inserting/deleting
    copies moves shared buckets across a tiny cap."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    text = "alpha beta gamma delta epsilon zeta eta theta"
    other = "one two three four five six seven eight nine"
    base = mk([(1, text), (2, text), (3, other), (4, other), (5, other)])

    # cap=2: {1,2} under cap → pair (1,2); {3,4,5} over cap → no pairs
    st = DD.build_near_dup_state(base, max_bucket_size=2, threshold=0.5)
    assert {(a, b) for a, b, _ in _pairs_set(st.pairs)} == {(1, 2)}

    # batch: insert doc 6 = text (bucket {1,2,6} now OVER cap → pair
    # (1,2) of two untouched docs must retire), delete doc 5 (bucket
    # {3,4} now UNDER cap → pair (3,4) of two untouched docs must appear)
    got = DD.apply_near_dup_changes(
        st,
        mk([(6, text)]),
        spark.createDataFrame([(5,)], "doc_id long"),
        max_bucket_size=2,
        threshold=0.5,
    )
    new_corpus = mk(
        [(1, text), (2, text), (3, other), (4, other), (6, text)]
    )
    want = DD.build_near_dup_state(
        new_corpus, max_bucket_size=2, threshold=0.5
    )
    assert _pairs_set(got.pairs) == _pairs_set(want.pairs)
    assert {(a, b) for a, b, _ in _pairs_set(got.pairs)} == {(3, 4)}


@pytest.mark.slow
def test_incremental_near_dup_chained_batches(spark, docs):
    """State survives repeated application: two consecutive batches end
    at the same pair set as one full recompute of the final corpus."""
    base = docs.select("doc_id", "text").orderBy("doc_id").limit(200)
    st = DD.build_near_dup_state(base, max_bucket_size=50, threshold=0.5)
    # batch 1: clone 10 docs
    ins1 = base.orderBy("doc_id").limit(10).withColumn(
        "doc_id", F.col("doc_id") + 700_000
    )
    st1 = DD.apply_near_dup_changes(
        st, ins1, ins1.select("doc_id").limit(0),
        max_bucket_size=50, threshold=0.5,
    )
    # batch 2: delete the originals of 5 clones, update 5 others
    dels = base.orderBy("doc_id").limit(5).select("doc_id")
    upd = (
        base.orderBy(F.desc("doc_id")).limit(5)
        .select("doc_id", F.concat(F.col("text"), F.lit(" v2")).alias("text"))
    )
    st2 = DD.apply_near_dup_changes(
        st1, upd, dels, max_bucket_size=50, threshold=0.5
    )
    final = (
        base.join(dels, "doc_id", "left_anti")
        .join(upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(upd)
        .unionByName(ins1)
    )
    want = DD.build_near_dup_state(final, max_bucket_size=50, threshold=0.5)
    assert _pairs_set(st2.pairs) == _pairs_set(want.pairs)


@pytest.mark.slow
def test_incremental_near_dup_random_rounds_property(spark, docs):
    """Property: through R random CDC rounds (random deletes, updates,
    clone-inserts drawn per round from the LIVE corpus), chained
    apply_near_dup_changes equals a full rebuild of the resulting corpus.
    Seeded, so failures reproduce."""
    import random

    rng = random.Random(20260814)
    base = docs.select("doc_id", "text").orderBy("doc_id").limit(80)
    live = {r.doc_id: r.text for r in base.collect()}
    state = DD.build_near_dup_state(base, max_bucket_size=10, threshold=0.5)

    next_id = 10_000_000
    for _ in range(3):
        ids = sorted(live)
        dels = rng.sample(ids, k=min(6, len(ids) // 4))
        upd_pool = [i for i in ids if i not in dels]
        upds = rng.sample(upd_pool, k=min(5, len(upd_pool)))
        srcs = rng.sample(ids, k=4)  # clone sources (may include deleted)
        up_rows = [
            (i, live[i] + f" rev{rng.randint(0, 9)}") for i in upds
        ]
        ins_rows = []
        for s in srcs:
            ins_rows.append((next_id, live[s]))
            next_id += 1
        upserts = spark.createDataFrame(
            up_rows + ins_rows, "doc_id long, text string"
        )
        deletes = spark.createDataFrame([(i,) for i in dels], "doc_id long")
        prev = state
        state = DD.apply_near_dup_changes(
            prev, upserts, deletes, max_bucket_size=10, threshold=0.5
        )
        prev.release()
        for i in dels:
            live.pop(i)
        for i, t in up_rows + ins_rows:
            live[i] = t

    final_corpus = spark.createDataFrame(
        sorted(live.items()), "doc_id long, text string"
    )
    want = DD.build_near_dup_state(
        final_corpus, max_bucket_size=10, threshold=0.5
    )
    assert _pairs_set(state.pairs) == _pairs_set(want.pairs)
    got_sizes = {(r.bkey, r.bsz) for r in state.bucket_sizes.collect()}
    want_sizes = {(r.bkey, r.bsz) for r in want.bucket_sizes.collect()}
    assert got_sizes == want_sizes


def _cpairs_set(df):
    return {
        (r.id_a, r.id_b, r.n_a, r.n_b, r.containment) for r in df.collect()
    }


@pytest.mark.slow
def test_incremental_containment_equals_full_recompute(spark, docs):
    """apply_containment_changes == build_containment_state on the
    post-change corpus through inserts / updates / deletes, at the
    registry's df_cap and threshold. The maintained state tables (df
    census, rare sizes) must match a fresh build too — they feed the
    next batch."""
    base = docs.select("doc_id", "text").orderBy("doc_id").limit(200)
    deletes = base.filter((F.col("doc_id") % 7) == 2).select("doc_id")
    updates = base.filter((F.col("doc_id") % 7) == 3).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" containment rewrite")).alias("text"),
    )
    inserts = base.filter((F.col("doc_id") % 7) == 4).select(
        (F.col("doc_id") + 500_000).alias("doc_id"), "text"
    )
    upserts = updates.unionByName(inserts)

    state = DD.build_containment_state(base, df_cap=20, threshold=0.2)
    got = DD.apply_containment_changes(
        state, upserts, deletes, df_cap=20, threshold=0.2
    )
    new_corpus = (
        base.join(deletes, "doc_id", "left_anti")
        .join(updates.select("doc_id"), "doc_id", "left_anti")
        .unionByName(upserts)
    )
    want = DD.build_containment_state(new_corpus, df_cap=20, threshold=0.2)
    assert _cpairs_set(got.pairs) == _cpairs_set(want.pairs)
    assert {(r.sh64, r.df) for r in got.dfreq.collect()} == {
        (r.sh64, r.df) for r in want.dfreq.collect()
    }
    assert {(r.doc_id, r.n_rare) for r in got.sizes.collect()} == {
        (r.doc_id, r.n_rare) for r in want.sizes.collect()
    }


@pytest.mark.slow
def test_incremental_containment_rarity_flip_exact(spark):
    """The global-rarity edge the LSH path doesn't have: a batch pushing
    a shingle's document frequency across df_cap must retire pairs of
    UNTOUCHED docs (shingle newly hot) and create them (shingle newly
    rare), exactly as a full recompute would. Three-word texts carry
    exactly one shingle, so df is simply the copy count."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    p, q = "aa bb cc", "dd ee ff"
    base = mk([(1, p), (2, p), (3, q), (4, q), (5, q)])

    # cap=2: df(p)=2 rare → pair (1,2); df(q)=3 hot → no q pairs
    st = DD.build_containment_state(base, df_cap=2, threshold=0.2)
    assert {(a, b) for a, b, *_ in _cpairs_set(st.pairs)} == {(1, 2)}

    # insert doc 6 with p (df 3 → hot: untouched pair (1,2) retires),
    # delete doc 5 (df(q) 2 → rare: untouched pair (3,4) appears)
    got = DD.apply_containment_changes(
        st,
        mk([(6, p)]),
        spark.createDataFrame([(5,)], "doc_id long"),
        df_cap=2,
        threshold=0.2,
    )
    want = DD.build_containment_state(
        mk([(1, p), (2, p), (3, q), (4, q), (6, p)]), df_cap=2, threshold=0.2
    )
    assert _cpairs_set(got.pairs) == _cpairs_set(want.pairs)
    assert {(a, b) for a, b, *_ in _cpairs_set(got.pairs)} == {(3, 4)}


@pytest.mark.slow
def test_incremental_containment_entering_pair_via_size_shrink(spark):
    """A pair can ENTER the result without its intersection changing:
    an endpoint's rare set shrinks (one of its shingles flips hot), the
    min-size drops, containment rises past the threshold. Pure
    rescoring of STORED pairs would miss it — the pair was never stored.
    Doc texts: A = [p r], B = [r s]; five other docs carry p. Before:
    containment(A,B) = 1/min(2,2) = 0.5 < 0.7. Batch inserts nothing
    touching A or B but pushes p hot → A's rare set = {r}, containment
    = 1/1 = 1.0 ≥ 0.7."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    # k=3 shingles: "aa bb cc dd" → shingles {aa bb cc, bb cc dd}
    a_text = "aa bb cc dd"      # shingles: P=(aa bb cc), R=(bb cc dd)
    b_text = "bb cc dd ee"      # shingles: R=(bb cc dd), S=(cc dd ee)
    base = mk([(1, a_text), (2, b_text), (3, "aa bb cc")])
    st = DD.build_containment_state(base, df_cap=2, threshold=0.7)
    # df(P)=2 rare, so A={P,R}, B={R,S}: containment(1,2) = 1/2 — below
    # 0.7. Doc 3 = {P} ⊂ A pairs with A at 1/min(2,1) = 1.0.
    assert {(a, b) for a, b, *_ in _cpairs_set(st.pairs)} == {(1, 3)}

    got = DD.apply_containment_changes(
        st,
        mk([(10, "aa bb cc")]),  # df(P)=3 → hot; docs 1,2 untouched
        spark.createDataFrame([], "doc_id long"),
        df_cap=2,
        threshold=0.7,
    )
    want = DD.build_containment_state(
        mk([(1, a_text), (2, b_text), (3, "aa bb cc"), (10, "aa bb cc")]),
        df_cap=2,
        threshold=0.7,
    )
    assert _cpairs_set(got.pairs) == _cpairs_set(want.pairs)
    assert {(a, b) for a, b, *_ in _cpairs_set(got.pairs)} == {(1, 2)}


@pytest.mark.slow
def test_incremental_containment_chained_batches(spark, docs):
    """Two consecutive batches end at the same state as one full
    recompute of the final corpus — the state tables are valid inputs
    for the next round."""
    base = docs.select("doc_id", "text").orderBy("doc_id").limit(120)
    st = DD.build_containment_state(base, df_cap=10, threshold=0.2)
    ins1 = base.orderBy("doc_id").limit(8).withColumn(
        "doc_id", F.col("doc_id") + 700_000
    )
    st1 = DD.apply_containment_changes(
        st, ins1, ins1.select("doc_id").limit(0), df_cap=10, threshold=0.2
    )
    dels = base.orderBy("doc_id").limit(4).select("doc_id")
    upd = (
        base.orderBy(F.desc("doc_id"))
        .limit(4)
        .select("doc_id", F.concat(F.col("text"), F.lit(" v2")).alias("text"))
    )
    st2 = DD.apply_containment_changes(
        st1, upd, dels, df_cap=10, threshold=0.2
    )
    st.release()
    st1.release()
    final = (
        base.join(dels, "doc_id", "left_anti")
        .join(upd.select("doc_id"), "doc_id", "left_anti")
        .unionByName(upd)
        .unionByName(ins1)
    )
    want = DD.build_containment_state(final, df_cap=10, threshold=0.2)
    assert _cpairs_set(st2.pairs) == _cpairs_set(want.pairs)


@pytest.mark.slow
def test_containment_sweep_engineered_fixture(spark):
    """Known-geometry corpus: doc2 fully embedded in doc1 (containment
    100%), doc3 shares exactly one of its three shingles with doc1
    (33%), doc4 disjoint. The sweep reports the per-threshold pair and
    doc counts that geometry implies, and each threshold's pair count
    agrees with a containment_pairs run at the same cutoff."""
    corpus = spark.createDataFrame(
        [
            (1, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
            (2, "w1 w2 w3 w4 w5"),
            (3, "w6 w7 w8 x1 x2"),
            (4, "y1 y2 y3 y4 y5"),
        ],
        "doc_id long, text string",
    )
    sh = DD.doc_shingles(corpus)
    got = {
        r.threshold_pct: (r.n_pairs, r.n_docs)
        for r in DD.containment_sweep(
            sh, df_cap=100, thresholds_pct=(10, 50, 100)
        ).collect()
    }
    # pct 10: (1,2) at 100% and (1,3) at 1/3 both fire -> 2 pairs, 3 docs
    # pct 50 and 100: only the embedded pair survives
    assert got == {10: (2, 3), 50: (1, 2), 100: (1, 2)}
    for pct in (10, 50, 100):
        same = DD.containment_pairs(
            sh, df_cap=100, threshold=pct / 100
        ).count()
        assert same == got[pct][0]


def test_containment_sweep_monotone_and_consistent(spark, docs):
    """On real data: counts are non-increasing in the threshold, and the
    20% row agrees with the registry containment_pairs query's pair set
    (same df_cap, same corpus — the sweep is the multi-threshold view of
    the same base table)."""
    sh = DD.doc_shingles(docs.select("doc_id", "text"))
    rows = DD.containment_sweep(
        sh, df_cap=20, thresholds_pct=(10, 20, 50)
    ).collect()
    by_pct = {r.threshold_pct: r for r in rows}
    pcts = sorted(by_pct)
    for lo, hi in zip(pcts, pcts[1:]):
        assert by_pct[lo].n_pairs >= by_pct[hi].n_pairs
        assert by_pct[lo].n_docs >= by_pct[hi].n_docs
    if 20 in by_pct:
        pairs_20 = DD.containment_pairs(sh, df_cap=20, threshold=0.2)
        assert by_pct[20].n_pairs == pairs_20.count()


def test_containment_sweep_matches_oracle(spark, oracle):
    """Oracle-parity gate for dd_containment_sweep ahead of its round-5
    driver-window entry (the r4 window was already fully committed) —
    the same comparison the driver runs, at the same sf0.01."""
    from sql_cdc_spark.queries.dedup_q import (
        _CONTAINMENT_SWEEP_SQL,
        dd_containment_sweep,
    )
    from tests.conftest import SF_DIR, assert_matches_oracle

    df = dd_containment_sweep(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _CONTAINMENT_SWEEP_SQL)


def test_random_projection_preserves_distances_statistically(spark):
    """The JL point of sim_random_projection: squared distances in the
    16-dim sketch, rescaled by dim/k, approximate the 64-dim squared
    distances. ±1 projections at k=16 have real variance, so the
    assertion is statistical — the MEDIAN ratio over sampled pairs sits
    near 1, and no ratio collapses to 0 or explodes (which is what a
    sign-matrix drift between engines or a broken element alignment
    would produce)."""
    import statistics

    from sql_cdc_spark import tables
    from sql_cdc_spark.queries.similarity_q import RP_K, sim_random_projection

    emb = (
        tables.load(spark, SF_DIR_SMALL, "embeddings")
        .orderBy("vec_id")
        .limit(40)
        .collect()
    )
    proj = {
        r.vec_id: [r[f"y{j:02d}"] for j in range(RP_K)]
        for r in sim_random_projection(spark, SF_DIR_SMALL)
        .filter(F.col("vec_id") < 40)
        .collect()
    }
    orig = {
        r.vec_id: [round(float(x) * 1e6) for x in r.embedding] for r in emb
    }
    ratios = []
    ids = sorted(orig)
    for a, b in zip(ids, ids[20:]):
        d_orig = sum((x - y) ** 2 for x, y in zip(orig[a], orig[b]))
        d_proj = sum((x - y) ** 2 for x, y in zip(proj[a], proj[b]))
        if d_orig:
            ratios.append(d_proj / RP_K / (d_orig / 1))
    # E[d_proj per coord] = d_orig, so ratio = d_proj/(k·d_orig) ≈ 1
    med = statistics.median(ratios)
    assert 0.4 < med < 2.5, f"median JL ratio off: {med}"
    assert all(r > 0.01 for r in ratios), "a pair collapsed to zero"


# ---- product quantization (PQ) ANN ----


def test_pq_encode_codes_in_range_and_deterministic(spark):
    emb = tables.load(spark, SF_DIR_SMALL, "embeddings")
    books = SIM.pq_codebooks(emb)
    assert len(books) == SIM.PQ_M
    assert books[0].shape == (SIM.PQ_K, 64 // SIM.PQ_M)
    codes = SIM.pq_encode(emb, books)
    rows = codes.collect()
    for r in rows:
        for mi in range(SIM.PQ_M):
            assert 0 <= r[f"code{mi}"] < SIM.PQ_K
    # seeded fit + integer-micro encode ⇒ bit-identical on re-run
    again = {r.vec_id: tuple(r[f"code{m}"] for m in range(SIM.PQ_M))
             for r in SIM.pq_encode(emb, SIM.pq_codebooks(emb)).collect()}
    first = {r.vec_id: tuple(r[f"code{m}"] for m in range(SIM.PQ_M)) for r in rows}
    assert first == again


def test_pq_identical_vectors_share_codes(spark):
    emb = tables.load(spark, SF_DIR_SMALL, "embeddings")
    # total order before limit so the cloned ids are deterministic, and
    # iterate over the ids actually cloned — a guarded loop over assumed
    # ids 0-2 could skip every assertion and pass vacuously
    base = emb.orderBy("vec_id").limit(3)
    clone_ids = [r.vec_id for r in base.select("vec_id").collect()]
    clones = base.withColumn("vec_id", F.col("vec_id") + 1_000_000)
    planted = emb.unionByName(clones)
    books = SIM.pq_codebooks(emb)  # codebooks from the base corpus
    codes = {r.vec_id: tuple(r[f"code{m}"] for m in range(SIM.PQ_M))
             for r in SIM.pq_encode(planted, books).collect()}
    assert len(clone_ids) == 3
    for vid in clone_ids:
        assert codes[vid] == codes[vid + 1_000_000]


def test_pq_shortlist_recall_monotone_to_exact(spark):
    """Widening the ADC shortlist can only help; at shortlist = corpus
    size the re-rank IS the exact scan, so recall must reach 1.0."""
    emb = tables.load(spark, SF_DIR_SMALL, "embeddings")
    n = emb.count()
    query = emb.filter(F.col("vec_id") == 0).select("embedding")
    exact = {r.vec_id for r in SIM.topk_cosine(emb, query, k=10).collect()}
    recalls = []
    for shortlist in (20, 100, n):
        got = {r.vec_id for r in SIM.pq_adc_topk(emb, 0, k=10, shortlist=shortlist).collect()}
        recalls.append(len(got & exact) / 10)
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[-1] == 1.0


# ---- cross-document duplicate spans ----


def test_duplicate_spans_finds_planted_shared_passage(spark):
    boiler = "the quick brown fox jumps over the lazy dog tonight"
    rows = [
        (1, "alpha beta gamma " + boiler + " delta epsilon"),
        (2, boiler + " zeta eta theta iota kappa"),
        (3, "completely different words without any shared passage here"),
        (4, "too short"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in DD.duplicate_spans(docs).collect()}
    # docs 1 and 2 share the 10-token passage → both flagged; 3 and 4 not
    assert set(got) == {1, 2}
    # a shared w-token run of length L yields L-w+1 shared windows
    L, w = len(boiler.split()), DD.SPAN_W
    for d in (1, 2):
        assert got[d].n_dup_windows == L - w + 1
        assert 0 < got[d].dup_fraction < 1


@pytest.mark.slow
def test_knn_join_arrow_bit_equal_to_oracle_on_planted_grid(spark, oracle):
    """The Arrow/BLAS election must be BIT-EQUAL to the DuckDB oracle
    (_knn_join_sql) — same L2R double summation, same HALF_UP 6-dp
    rounding, same (cos desc, id asc) tie rule — across planted
    twin/clone structure (twins: cosine exactly 1.0, the tie case) and
    coarse-to-fine bucketings (coarse = big buckets exercise the
    in-kernel query blocking; fine = alone-in-bucket emits nothing)."""
    from pyspark.sql import functions as F

    from sql_cdc_spark.queries.similarity_q import _knn_join_sql, knn_join_arrow

    emb = tables.load(spark, SF_DIR_SMALL, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = (
        "(SELECT vec_id, embedding::DOUBLE[] AS embedding "
        f"FROM '{SF_DIR_SMALL}/embeddings.parquet')"
    )
    for f in (1.0, 1.01):
        planted = emb.filter(F.col("vec_id") % 3 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                F.col("embedding"), lambda x: x * F.lit(f)
            ).alias("embedding"),
        )
        big = emb.unionByName(planted)
        rel = (
            f"(SELECT * FROM {base} b UNION ALL "
            "SELECT vec_id + 1000000 AS vec_id, "
            f"list_transform(embedding, x -> x * {f}) AS embedding "
            f"FROM {base} src WHERE vec_id % 3 = 0)"
        )
        for bits in (4, 8, 10):
            a = sorted(map(tuple, knn_join_arrow(big, n_bits=bits).collect()))
            b = sorted(oracle.execute(_knn_join_sql(bits, emb_rel=rel)).fetchall())
            assert a == b, f"arrow != oracle at f={f} bits={bits}"
            assert a, "degenerate: no pairs elected"


def test_winnow_guarantee_on_planted_overlap(spark):
    """The winnowing guarantee (Schleimer et al. 2003): two documents
    sharing a run of ≥ K+W−1 words MUST share at least one selected
    fingerprint; a doc with no shared passage shares none; sub-width
    docs yield zero fingerprints (the sequence/blank guards)."""
    from sql_cdc_spark.functions import text as TX

    k, w = TX.WINNOW_K, TX.WINNOW_W
    boiler = " ".join(f"tok{i}" for i in range(k + w - 1))  # minimal run
    rows = [
        (1, "alpha beta gamma delta " + boiler + " epsilon zeta"),
        (2, boiler + " eta theta iota kappa lam mu nu xi"),
        (3, "completely different words without any shared passage here"),
        (4, "too short"),
        (5, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {d: set() for d, _ in [(r[0], r) for r in rows]}
    for r in TX.winnow_fingerprints(docs).collect():
        fps[r.doc_id].add(r.fp)
    assert fps[1] & fps[2], "shared >= K+W-1 run must share a fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])
    assert fps[4] == set() and fps[5] == set()
    # selection really sub-samples: a doc with m grams keeps < m hashes
    n_grams = len(rows[0][1].split()) - k + 1
    assert 0 < len(fps[1]) < n_grams


def test_duplicate_spans_ignores_intra_doc_repeats(spark):
    """A phrase repeated within ONE doc is not a cross-doc duplicate:
    windows are deduped per doc before the ≥2-docs test."""
    rows = [
        (1, "one two three four five six one two three four five six"),
        (2, "totally unrelated content in this other document entirely"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert DD.duplicate_spans(docs).count() == 0


# ---- count-min sketch ----


def test_cms_never_underestimates_and_merge_equals_batch(spark):
    from sql_cdc_spark.functions import sketches as SK

    ev = tables.load(spark, SF_DIR_SMALL, "events")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    cells = SK.cms_cells(ev, [], "user_id")
    est = SK.cms_point_estimates(cells, exact.select("user_id"), "user_id")
    joined = exact.join(est, "user_id").collect()
    assert joined, "no users probed"
    for r in joined:  # the HARD one-sided guarantee, for EVERY key
        assert r.cms_estimate >= r.exact_cnt, (r.user_id, r.cms_estimate, r.exact_cnt)
    # merging per-half sketches == sketching the whole batch, cell-exact
    h1 = SK.cms_cells(ev.filter(F.col("event_id") % 2 == 0), [], "user_id")
    h2 = SK.cms_cells(ev.filter(F.col("event_id") % 2 == 1), [], "user_id")
    merged = SK.cms_merge(h1, h2, group_cols=[])
    a = {(r.row, r.col): r.cnt for r in merged.collect()}
    b = {(r.row, r.col): r.cnt for r in cells.collect()}
    assert a == b


def test_cms_unseen_item_estimate_is_collision_only(spark):
    from sql_cdc_spark.functions import sketches as SK

    ev = tables.load(spark, SF_DIR_SMALL, "events")
    cells = SK.cms_cells(ev, [], "user_id")
    ghost = spark.createDataFrame([(10_000_000,)], "user_id long")
    est = SK.cms_point_estimates(cells, ghost, "user_id").collect()[0]
    n = ev.count()
    import math
    assert 0 <= est.cms_estimate <= math.ceil(math.e / SK.CMS_W * n) + 1


def test_cms_grouped_estimates_stay_one_sided_per_group(spark):
    """Grouped cell tables are the module's advertised mergeable state;
    the probe join must include the group columns or estimates min()
    across groups and undercut true counts (the self-review finding).
    Locks: per-group one-sided guarantee AND a constructed case where the
    old group-blind join would provably underestimate."""
    from sql_cdc_spark.functions import sketches as SK

    ev = tables.load(spark, SF_DIR_SMALL, "events").select(
        (F.col("event_id") % 3).alias("day"), "user_id"
    )
    cells = SK.cms_cells(ev, ["day"], "user_id")
    exact = ev.groupBy("day", "user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    est = SK.cms_point_estimates(
        cells, exact.select("day", "user_id"), "user_id", group_cols=["day"]
    )
    rows = exact.join(est, ["day", "user_id"]).collect()
    assert rows
    for r in rows:
        assert r.cms_estimate >= r.exact_cnt, (
            r.day, r.user_id, r.cms_estimate, r.exact_cnt,
        )
    # constructed skew: user 1 appears 50x on day 0, 1x on day 1 — the
    # day-0 estimate must be >= 50, which a group-blind min() (old
    # behavior: min(50, 1) = 1) cannot satisfy
    skew = spark.createDataFrame(
        [(0, 1)] * 50 + [(1, 1)], "day long, user_id long"
    )
    scells = SK.cms_cells(skew, ["day"], "user_id")
    sest = SK.cms_point_estimates(
        scells,
        spark.createDataFrame([(0, 1)], "day long, user_id long"),
        "user_id",
        group_cols=["day"],
    ).collect()[0]
    assert sest.cms_estimate >= 50


def test_containment_embedded_doc_scores_one_jaccard_low(spark):
    """A short doc verbatim-embedded in a much longer one must reach
    containment 1.0 while its Jaccard stays far below the near-dup
    threshold — the exact case the asymmetric measure exists for."""
    short = "the quick brown fox jumps over the lazy dog tonight"
    filler = " ".join(f"filler{i} lorem ipsum dolor sit amet {i}" for i in range(30))
    long_doc = filler + " " + short + " " + filler
    docs = spark.createDataFrame(
        [(1, short), (2, long_doc)], "doc_id long, text string"
    )
    sh = DD.doc_shingles(docs)
    got = DD.containment_pairs(sh, df_cap=100, threshold=0.5).collect()
    assert len(got) == 1
    row = got[0]
    assert (row.id_a, row.id_b) == (1, 2)
    assert row.containment == 1.0
    jac = DD.jaccard_pairs(sh, threshold=0.0).collect()[0].jaccard
    assert jac < 0.5  # symmetric Jaccard would have missed this pair


def test_containment_at_least_jaccard_and_bounded(spark, docs):
    """For every pair both measures emit, containment ∈ (0, 1] and
    containment ≥ Jaccard (n_inter/min ≥ n_inter/union always). The
    df_cap is set above every shingle's df so both measures run on the
    SAME (full) domain — the inequality only holds domain-for-domain."""
    sh = DD.doc_shingles(docs).persist()
    cont = DD.containment_pairs(sh, df_cap=10**9, threshold=0.01)
    jac = DD.jaccard_pairs(sh, threshold=0.01)
    joined = cont.join(jac, ["id_a", "id_b"]).collect()
    assert joined, "no overlapping pairs — fixture degenerated"
    for r in joined:
        assert 0.0 < r.containment <= 1.0
        assert r.containment >= r.jaccard - 1e-9
    sh.unpersist()


def test_containment_hot_shingle_cap_drops_boilerplate_only_pairs(spark):
    """Pairs whose ONLY shared shingles are corpus-hot must not become
    candidates (the skew guard), while rare-witness pairs survive."""
    boiler = "copyright acme corp all rights reserved worldwide"
    docs = spark.createDataFrame(
        [(i, f"unique{i} text body number {i} " + boiler) for i in range(10)]
        + [(100, "shared rare passage alpha beta gamma delta"),
           (101, "shared rare passage alpha beta gamma delta epsilon")],
        "doc_id long, text string",
    )
    got = DD.containment_pairs(DD.doc_shingles(docs), df_cap=5, threshold=0.5)
    pairs = {(r.id_a, r.id_b) for r in got.collect()}
    assert (100, 101) in pairs
    assert all(a >= 100 for a, _ in pairs), (
        "boilerplate-only pairs leaked through the hot-shingle cap"
    )


def test_chunk_spans_edges_and_coverage(spark):
    """Chunk grid edge cases: empty text → one zero-length chunk; text
    below one window → single short chunk; stride boundary (n = stride+1)
    → a 1-char tail chunk; and the spans always tile the text (first
    starts at 0, consecutive starts differ by the stride, last chunk
    ends exactly at the text end)."""
    from sql_cdc_spark.functions.text import chunk_spans

    docs = spark.createDataFrame(
        [
            (1, ""),
            (2, "abc"),
            (3, "x" * 150),
            (4, "y" * 151),
            (5, "z" * 500),
        ],
        "doc_id long, text string",
    )
    rows = chunk_spans(docs, 200, 150).orderBy("doc_id", "chunk_index").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    lens = {1: 0, 2: 3, 3: 150, 4: 151, 5: 500}
    assert [len(by_doc[d]) for d in sorted(lens)] == [1, 1, 1, 2, 4]
    for d, n in lens.items():
        spans = by_doc[d]
        assert spans[0].chunk_start == 0
        for i, s in enumerate(spans):
            assert s.chunk_index == i
            assert s.chunk_start == i * 150
            assert s.chunk_len == min(200, n - s.chunk_start)
        last = spans[-1]
        assert last.chunk_start + last.chunk_len == n
    # digest is of the true substring
    import hashlib

    assert by_doc[2][0].chunk_digest == hashlib.md5(b"abc").hexdigest()
    assert by_doc[4][1].chunk_digest == hashlib.md5(b"y").hexdigest()


def test_length_bucket_boundaries(spark, tmp_path):
    """Bucket ladder boundary behavior: exact powers stay in their own
    bucket, one past a rung promotes, and past the top rung truncates
    (pad 0, trunc > 0)."""
    import pandas as pd

    from sql_cdc_spark.queries.corpus_q import crp_length_buckets

    cases = {1: 16, 16: 16, 17: 32, 32: 32, 64: 64, 99: 128, 128: 128, 200: 128}
    docs = pd.DataFrame(
        {
            "doc_id": range(len(cases)),
            "text": [" ".join(["w"] * n) for n in cases],
            "lang": ["en"] * len(cases),
            "source": ["s"] * len(cases),
            "n_chars": [2 * n - 1 for n in cases],
        }
    )
    d = str(tmp_path / "docs")
    spark.createDataFrame(docs).write.parquet(d + "/documents.parquet")
    out = {r.bucket: r for r in crp_length_buckets(spark, d).collect()}
    assert set(out) == {16, 32, 64, 128}
    assert out[16].n_docs == 2 and out[16].pad_tokens == (16 - 1) + 0
    assert out[32].n_docs == 2 and out[32].pad_tokens == (32 - 17)
    assert out[128].n_docs == 3
    assert out[128].pad_tokens == (128 - 99) + 0 + 0
    assert out[128].trunc_tokens == 200 - 128


def test_hll_setops_inclusion_exclusion_bounds(spark):
    """Register-merge union + inclusion-exclusion intersection on
    synthetic sets with KNOWN overlap: disjoint sets estimate an
    intersection near zero, nested sets estimate a union near the outer
    set, and both land inside the propagated 3σ bounds."""
    from sql_cdc_spark.functions import sketches as SK

    n, shared = 3000, 1000
    rows = (
        [("a", f"u{i}") for i in range(n)]
        + [("b", f"u{i}") for i in range(n - shared, 2 * n - shared)]
        + [("c", f"v{i}") for i in range(n)]  # disjoint from a and b
    )
    df = spark.createDataFrame(rows, "grp string, uid string")
    regs = SK.hll_registers(df, ["grp"], "uid").persist()
    est = {
        r.grp: r.estimate
        for r in SK.hll_estimate(regs, ["grp"]).collect()
    }
    bound = SK.hll_error_bound()

    def union_est(g1, g2):
        pair = (
            regs.filter(F.col("grp").isin([g1, g2]))
            .groupBy("reg")
            .agg(F.max("rho").alias("rho"))
            .withColumn("grp", F.lit("u"))
        )
        return SK.hll_estimate(pair, ["grp"]).collect()[0].estimate

    # a∪b: 2n - shared = 5000; a∩b = shared = 1000
    eu = union_est("a", "b")
    assert abs(eu - (2 * n - shared)) <= bound * (2 * n - shared)
    ei = est["a"] + est["b"] - eu
    assert abs(ei - shared) <= bound * (2 * n + (2 * n - shared))
    # a∪c disjoint: union 2n, intersection ~0
    eu_ac = union_est("a", "c")
    assert abs(eu_ac - 2 * n) <= bound * 2 * n
    ei_ac = est["a"] + est["c"] - eu_ac
    assert abs(ei_ac) <= bound * (2 * n + 2 * n)
    regs.unpersist()


def test_chunk_spans_matches_python_reference_on_random_texts(spark):
    """Randomized differential check of the chunk grid against an
    independent pure-Python reference over adversarial texts (empty,
    whitespace runs, multibyte chars, lengths straddling the stride)."""
    import hashlib
    import random

    from sql_cdc_spark.functions.text import chunk_spans

    rng = random.Random(4242)
    alphabet = "ab α€💡 \t\n"
    texts = ["", " ", "x" * 149, "y" * 150, "z" * 151, "w" * 300]
    texts += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 400)))
        for _ in range(40)
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.chunk_index, r.chunk_start, r.chunk_len, r.chunk_digest)
        for r in chunk_spans(docs, 200, 150).collect()
    )

    def ref(i, t):
        n = len(t)
        for idx, start in enumerate(range(0, max(n, 1), 150)):
            frag = t[start : start + 200]
            yield (
                i, idx, start, min(200, n - start),
                hashlib.md5(frag.encode("utf-8")).hexdigest(),
            )

    want = sorted(x for i, t in enumerate(texts) for x in ref(i, t))
    assert got == want


def test_cms_inner_product_one_sided_and_bounded(spark):
    """AMS/CMS join-size estimation: estimate ≥ true join size always
    (collisions only add mass), ≤ true + (e/w)·N_A·N_B on fixed data —
    checked on a heavy-key overlap and on fully disjoint key sets."""
    import math

    from sql_cdc_spark.functions import sketches as SK

    a = spark.createDataFrame(
        [("k",)] * 100 + [(f"a{i}",) for i in range(50)], "key string"
    )
    b = spark.createDataFrame(
        [("k",)] * 200 + [(f"b{i}",) for i in range(50)], "key string"
    )
    est = SK.cms_inner_product(
        SK.cms_cells(a, [], "key"), SK.cms_cells(b, [], "key")
    ).collect()[0].join_size_est
    true = 100 * 200
    assert est >= true
    assert est <= true + math.ceil(math.e / SK.CMS_W * 150 * 250)

    xs = spark.createDataFrame([(f"x{i}",) for i in range(100)], "key string")
    ys = spark.createDataFrame([(f"y{i}",) for i in range(100)], "key string")
    est0 = SK.cms_inner_product(
        SK.cms_cells(xs, [], "key"), SK.cms_cells(ys, [], "key")
    ).collect()[0].join_size_est
    assert 0 <= est0 <= math.ceil(math.e / SK.CMS_W * 100 * 100)


def test_cms_inner_product_grouped_emits_zero_for_one_sided_groups(spark):
    """Grouped estimation contract (self-review r4): a group present in
    only ONE sketch — or whose sketches share no cells — must still get
    its 0-estimate row, not silently vanish from the result."""
    from sql_cdc_spark.functions import sketches as SK

    a = spark.createDataFrame(
        [("d1", "k"), ("d1", "k"), ("d2", "only_a")], "day string, key string"
    )
    b = spark.createDataFrame(
        [("d1", "k"), ("d3", "only_b")], "day string, key string"
    )
    est = {
        r.day: r.join_size_est
        for r in SK.cms_inner_product(
            SK.cms_cells(a, ["day"], "key"),
            SK.cms_cells(b, ["day"], "key"),
            group_cols=["day"],
        ).collect()
    }
    assert set(est) == {"d1", "d2", "d3"}
    assert est["d1"] >= 2          # true f_A(k)·f_B(k) = 2·1
    assert est["d2"] == 0 and est["d3"] == 0


def test_source_overlap_matches_oracle(spark, oracle):
    """Oracle-parity gate for dd_source_overlap ahead of its round-5
    driver-window entry — the driver comparison at sf0.01 (near side
    non-trivial; the exact side is zero on this corpus and is pinned by
    the planted fixture below)."""
    from sql_cdc_spark.queries.dedup_q import (
        _SOURCE_OVERLAP_SQL,
        dd_source_overlap,
    )
    from tests.conftest import SF_DIR, assert_matches_oracle

    df = dd_source_overlap(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _SOURCE_OVERLAP_SQL)
    assert df.filter(F.col("near_pairs") > 0).count() >= 1


def test_source_overlap_exact_pair_math(spark):
    """Planted geometry for the exact side: digest X held 3× by srcA and
    2× by srcB, digest Y held 2× by srcA -> within-source C(c,2) and
    cross-source c_a*c_b products, summed per source pair. The docs are
    long enough to pass nothing through the near-dup threshold except
    the planted exact copies themselves (same digest -> jaccard 1 pairs
    also counted on the near side)."""
    from sql_cdc_spark.queries.dedup_q import source_overlap_matrix

    tx = "alpha beta gamma delta epsilon zeta eta theta"
    ty = "one two three four five six seven eight nine"
    tz = "completely different unrelated text about weather patterns today"
    corpus = spark.createDataFrame(
        [
            (1, tx, "srcA"), (2, tx, "srcA"), (3, tx, "srcA"),
            (4, tx, "srcB"), (5, tx, "srcB"),
            (6, ty, "srcA"), (7, ty, "srcA"),
            (8, tz, "srcB"),
        ],
        "doc_id long, text string, source string",
    )
    got = {
        (r.src_a, r.src_b): (r.exact_pairs, r.near_pairs)
        for r in source_overlap_matrix(corpus).collect()
    }
    # exact: X gives C(3,2)=3 within A, C(2,2)=1 within B, 3*2=6 across;
    # Y adds C(2,2)=1 within A -> A-A 4, B-B 1, A-B 6.
    assert got[("srcA", "srcA")][0] == 4
    assert got[("srcB", "srcB")][0] == 1
    assert got[("srcA", "srcB")][0] == 6
    # identical texts are also jaccard-1 near-dups, so near >= exact here
    for k in (("srcA", "srcA"), ("srcB", "srcB"), ("srcA", "srcB")):
        assert got[k][1] == got[k][0]


def test_knn_join_matches_oracle(spark, oracle):
    """Oracle-parity gate for sim_knn_join_arrow — the driver comparison
    at sf0.01 (431 vectors share a bucket there, so the gate is far from
    vacuous)."""
    from sql_cdc_spark.queries.similarity_q import (
        _knn_join_sql,
        sim_knn_join_arrow,
    )
    from tests.conftest import SF_DIR, assert_matches_oracle

    df = sim_knn_join_arrow(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _knn_join_sql())
    assert df.count() >= 100


def test_knn_join_planted_twin_and_bucket_locality(spark):
    """Plant an exact copy of one vector under a new id: copies share the
    bucket by construction, so each must pick the other at cos_sim 1.0.
    And every reported neighbor really lives in its probe's bucket."""
    from sql_cdc_spark.functions.similarity import lsh_bucket
    from sql_cdc_spark.queries.similarity_q import DIM, LSH_BITS, knn_join_arrow

    emb = tables.load(spark, SF_DIR_SMALL, "embeddings").select(
        "vec_id", "embedding"
    )
    twin = emb.filter(F.col("vec_id") == 0).select(
        F.lit(90_000).cast("long").alias("vec_id"), "embedding"
    )
    planted = emb.unionByName(twin)
    got = {
        r.vec_id: (r.nn_id, r.cos_sim)
        for r in knn_join_arrow(planted).collect()
    }
    assert got[0] == (90_000, 1.0)
    assert got[90_000] == (0, 1.0)
    buckets = {
        r.vec_id: r.b
        for r in planted.select(
            "vec_id", lsh_bucket(F.col("embedding"), n_bits=LSH_BITS, dim=DIM).alias("b")
        ).collect()
    }
    for vid, (nn, _) in got.items():
        assert buckets[vid] == buckets[nn]


@pytest.mark.slow
def test_grouped_pairing_equals_self_join_randomized(spark):
    """The late-r4 pairing rewrites (grouped collect_list + in-row i<j
    comprehension) must emit exactly the self-join's pair set on random
    corpora with planted clones, across random caps — both for LSH
    candidates and for the containment base."""
    import random

    for seed in range(3):
        rng = random.Random(7000 + seed)
        vocab = [f"w{i}" for i in range(30)]
        rows = []
        for i in range(60):
            n = rng.randint(3, 12)
            rows.append((i, " ".join(rng.choice(vocab) for _ in range(n))))
        for j in range(10):  # clones force shared buckets/shingles
            rows.append((100 + j, rows[rng.randrange(60)][1]))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        sh = DD.doc_shingles(docs)
        sigs = DD.minhash_signatures(sh)

        cap = rng.choice([3, 5, 50])
        got = {
            (r.id_a, r.id_b)
            for r in DD.lsh_candidate_pairs(
                sigs, max_bucket_size=cap
            ).collect()
        }
        banded = DD.band_keys(sigs, "doc_id")
        big = (
            banded.groupBy("bkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > cap)
            .select("bkey")
        )
        b2 = banded.join(F.broadcast(big), ["bkey"], "left_anti")
        lft, rgt = b2.alias("l"), b2.alias("r")
        want = {
            (x.id_a, x.id_b)
            for x in lft.join(
                rgt,
                (F.col("l.bkey") == F.col("r.bkey"))
                & (F.col("l.doc_id") < F.col("r.doc_id")),
            )
            .select(
                F.col("l.doc_id").alias("id_a"),
                F.col("r.doc_id").alias("id_b"),
            )
            .distinct()
            .collect()
        }
        assert got == want, f"LSH pairing diverged at seed {seed}"

        df_cap = rng.choice([2, 5, 20])
        got_c = {
            (r.id_a, r.id_b, r.n_a, r.n_b, r.n_inter)
            for r in DD.containment_base(sh, "doc_id", df_cap).collect()
        }
        hashed = sh.select("doc_id", "sh64")
        hot = (
            hashed.groupBy("sh64")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > df_cap)
            .select("sh64")
        )
        rare = hashed.join(F.broadcast(hot), ["sh64"], "left_anti")
        ra = rare.select(F.col("doc_id").alias("id_a"), "sh64")
        rb = rare.select(F.col("doc_id").alias("id_b"), "sh64")
        inter = (
            ra.join(rb, ["sh64"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        sizes = rare.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        want_c = {
            (r.id_a, r.id_b, r.n_a, r.n_b, r.n_inter)
            for r in inter.join(
                sizes.select(
                    F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a")
                ),
                "id_a",
            )
            .join(
                sizes.select(
                    F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b")
                ),
                "id_b",
            )
            .select("id_a", "id_b", "n_a", "n_b", "n_inter")
            .collect()
        }
        assert got_c == want_c, f"containment base diverged at seed {seed}"

def test_winnow_pairs_planted_overlap_and_df_cap(spark):
    """txt_winnow_pairs (VERDICT r7 #7): two documents sharing a run of
    >= K+W-1 words MUST surface as a pair (the winnowing guarantee
    lifted to the pair report); a fingerprint planted in MORE than
    WINNOW_DF_CAP documents is boilerplate and must contribute NO
    pairs; a fully-embedded doc scores overlap_permille 1000 against
    its container."""
    from sql_cdc_spark.functions import text as TX
    from sql_cdc_spark.queries.text_q import winnow_pairs_report

    k, w = TX.WINNOW_K, TX.WINNOW_W
    run = " ".join(f"shared{i}" for i in range(k + w - 1))
    boiler = " ".join(f"boil{i}" for i in range(k + w - 1))
    rows = [
        (1, "alpha beta gamma delta " + run + " epsilon zeta omega psi"),
        (2, run + " eta theta iota kappa lam mu nu xi"),
        (3, "completely different words without any shared passage here"),
    ]
    # the boilerplate run lands in cap+2 extra docs (> df_cap = 3)
    cap = 3
    for i in range(cap + 2):
        rows.append(
            (
                100 + i,
                boiler + f" filler{i}a filler{i}b filler{i}c filler{i}d",
            )
        )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r
        for r in winnow_pairs_report(docs, df_cap=cap, topk=100).collect()
    }
    assert (1, 2) in got, "shared >= K+W-1 run must surface as a pair"
    assert all(a < 100 and b < 100 for a, b in got), (
        f"boilerplate fp (df > cap) leaked pairs: {sorted(got)}"
    )
    # full containment scores 1000: doc 2's text embedded inside doc 4
    docs2 = spark.createDataFrame(
        [(1, rows[1][1]), (2, "prefix words here " + rows[1][1] + " suffix words there")],
        "doc_id long, text string",
    )
    rep = {
        (r.doc_a, r.doc_b): r.overlap_permille
        for r in winnow_pairs_report(docs2, topk=10).collect()
    }
    assert rep.get((1, 2)) == 1000
