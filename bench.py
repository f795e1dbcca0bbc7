"""Per-round benchmark: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and print ONE JSON line:

    {"metric": "headline_total", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

Each query is materialized through the `noop` sink so the full plan
executes distributed (scan → shuffle → sink) with zero driver-side
collect cost — the same shape a cluster run would have. Queries cover
every engine domain: the flagship CDC document pipeline, scan-heavy
aggregation, the big header⨝line join, window functions, MinHash-LSH
near-dedup, similarity top-k, and text scoring.

Output budget (learned in r4): the driver records only the LAST 2000
characters of stdout and parses the JSON line out of that tail — r4's
line grew past it (extended + queued + stress blocks) and the round's
official record became an unparseable truncated string. So stdout gets
a SMALL line — headline queries plus per-group totals — and the full
detail (extended/round-5 per-query timings, CDC pipeline dict, 10×/100×
stress blocks, probes) is written to BENCH_DETAIL.json next to this
file, referenced from the stdout line by name.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "cdc_flagship_documents",  # union → latest-per-key → join → nested docs → top-k
    "cdc_net_changes_enriched",  # CDC scan + broadcast enrichment join
    "rel_pricing_summary",  # TPC-H Q1 shape: full lineitem scan + grouped agg
    "rel_header_line_view",  # 600k ⨝ 150k denormalization join
    "rel_customer_order_stats",  # join + agg + having
    "win_order_ranks",  # partitioned ranking window
    "dd_exact",  # hash dedup over documents
    "dd_near_dup_pairs",  # MinHash → LSH bands → Jaccard verify
    "sim_topk_cosine",  # brute-force cosine top-k over embeddings
    "txt_quality_score",  # scan-speed text heuristics
    "evt_tumbling_hourly",  # event-time tumbling window rollup
    "mm_decode_features",  # mapInPandas binary decode path (Arrow batches)
    "tpch_q5_local_supplier_volume",  # 6-way star join with dim broadcasts
]


# Round-3 additions, timed separately so headline_total stays comparable
# across rounds (same 13-query list since round 1)
EXTENDED = [
    "evt_asof_last_purchase",   # as-of temporal join
    "evt_funnel_conversion",    # ordered funnel
    "dd_dup_clusters",          # connected-components dedup
    "crp_corpus_clean",         # composite corpus clean
    "txt_pii_redact",           # regex PII scrub
    "sim_quantized_topk",       # int8-domain ANN
    "txt_doc_frequency",        # DF/IDF vocabulary top-k
    "tpch_q19_discounted_revenue",  # disjunctive-predicate star join
    "sim_centroid_assign",      # integer-exact nearest-centroid pass
    "crp_manifest",             # composed corpus-prep pipeline
    # round-4 additions
    "tpch_q1_pricing_summary",  # full 8-agg scan-bound report
    "tpch_q9_product_type_profit",  # 5-way profit join, fact⨝fact shuffle
    "tpch_q21_waiting_suppliers",   # decorrelated EXISTS chain, 1 fact scan
    "dd_incremental_near_dup",  # CDC-driven dedup maintenance
    "cdc_scd2_incremental",     # SCD2 merge (== full-recompute oracle)
    "crp_pps_sample",           # weighted systematic corpus sampler
    "scl_bloom_pruned_join",    # runtime Bloom semi-join reduction
    "dd_containment_pairs",     # asymmetric containment (rare-shingle blocked)
    "crp_chunk_documents",      # zero-shuffle context-window chunking
    "evt_sketch_setops",        # HLL register-merge set algebra
    "dd_incremental_containment",  # rarity-flip-exact containment upkeep
    "rel_dq_audit",             # star-schema expectation suite
    "sim_random_projection",    # JL 64→16 sketch, scan-local
]


# The later registrations, timed in per-domain groups keyed by the name
# prefix (dd, crp, sim, ...) so HEADLINE and EXTENDED stay comparable.
DOMAIN_GROUPED = [
    "dd_containment_sweep",     # shares the cached containment base
    "crp_fuzzy_contamination",  # near-dup eval-overlap evidence rows
    "rel_topn_other_rollup",    # top-N + OTHER report
    "evt_collapse_runs",        # gaps-and-islands run collapse
    "dd_source_overlap",        # source-pair duplication matrix
    "evt_rolling_actives",      # rolling distinct-active census
    "evt_props_topk",           # typed JSON property top-k
    "txt_quality_gate",         # multi-rule quality gate
    "crp_ngram_lm_score",       # trigram-LM perplexity proxy
    "crp_filter_funnel",        # stage-attrition census
    "crp_dsir_select",          # DSIR importance resampling
    "sim_semantic_dedup",       # SemDeDup bucket election
    "txt_bm25_search",      # integer-exact BM25 lexical search
    "txt_bpe_pair_census",  # BPE merge-candidate pair census
    "sim_hybrid_search",    # BM25+cosine RRF hybrid retrieval
    "scl_skew_census",      # join-key hotness percentiles
    "txt_tfidf_topterms",   # per-doc TF-IDF keyword extraction
    "txt_ngram_novelty",    # trigram decontamination census
    "dd_dedup_impact",      # per-source exact-dedup impact
    "scl_compaction_plan",  # small-file compaction binning
    "sim_mutual_knn",       # reciprocal nearest-neighbor edges
    "sim_kmeans_step",      # one exact Lloyd iteration
    "crp_domain_reweight",  # DoReMi-style mixture step
    "sim_ann_recall_eval",  # recall@k panel vs brute force
    "dd_lsh_recall_eval",   # banded LSH recall vs exact truth
    "rel_grouping_sets",    # explicit GROUPING SETS + gid
    "sim_pagerank_step",    # one integer PageRank iteration
    "txt_pmi_collocations",     # PMI collocation mining
    "txt_dup_passage_census",   # chunked exact-substr dup census
    "rel_fuzzy_match_block",    # blocked Levenshtein entity match
    "sim_power_iteration",      # one PCA power-iteration step
    "sim_pagerank_fixed3",       # 3-round PageRank unroll
    "sim_kmeans_fixed",          # 3-round Lloyd chain
    "sim_semdedup_sweep",        # SemDeDup threshold sweep
    "txt_winnow_fingerprints",   # MOSS winnowing census
    "crp_global_shuffle",        # seeded epoch-shuffle shard census
    "scl_range_partition_plan",  # range-boundary planner + balance
    "evt_out_of_order_census",   # lateness bands for watermark choice
    "sim_knn_join_arrow",        # bit-identical Arrow/BLAS knn election
    "txt_winnow_pairs",          # winnowing cross-doc overlap pairs
]

# Queries whose CONSTRUCTION executes the core algorithm (measured with
# a setJobGroup probe over every bench query, r9): the dup_clusters
# contraction loop, the localCheckpoint-eager maintenance-twin state
# builds, the SCD2 merge, and the Lloyd iterations all run while the
# DataFrame is being BUILT — at sf0.01 these builds took 1.4-13.8 s and
# 3-72 jobs — so the noop-only loop above times only their final
# checkpointed scan. (Queries whose builds run bounded metadata/seed
# collects — table loads, bloom builds, K-row seeds, ≤B−1 boundaries —
# are NOT listed: their main computation is inside the timed noop.)
# The eager_full block re-times these with construction INSIDE the
# timed region.
EAGER_BUILD_QUERIES = [
    "dd_dup_clusters",
    "crp_manifest",
    "dd_incremental_near_dup",
    "dd_incremental_containment",
    "cdc_scd2_incremental",
    "sim_kmeans_step",
    "sim_kmeans_fixed",
]


REFERENCE_INVOICES = 25_000  # the reference generator's own scale


def cdc_pipeline_throughput(spark, sf_dir: str) -> dict:
    """Like-for-like number vs BASELINE.md: invoices/sec through the full
    checkpointed pipeline (change scan → latest-per-key → enrich → nested
    doc assembly → one JSON file PER invoice → cursor advance) at the
    reference's own 25k-invoice scale (sqls/insert-invoices.sql:9-10,
    invoice-api/server.js:273)."""
    import shutil
    import tempfile
    import time as _t

    from pyspark.sql import functions as F

    from sql_cdc_spark import tables
    from sql_cdc_spark.streaming import changelog as cl
    from sql_cdc_spark.streaming import pipeline as pl
    from sql_cdc_spark.streaming.registry import SyncStateRegistry

    tmp = tempfile.mkdtemp(prefix="cdc_bench_")
    try:
        log_dir = os.path.join(tmp, "log")
        out_dir = os.path.join(tmp, "docs")
        orders = tables.load(spark, sf_dir, "orders")
        lines = tables.load(spark, sf_dir, "lineitem")
        n = min(REFERENCE_INVOICES, orders.count())
        (
            orders.orderBy("o_orderkey")
            .limit(n)
            .select(
                F.lit(cl.HEADER_TABLE).alias("table_name"),
                F.col("o_orderkey").alias("key_id"),
                # key+1 doubles as the version: versions only need to be
                # ordered and POSITIVE (the initial cursor is (0,0) and the
                # keyset filter is strict) — a global row_number window
                # would single-task the whole generator
                (F.col("o_orderkey") + 1).cast("long").alias("change_version"),
                F.lit("I").alias("op"),
                F.current_timestamp().alias("ts"),
            )
            .write.parquet(log_dir)
        )
        model = pl.InvoiceModel(
            header_key="o_orderkey",
            line_key_expr="l_orderkey * 8 + l_linenumber",
            line_parent_key="l_orderkey",
            header_cols=["o_custkey", "o_totalprice"],
            line_cols=["l_linenumber", "l_quantity", "l_extendedprice"],
            line_order_col="l_linenumber",
        )
        reg = SyncStateRegistry(os.path.join(tmp, "state"))
        t0 = _t.perf_counter()
        res = pl.pull_batch(
            spark, log_dir, "bench", reg, orders, lines, model, out_dir, limit=n
        )
        dt = _t.perf_counter() - t0

        # scale-mode sink: same DAG, one partitioned JSON write per batch
        changes = cl.read_changelog(spark, log_dir)
        changed = pl._changed_invoices(changes, lines, model)
        docs = pl._assemble(orders, lines, pl._latest_with_op(changed), model)
        t1 = _t.perf_counter()
        n_part = pl.write_documents_partitioned(
            docs, os.path.join(tmp, "docs_part"), batch_id=0
        )
        dt_part = _t.perf_counter() - t1
        return {
            "invoices": res.processed,
            "seconds": round(dt, 3),
            "invoices_per_second": round(res.processed / dt, 1),
            "partitioned_sink_invoices_per_second": round(n_part / dt_part, 1),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _tenx_corpus(docs):
    """10× in-memory documents corpus: each copy k gets a distinct
    character rotation (vowels, then consonants for k≥5) so the ten
    variants of a doc have genuinely different shingle sets and the pair
    space grows ~linearly, not quadratically-in-copies. Shared by the
    stress and incremental-scaling blocks so the two measured scenarios
    can never drift apart."""
    from pyspark.sql import functions as F

    tenx = None
    for k in range(10):
        t = F.col("text")
        vr = k % 5
        if vr:
            t = F.translate(t, "aeiou", "aeiou"[vr:] + "aeiou"[:vr])
        if k >= 5:
            t = F.translate(t, "nrst", "rstn")
        v = docs.select(
            (F.col("doc_id") + k * 10_000_000).alias("doc_id"), t.alias("text")
        )
        tenx = v if tenx is None else tenx.unionByName(v)
    return tenx


def _hundredx_corpus(docs):
    """100× in-memory documents corpus: the 10× rotation corpus crossed
    with a second, independent 10-way consonant rotation, so each of the
    100 variants of a doc has a distinct shingle set and the pair space
    stays ~linear in corpus size — the third point of the near-dup /
    containment scaling curve (1× → 10× → 100×). Only built when the
    SPARK_GRAFT_STRESS_100X block is enabled."""
    from pyspark.sql import functions as F

    tenx = _tenx_corpus(docs)
    out = None
    for k in range(10):
        t = F.col("text")
        if k:
            # rotate a disjoint consonant set so the second axis is
            # independent of the vowel/nrst rotations in _tenx_corpus
            t = F.translate(t, "bcdfg", "bcdfg"[k % 5:] + "bcdfg"[: k % 5])
            if k >= 5:
                t = F.translate(t, "hjklm", "jklmh")
        v = tenx.select(
            (F.col("doc_id") + k * 1_000_000_000).alias("doc_id"),
            t.alias("text"),
        )
        out = v if out is None else out.unionByName(v)
    return out


def stress_100x(spark, sf_dir: str) -> dict:
    """Opt-in (SPARK_GRAFT_STRESS_100X=1) 100× scale point for the two
    heaviest dedup paths — extends the measured scaling curve a decade
    past the per-round 10× blocks. Kept out of the default bench run so
    the driver's per-round budget stays flat; SURVEY records the
    measured numbers with their probes."""
    from time import perf_counter

    from sql_cdc_spark import tables
    from sql_cdc_spark.functions import dedup as DD

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    hx = _hundredx_corpus(docs)
    n_docs = hx.count()
    out = {"input_docs": n_docs}

    probe = _cpu_probe_ms()
    t0 = perf_counter()
    shingled = DD.doc_shingles(hx).persist()
    sigs = DD.minhash_signatures(shingled, with_sizes=True).persist()
    try:
        cands = DD.lsh_candidate_pairs(sigs.drop("n_sh"), max_bucket_size=50)
        pairs = DD.jaccard_pairs(
            shingled, cands, threshold=0.5, sizes=sigs.select("doc_id", "n_sh")
        )
        out["near_dup_pairs"] = pairs.count()
        dt = perf_counter() - t0
    finally:
        shingled.unpersist()
        sigs.unpersist()
    out["near_dup_seconds"] = round(dt, 3)
    out["near_dup_docs_per_second"] = round(n_docs / dt, 1)
    out["near_dup_probe_ms"] = probe
    out["near_dup_probe_wide_ms"] = _cpu_probe_wide_ms()

    probe = _cpu_probe_ms()
    t0 = perf_counter()
    out["containment_pairs"] = DD.containment_pairs(
        DD.doc_shingles(hx), df_cap=20, threshold=0.2
    ).count()
    dt = perf_counter() - t0
    out["containment_seconds"] = round(dt, 3)
    out["containment_docs_per_second"] = round(n_docs / dt, 1)
    out["containment_probe_ms"] = probe
    out["containment_probe_wide_ms"] = _cpu_probe_wide_ms()

    # lexical retrieval at 100×: the fourth point of the postings curve
    # (sf0.1 → 10× → here) pinning that BM25 cost tracks matched
    # postings, not corpus size — the 'corpus never shuffled whole'
    # claim a decade past the per-round block (VERDICT r5 #7)
    from sql_cdc_spark.queries.text_q import BM25_QUERY, bm25_search

    probe = _cpu_probe_ms()
    t0 = perf_counter()
    out["bm25_rows"] = bm25_search(hx, BM25_QUERY, k=10).count()
    dt = perf_counter() - t0
    out["bm25_seconds"] = round(dt, 3)
    out["bm25_docs_per_second"] = round(n_docs / dt, 1)
    out["bm25_probe_ms"] = probe
    out["bm25_probe_wide_ms"] = _cpu_probe_wide_ms()

    # incremental apply at 100×: the same 50-doc change batch applied to
    # a 100×-corpus near-dup state — the third decade of the
    # "apply cost is batch-proportional" curve (1×≈3.5 s, 10×≈1.4×,
    # this point pins that 100× corpus growth does NOT become 100×
    # apply cost; what scales is the state rewrite, which a cluster
    # pays as an incremental parquet/Delta write)
    from pyspark.sql import functions as F

    batch = docs.orderBy("doc_id").limit(50).select(
        (F.col("doc_id") + 77_000_000).alias("doc_id"), "text"
    )
    deletes = docs.orderBy("doc_id").limit(10).select("doc_id")
    state = DD.build_near_dup_state(hx, max_bucket_size=50)
    new_state = None
    try:
        probe = _cpu_probe_ms()
        t0 = perf_counter()
        new_state = DD.apply_near_dup_changes(
            state, batch, deletes, max_bucket_size=50
        )
        out["apply_100x_pairs"] = new_state.pairs.count()
        out["apply_100x_seconds"] = round(perf_counter() - t0, 3)
        out["apply_100x_probe_ms"] = probe
        out["apply_100x_probe_wide_ms"] = _cpu_probe_wide_ms()
    finally:
        if new_state is not None:
            new_state.release()
        state.release()

    # vectors side: the bucketed k-NN self-join and the SemDeDup election
    # at 100× vectors, bits scaled with the corpus (≈ log2(N / target
    # occupancy)) so per-bucket cost stays flat — the documented knob
    from sql_cdc_spark.queries.similarity_q import (
        bucket_vectors,
        elect_dropped_arrow,
        knn_join_arrow,
    )

    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    # persist the synthesized corpus: both elections read it, and
    # recomputing the 100-branch generation per read is generator cost,
    # not operator cost — a real corpus is a parquet scan
    hemb = _hundredx_embeddings(emb).persist()
    try:
        n_vecs = hemb.count()
        bits = 14
        out["n_vecs"] = n_vecs
        out["knn_bits"] = bits
        probe = _cpu_probe_ms()
        t0 = perf_counter()
        # count + checksum: the nn_id sum keeps the election from being
        # pruned under a bare count
        out["knn_arrow_matched_vecs"] = knn_join_arrow(
            hemb, n_bits=bits
        ).agg(
            F.count(F.lit(1)).alias("n"), F.sum("nn_id").alias("chk")
        ).first()["n"]
        dt = perf_counter() - t0
        out["knn_arrow_seconds"] = round(dt, 3)
        out["knn_arrow_vecs_per_second"] = round(n_vecs / dt, 1)
        out["knn_arrow_probe_ms"] = probe
        out["knn_arrow_probe_wide_ms"] = _cpu_probe_wide_ms()

        # the SemDeDup election sim_semantic_dedup runs, same corpus/bits
        probe = _cpu_probe_ms()
        t0 = perf_counter()
        out["semdedup_arrow_dropped"] = elect_dropped_arrow(
            bucket_vectors(hemb, n_bits=bits)
        ).count()
        dt = perf_counter() - t0
        out["semdedup_arrow_seconds"] = round(dt, 3)
        out["semdedup_arrow_vecs_per_second"] = round(n_vecs / dt, 1)
        out["semdedup_arrow_probe_ms"] = probe
        out["semdedup_arrow_probe_wide_ms"] = _cpu_probe_wide_ms()
    finally:
        hemb.unpersist()
    return out


def graph_100x(spark, sf_dir: str) -> dict:
    """Opt-in (SPARK_GRAFT_STRESS_100X=1) 100× scale point for the graph
    family (VERDICT r6 #3): build the knn edge set over the 200k-vector
    synthetic corpus at the 14-bit scaled bucketing, then run the FULL
    PageRank loop (operators/iterative.py::pagerank) to its integer
    fixpoint — pinning the per-round join+aggregate cost AND the
    localCheckpoint state-rewrite at the third decade, the way
    incremental-apply already is. Reports edge-build seconds, executed
    rounds, whole-loop and per-round seconds, with a probe per block."""
    from time import perf_counter

    from sql_cdc_spark import tables
    from sql_cdc_spark.operators.iterative import pagerank
    from sql_cdc_spark.queries.similarity_q import (
        knn_join_arrow,
        undirected_edges,
    )

    from sql_cdc_spark.functions.dedup import release_local_checkpoint

    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    hemb = _hundredx_embeddings(emb).persist()
    out, edges = {}, None
    try:
        out["n_vecs"] = hemb.count()
        out["edge_bits"] = 14
        out["edge_probe_ms"] = _cpu_probe_ms()
        out["edge_probe_wide_ms"] = _cpu_probe_wide_ms()
        t0 = perf_counter()
        # the Arrow election every graph consumer runs; measured
        # 14.3 s for 164,981 edges on this edge set (32-core host)
        edges = (
            undirected_edges(knn_join_arrow(hemb, n_bits=14))
            .select("id_a", "id_b")
            .localCheckpoint()  # eager: edge build fully materializes here
        )
        out["n_edges"] = edges.count()
        out["edge_build_seconds"] = round(perf_counter() - t0, 3)

        out["pagerank_probe_ms"] = _cpu_probe_ms()
        out["pagerank_probe_wide_ms"] = _cpu_probe_wide_ms()
        stats = {}
        t0 = perf_counter()
        ranks = pagerank(edges, max_iters=20, stats=stats)
        out["pagerank_nodes"] = ranks.count()
        dt = perf_counter() - t0
        out["pagerank_rounds"] = stats["rounds"]
        out["pagerank_last_delta"] = stats["last_delta"]
        # r8 finding: NOT a 2-cycle at this scale — the measured
        # 40-round delta sequence decays geometrically at ratio 0.85
        # (the damping factor); the budget exhaustion is slow
        # convergence, and the r7 "stable 2-cycle" diagnosis was wrong
        # (the identical last delta across runs is bit-determinism).
        # The stop exists and fires on graphs that genuinely cycle
        # (fixture-pinned in test_iterative.py)
        out["pagerank_two_cycle"] = stats["two_cycle"]
        out["pagerank_seconds"] = round(dt, 3)
        out["pagerank_seconds_per_round"] = round(dt / stats["rounds"], 3)
    finally:
        if edges is not None:
            release_local_checkpoint(edges)
        hemb.unpersist()
    return out


def _hundredx_embeddings(emb):
    """100× in-memory embeddings: the 10× perturbation corpus crossed
    with a second, independent coordinate-stride perturbation — 100
    genuinely distinct near-source vectors per base vector. Only built
    for the opt-in 100× stress block."""
    from pyspark.sql import functions as F

    tenx = _tenx_embeddings(emb)
    out = None
    for k in range(10):
        e = F.col("embedding").cast("array<double>")
        if k:
            e = F.transform(
                e,
                lambda x, i: F.when(
                    i % 7 == (k - 1), x * (1.0 - 0.02 * k)
                ).otherwise(x),
            )
        v = tenx.select(
            (F.col("vec_id") + k * 1_000_000_000).alias("vec_id"),
            e.alias("embedding"),
        )
        out = v if out is None else out.unionByName(v)
    return out


def _tenx_embeddings(emb):
    """10× in-memory embeddings: copy k perturbs every 10th coordinate
    (offset k−1) by a distinct factor, so the copies are genuinely
    different vectors while staying near their source — the population a
    semantic-dedup knn join actually faces."""
    from pyspark.sql import functions as F

    tenx = None
    for k in range(10):
        e = F.col("embedding").cast("array<double>")
        if k:
            e = F.transform(
                e,
                lambda x, i: F.when(
                    i % 10 == (k - 1), x * (1.0 + 0.03 * k)
                ).otherwise(x),
            )
        v = emb.select(
            (F.col("vec_id") + k * 10_000_000).alias("vec_id"),
            e.alias("embedding"),
        )
        tenx = v if tenx is None else tenx.unionByName(v)
    return tenx


def knn_10x_stress(spark, sf_dir: str) -> dict:
    """Measured 10× scale point for the bucketed k-NN self-join AND its
    scale knob: per-bucket pair cost is quadratic in bucket width, so at
    10× the vectors the SAME bit count pays the width penalty while
    +3 bits (~8× the buckets) restores per-vector cost — both measured,
    plus the coverage cost of finer buckets (vectors stranded alone in a
    bucket have no candidate mate)."""
    from time import perf_counter

    from sql_cdc_spark import tables
    from sql_cdc_spark.queries.similarity_q import LSH_BITS, knn_join_arrow

    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    from pyspark.sql import functions as F

    tenx = _tenx_embeddings(emb).persist()
    try:
        n = tenx.count()
        probe = _cpu_probe_ms()
        out = {"input_vecs": n, "probe_ms": probe}
        for label, bits in (("fixed", LSH_BITS), ("scaled", LSH_BITS + 3)):
            t0 = perf_counter()
            # count + nn_id checksum in ONE pass: summing nn_id keeps
            # the election from being pruned under a bare count
            r = knn_join_arrow(tenx, n_bits=bits).agg(
                F.count(F.lit(1)).alias("n"), F.sum("nn_id").alias("chk")
            ).first()
            dt = perf_counter() - t0
            out[f"{label}_bits"] = bits
            out[f"{label}_seconds"] = round(dt, 3)
            out[f"{label}_matched_vecs"] = r["n"]
            out[f"{label}_vecs_per_second"] = round(n / dt, 1)
    finally:
        tenx.unpersist()
    return out


def retrieval_10x_stress(spark, sf_dir: str) -> dict:
    """Measured 10× scale point for the lexical-retrieval family
    (VERDICT r5 #7): BM25 search over a 10× documents corpus — the
    'corpus never shuffled whole' claim as a number (the hits explode
    dies at the scan on the term IN-filter, so cost tracks matched
    postings) — plus the maintained search index at the same scale:
    full inverted-index build, one 50-doc/10-delete apply round (the
    batch-proportional claim), and a query answered FROM the index
    (|terms| postings slices + one census row, no corpus scan)."""
    from time import perf_counter

    from pyspark.sql import functions as F

    from sql_cdc_spark import tables
    from sql_cdc_spark.queries.text_q import BM25_QUERY, bm25_search
    from sql_cdc_spark.streaming.search_maintenance import (
        apply_search_changes,
        build_search_state,
        score_query,
    )

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    tenx = _tenx_corpus(docs).persist()
    state = state2 = None
    try:
        n = tenx.count()
        out = {"input_docs": n, "probe_ms": _cpu_probe_ms()}

        t0 = perf_counter()
        out["bm25_rows"] = bm25_search(tenx, BM25_QUERY, k=10).count()
        dt = perf_counter() - t0
        out["bm25_seconds"] = round(dt, 3)
        out["bm25_docs_per_second"] = round(n / dt, 1)

        t0 = perf_counter()
        state = build_search_state(tenx)
        out["index_postings"] = state.postings.count()
        out["index_build_seconds"] = round(perf_counter() - t0, 3)

        batch = docs.orderBy("doc_id").limit(50).select(
            (F.col("doc_id") + 77_000_000).alias("doc_id"), "text"
        )
        deletes = tenx.orderBy("doc_id").limit(10).select("doc_id")
        t0 = perf_counter()
        state2 = apply_search_changes(state, batch, deletes)
        out["apply_postings"] = state2.postings.count()
        out["apply_seconds"] = round(perf_counter() - t0, 3)

        t0 = perf_counter()
        out["query_rows"] = score_query(state2, BM25_QUERY, k=10).count()
        out["query_seconds"] = round(perf_counter() - t0, 3)
    finally:
        if state2 is not None:
            state2.release()
        if state is not None:
            state.release()
        tenx.unpersist()
    return out


def round6_10x_stress(spark, sf_dir: str) -> dict:
    """Measured 10× scale points for the round-6 families, one pass per
    call with a probe per sub-block (main() interleaves two calls and
    takes per-metric best-of, the same dirty-window discipline as the
    other 10× blocks):

    - passage census: 10× documents corpus (synthetic per-doc-id
      sources) through the SAME passage_census core the registered
      query calls — the linear explode + one-groupBy claim as a number;
    - fuzzy match: 10× part rows (per-copy name rotations) through the
      SAME fuzzy_match core — block population grows 10× so the
      in-block pair space grows ~100×; the early-exit distance keeps
      wall-clock sub-quadratic, and THIS is the documented quadratic
      hazard of equality blocking, measured rather than asserted;
    - power iteration: 3 rounds over 10× vectors — per-round cost is
      one scan + one 64-group aggregate, linear in the corpus.

    Every persist/measure/unpersist sub-block is try/finally (ADVICE
    r6): an exception mid-block must not leak the cached 10× frame into
    the second interleaved pass and contaminate the best-of timings."""
    from time import perf_counter

    from pyspark.sql import functions as F

    from sql_cdc_spark import tables
    from sql_cdc_spark.operators.iterative import power_iteration
    from sql_cdc_spark.queries.relational_q import fuzzy_match
    from sql_cdc_spark.queries.text_q import passage_census

    out = {}

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    tenx_docs = _tenx_corpus(docs).select(
        "doc_id",
        F.concat(F.lit("s"), F.pmod("doc_id", F.lit(20)).cast("string")).alias(
            "source"
        ),
        "text",
    ).persist()
    try:
        out["passage_input_docs"] = tenx_docs.count()
        out["passage_probe_ms"] = _cpu_probe_ms()
        t0 = perf_counter()
        # count + dup_ppm checksum in ONE pass (VERDICT r7 #4 audit): a
        # bare .count() over the per-source aggregate would let Catalyst
        # prune the census VALUE columns (the n_occ>1 fold and the ppm
        # division; the explode/join/group structure itself is not
        # prunable, so the r7 number was at most marginally flattered)
        out["passage_sources"] = passage_census(tenx_docs).agg(
            F.count(F.lit(1)).alias("n"), F.sum("dup_ppm").alias("chk")
        ).first()["n"]
        dt = perf_counter() - t0
        out["passage_seconds"] = round(dt, 3)
        out["passage_docs_per_second"] = round(
            out["passage_input_docs"] / dt, 1
        )
    finally:
        tenx_docs.unpersist()

    part = tables.load(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type"
    )
    tenx_part = None
    for k in range(10):
        nm = F.col("p_name")
        if k % 5:
            v = k % 5
            nm = F.translate(nm, "aeiou", "aeiou"[v:] + "aeiou"[:v])
        if k >= 5:
            nm = F.translate(nm, "nrst", "rstn")
        vdf = part.select(
            (F.col("p_partkey") + k * 10_000_000).alias("p_partkey"),
            nm.alias("p_name"),
            "p_brand",
            "p_type",
        )
        tenx_part = vdf if tenx_part is None else tenx_part.unionByName(vdf)
    tenx_part = tenx_part.persist()
    try:
        out["fuzzy_input_rows"] = tenx_part.count()
        out["fuzzy_probe_ms"] = _cpu_probe_ms()
        t0 = perf_counter()
        out["fuzzy_pairs"] = fuzzy_match(tenx_part).count()
        out["fuzzy_seconds"] = round(perf_counter() - t0, 3)
    finally:
        tenx_part.unpersist()

    emb = tables.load(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    tenx_emb = _tenx_embeddings(emb).persist()
    try:
        out["power_input_vecs"] = tenx_emb.count()
        out["power_probe_ms"] = _cpu_probe_ms()
        t0 = perf_counter()
        _, cosines = power_iteration(tenx_emb, n_iters=3)
        out["power_seconds_3_iters"] = round(perf_counter() - t0, 3)
        out["power_last_cosine"] = round(cosines[-1], 6)
    finally:
        tenx_emb.unpersist()
    return out


def dedup_10x_stress(spark, sf_dir: str) -> dict:
    """Measured 10× scale point for the near-dup path (VERDICT r3 #8):
    synthesize a 10×-row documents corpus IN MEMORY — each copy k gets a
    distinct character-rotation (vowels, then consonants for k≥5) so the
    ten variants of a doc have genuinely different shingle sets and the
    pair space grows ~linearly, not quadratically-in-copies — then run
    the full shingle → MinHash → LSH(cap) → Jaccard pipeline and report
    docs/sec. This is the hot-band cap's behavior under 10× bucket
    pressure as a NUMBER, not an argument."""
    from time import perf_counter

    from pyspark.sql import functions as F

    from sql_cdc_spark import tables
    from sql_cdc_spark.functions import dedup as DD

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    tenx = _tenx_corpus(docs)
    n_docs = tenx.count()
    probe = _cpu_probe_ms()
    t0 = perf_counter()
    shingled = DD.doc_shingles(tenx).persist()
    sigs = DD.minhash_signatures(shingled, with_sizes=True).persist()
    try:
        cands = DD.lsh_candidate_pairs(sigs.drop("n_sh"), max_bucket_size=50)
        pairs = DD.jaccard_pairs(
            shingled, cands, threshold=0.5, sizes=sigs.select("doc_id", "n_sh")
        )
        n_pairs = pairs.count()
        dt = perf_counter() - t0
    finally:
        shingled.unpersist()
        sigs.unpersist()
    return {
        "input_docs": n_docs,
        "near_dup_pairs": n_pairs,
        "seconds": round(dt, 3),
        "docs_per_second": round(n_docs / dt, 1),
        "probe_ms": probe,
    }


def containment_10x_stress(spark, sf_dir: str) -> dict:
    """Measured 10× scale point for the containment path — the heaviest
    single operator in the extended list (2.7 s at 1×): the full
    shingle → df census → rare-domain self-join → pair aggregation over
    the same synthesized 10× corpus the near-dup stress uses. The
    rare-shingle blocking claim is that cost grows ~linearly in corpus
    size (clones push shared shingles over df_cap and OUT of the rare
    domain, so the pair fanout cannot go quadratic); a clean-window run
    measured 24.3 s ≈ 9× the 1× time for 10× the docs."""
    from time import perf_counter

    from sql_cdc_spark import tables
    from sql_cdc_spark.functions import dedup as DD

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    tenx = _tenx_corpus(docs)
    n_docs = tenx.count()
    probe = _cpu_probe_ms()
    t0 = perf_counter()
    pairs = DD.containment_pairs(
        DD.doc_shingles(tenx), df_cap=20, threshold=0.2
    )
    n_pairs = pairs.count()
    dt = perf_counter() - t0
    return {
        "input_docs": n_docs,
        "containment_pairs": n_pairs,
        "seconds": round(dt, 3),
        "docs_per_second": round(n_docs / dt, 1),
        "probe_ms": probe,
    }


def incremental_apply_scaling(spark, sf_dir: str) -> dict:
    """The incremental-maintenance claim as a measured number: applying
    the same 50-doc change batch to a 1× near-dup state vs a 10× state.
    COMPUTE is batch-proportional (re-shingle the batch, re-pair only
    affected buckets); what grows with the corpus is the state-table
    rewrite, which this local harness pays as a full localCheckpoint but
    a cluster pays as an incremental parquet/Delta write. The evidence
    is the ratio staying well under the 10× corpus ratio (≈2 measured);
    ≈10 would mean the apply path silently re-scans the corpus."""
    from time import perf_counter

    from pyspark.sql import functions as F

    from sql_cdc_spark import tables
    from sql_cdc_spark.functions import dedup as DD

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    tenx = _tenx_corpus(docs)
    # total order before limit (repo rule): the measured batch must be
    # the SAME 50/10 docs on every run and machine
    batch = docs.orderBy("doc_id").limit(50).select(
        (F.col("doc_id") + 77_000_000).alias("doc_id"), "text"
    )
    deletes = docs.orderBy("doc_id").limit(10).select("doc_id")
    out = {}
    for tag, corpus in (("1x", docs), ("10x", tenx)):
        state = DD.build_near_dup_state(corpus, max_bucket_size=50)
        # best-of-2 applies with a probe per pass: one apply landing in a
        # host-contention window otherwise records a bogus ratio (an r4
        # single-pass run measured apply_1x 19 s vs apply_10x 7.6 s —
        # ratio 0.4 — purely from a window hitting the 1x pass)
        best, probes = float("inf"), []
        for _ in range(2):
            probes.append(_cpu_probe_ms())
            t0 = perf_counter()
            new_state = DD.apply_near_dup_changes(
                state, batch, deletes, max_bucket_size=50
            )
            n_pairs = new_state.pairs.count()
            best = min(best, perf_counter() - t0)
            new_state.release()
        out[f"apply_seconds_{tag}"] = round(best, 3)
        out[f"pairs_{tag}"] = n_pairs
        out[f"probe_ms_{tag}"] = probes
        state.release()
    out["ratio_10x_over_1x"] = round(
        out["apply_seconds_10x"] / max(out["apply_seconds_1x"], 1e-9), 2
    )
    return out


def winnow_10x_stress(spark, sf_dir: str) -> dict:
    """Opt-in 10× scale point for the winnow-pairs family (VERDICT r8
    #6): the pair report over the 10× rotation corpus with BOTH hazard
    topologies planted — (a) cross-doc overlap: 1-in-50 source docs get
    a shadow doc sharing their first ~40 words verbatim inside
    otherwise-rotated text (must SURFACE as high-n_shared pairs), and
    (b) boilerplate flood: one in five docs carries the same 45-word
    footer, whose fingerprints land in ~10k docs — 160× past
    WINNOW_DF_CAP — and must be KILLED by the cap before the pair join
    (uncapped they alone would contribute ~10k²/2 ≈ 5·10⁷ rows per
    fingerprint). Reports docs/s plus the cap-kill census the cap
    discipline has so far only asserted."""
    from time import perf_counter

    from pyspark.sql import functions as F

    from sql_cdc_spark import tables
    from sql_cdc_spark.functions import text as TX
    from sql_cdc_spark.queries.text_q import WINNOW_DF_CAP, winnow_pairs_report

    docs = tables.load(spark, sf_dir, "documents").select("doc_id", "text")
    # 45 DISTINCT words: a repeated short phrase would collapse to ~9
    # distinct grams (period of the repetition) and understate the flood
    boiler = (
        "these terms of service govern every use of this site and by "
        "continuing you accept them in full including all limitations "
        "of liability warranty disclaimers governing law provisions "
        "arbitration clauses severability rules amendment procedures "
        "contact details licensing conditions trademark notices"
    )
    overlap = docs.filter(F.col("doc_id") % 50 == 0).select(
        (F.col("doc_id") + 200_000_000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 1200),
            F.lit(" "),
            F.translate(
                F.expr("substring(text, 1201)"), "aeiou", "eioua"
            ),
        ).alias("text"),
    )
    corpus = (
        _tenx_corpus(docs)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat("text", F.lit(" " + boiler)),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(overlap)
        .persist()
    )
    try:
        n = corpus.count()
        out = {
            "input_docs": n,
            "probe_ms": _cpu_probe_ms(),
            "probe_wide_ms": _cpu_probe_wide_ms(),
        }
        t0 = perf_counter()
        top = winnow_pairs_report(corpus).collect()
        dt = perf_counter() - t0
        out["seconds"] = round(dt, 3)
        out["docs_per_second"] = round(n / dt, 1)
        out["top_pairs"] = len(top)
        out["top_n_shared_sum"] = sum(r["n_shared"] for r in top)
        out["planted_pairs_in_top"] = sum(
            1 for r in top if r["doc_b"] - r["doc_a"] == 200_000_000
        )
        # planted-overlap census (untimed): every shadow pair must
        # SURFACE in the full pair table with the overlap mass its
        # ~200-word verbatim prefix guarantees (≥ 1 shared fp per
        # shared ≥ K+W−1-word run; ~1/W of its grams in expectation)
        planted = (
            winnow_pairs_report(corpus, topk=None)
            .filter(F.col("doc_b") - F.col("doc_a") == 200_000_000)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("n_shared").alias("min_sh"),
            )
            .first()
        )
        out["planted_pairs_found"] = planted["n"]
        out["planted_min_n_shared"] = planted["min_sh"]
        # cap-kill census (untimed): what the df-cap removed before the
        # pair join saw it — and the O(df²) pair fan-out that kill
        # avoided, the number the cap discipline exists for
        dfreq = (
            TX.winnow_fingerprints(corpus)
            .groupBy("fp")
            .agg(F.count(F.lit(1)).alias("nd"))
            .filter(F.col("nd") >= 2)
            .agg(
                F.count(F.lit(1)).alias("shared"),
                F.sum(
                    F.when(F.col("nd") > WINNOW_DF_CAP, 1).otherwise(0)
                ).alias("killed"),
                F.max("nd").alias("max_df"),
                F.sum(
                    F.when(
                        F.col("nd") > WINNOW_DF_CAP,
                        F.col("nd") * (F.col("nd") - 1) / 2,
                    ).otherwise(0.0)
                ).alias("pairs_avoided"),
            )
            .first()
        )
        out["shared_fps"] = dfreq["shared"]
        out["capped_fps"] = dfreq["killed"]
        out["max_fp_df"] = dfreq["max_df"]
        out["pair_rows_avoided_by_cap"] = int(dfreq["pairs_avoided"])
    finally:
        corpus.unpersist()
    return out


def cold_build_block(spark, sf_dir: str) -> dict:
    """Cold-vs-warm cost of every session-cached family base (VERDICT r9
    #2/#3): the headline/group loop constructs all DataFrames up front
    and takes best-of-3 interleaved passes, so cached-family numbers
    read the warm InMemoryRelation — the documented amortization claim,
    but not what a fresh session's FIRST action pays. This block resets
    the python-side cache registry AND executor storage, then times each
    cached key's first materialization (noop sink — build included) and
    the warm re-read of the same frame."""
    from time import perf_counter

    from sql_cdc_spark.queries import _cache
    from sql_cdc_spark.queries.dedup_q import (
        _shared_containment_base,
        _shingle_base,
    )
    from sql_cdc_spark.queries.similarity_q import knn_best
    from sql_cdc_spark.queries.text_q import _winnow_base

    app = spark.sparkContext.applicationId
    for k in [k for k in _cache._FRAMES if k[0] == app]:
        _cache._FRAMES.pop(k).unpersist()
    spark.catalog.clearCache()

    out = {"probe_ms": _cpu_probe_ms()}
    for key, build in (
        # materializing sigs materializes the shingled frame beneath it,
        # so this single number is the whole MinHash-family cold cost
        ("shingle_base", lambda: _shingle_base(spark, sf_dir)[1]),
        ("containment_base", lambda: _shared_containment_base(spark, sf_dir)),
        ("winnow_base", lambda: _winnow_base(spark, sf_dir)),
        ("knn_best", lambda: knn_best(spark, sf_dir)),
    ):
        df = build()
        t0 = perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[f"{key}_cold_s"] = round(perf_counter() - t0, 3)
        t0 = perf_counter()
        df.write.format("noop").mode("overwrite").save()
        out[f"{key}_warm_s"] = round(perf_counter() - t0, 3)
    out["probe_ms_after"] = _cpu_probe_ms()
    return out


def best_of(passes: list[dict], selectors: dict[str, list[str]]) -> dict:
    """Per-metric best-of across passes: each selector's keys come from
    the pass where that selector is smallest, because one pass can be
    clean for one sub-block and contended for another."""
    out = {}
    for selector, keys in selectors.items():
        best = min(passes, key=lambda r: r[selector])
        out.update({k: best[k] for k in keys})
    return out


def event_stream_latency(spark, sf_dir: str) -> dict:
    """Micro-batch latency point for the event-time family (VERDICT r9
    #8 — the one family whose e2es all run availableNow with no latency
    evidence): lay the events table out as N parquet files, run the
    watermarked tumbling rollup (streaming/windows.py::windowed_counts,
    the evt_tumbling_hourly twin) with maxFilesPerTrigger=1 so each file
    is one micro-batch, and report the engine's own per-batch
    triggerExecution durations (p50/p95, first batch separately — it
    pays stream initialization). No registry query changes; the sink is
    noop. ``valid`` is false when the drain did not finish in time."""
    import shutil
    import tempfile
    from time import perf_counter

    from sql_cdc_spark import tables
    from sql_cdc_spark.streaming import windows as W

    n_files = 20
    tmp = tempfile.mkdtemp(prefix="evt_latency_")
    try:
        src = os.path.join(tmp, "stream")
        ev = tables.load(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        ev.repartition(n_files).write.parquet(src)
        out = {"n_files": n_files, "probe_ms": _cpu_probe_ms()}
        t0 = perf_counter()
        q = (
            W.windowed_counts(W.read_event_stream(spark, src, 1))
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", os.path.join(tmp, "chk"))
            .trigger(availableNow=True)
            .start()
        )
        try:
            # a timed-out query is still running: stop it, and publish
            # no progress read from a live query
            out["valid"] = bool(q.awaitTermination(600))
            out["wall_seconds"] = round(perf_counter() - t0, 3)
            if not out["valid"]:
                return out
            progresses = [
                p if isinstance(p, dict) else json.loads(p.json)
                for p in (q.recentProgress or [])
            ]
        finally:
            q.stop()
        durs = [
            p["durationMs"]["triggerExecution"]
            for p in progresses
            if p.get("numInputRows", 0) > 0
        ]
        durs_ms = sorted(durs)
        out["n_batches"] = len(durs)
        if durs:
            out["first_batch_ms"] = durs[0]
            steady = sorted(durs[1:]) or durs_ms
            out["batch_p50_ms"] = steady[len(steady) // 2]
            out["batch_p95_ms"] = steady[
                min(len(steady) - 1, int(len(steady) * 0.95))
            ]
        return out
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def cluster_100x(spark) -> dict:
    """Opt-in 100× connected-components point (VERDICT r8 #5): the
    star-contraction clusterer over a pair table at the scale a
    500k-doc near-dup pass emits — 5,000 clone families of 100 docs in
    PATH topology (the near-dup shape: adjacent perturbation levels
    pair, distant ones don't) PLUS one planted 100,001-node chain, the
    worst-case diameter the old min-label propagation could not finish
    (O(diameter) rounds = 100k shuffles; star contraction is
    O(log diameter)). The pair table is synthesized with spark.range —
    the operator under test consumes pairs, so generator cost is kept
    out of the measurement by construction."""
    from time import perf_counter

    from pyspark.sql import functions as F

    from sql_cdc_spark.functions.dedup import dup_clusters

    fam_edges = (
        spark.range(5_000 * 100)
        .filter(F.col("id") % 100 != 99)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    chain = spark.range(10_000_000, 10_100_000).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    pairs = fam_edges.unionByName(chain)
    out = {
        "n_edges": 5_000 * 99 + 100_000,
        "probe_ms": _cpu_probe_ms(),
        "probe_wide_ms": _cpu_probe_wide_ms(),
    }
    stats: dict = {}
    t0 = perf_counter()
    labels = dup_clusters(pairs, max_iters=30, stats=stats)
    out["n_labeled"] = labels.count()
    out["n_clusters"] = labels.select("cluster_id").distinct().count()
    dt = perf_counter() - t0
    out["seconds"] = round(dt, 3)
    out["rounds"] = stats["rounds"]
    out["seconds_per_round"] = round(dt / stats["rounds"], 3)
    # correctness of the planted topology: 5,000 families + 1 chain,
    # every node labeled
    out["topology_ok"] = (
        out["n_clusters"] == 5_001 and out["n_labeled"] == 600_001
    )
    return out


# documented single-thread probe baseline on this box (~55-65 ms); an
# edge probe above 2× this marks the surrounding wall-clock contaminated
PROBE_BASELINE_MS = 60.0


def _cpu_probe_ms() -> float:
    """Wall time of a fixed single-thread integer loop — a
    steal-INDEPENDENT contention signal. This hypervisor (Firecracker)
    reports steal as ~0 even while host contention stretches identical
    workloads 2-4× (measured this round: the same 10× dedup pipeline at
    40 s, 39 s, then 17 s minutes apart with 0% steal throughout), so
    cpu_steal_pct alone cannot attribute a slow pass. The probe's
    baseline on this box is ~55-65 ms; a probe reading 2× that means the
    wall-clock numbers around it are contention-inflated, not a code
    regression."""
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i
    return round((time.perf_counter() - t0) * 1000, 1)


# documented WIDE-probe baseline on this box (median of 32 simultaneous
# loops, re-baselined r9): ~105-115 ms median / ~155-190 ms max in a
# quiet window — the ~1.6-1.9× over the single-thread baseline is the
# box's real full-width capacity cost (SMT sharing), not contention. A
# median above 2× this baseline marks the surrounding PARALLEL wall-
# clock contaminated even when the single-thread probe reads clean —
# the r8 blind spot (identical 32-wide code at 260 s vs 117 s, both
# single-probe-clean) this probe exists to close.
WIDE_PROBE_BASELINE_MS = 110.0

_WIDE_CHILD = (
    "import time,sys\n"
    "def loop():\n"
    "    t=time.perf_counter()\n"
    "    s=0\n"
    "    for i in range(1000000): s+=i*i\n"
    "    return (time.perf_counter()-t)*1000\n"
    "t0=float(sys.argv[1])\n"
    "time.sleep(max(0.0,t0-time.time()))\n"
    "print(loop())\n"
)


def _cpu_probe_wide_ms(n_procs: int = 32) -> list[float]:
    """[max_ms, median_ms] of 32 SIMULTANEOUS single-thread integer
    loops (one subprocess each, aligned on a shared start time) — the
    parallel-capacity signal the single-thread probe provably lacks
    (VERDICT r8 #3 / the r8 knn 260-vs-117 s finding): a host window
    can throttle 32-wide capacity while one thread runs full speed.
    Subprocesses, not threads — a pure-Python loop in 32 threads would
    serialize on the GIL and measure nothing. The child loop runs in a
    FUNCTION (locals): at module scope the same loop reads 2-2.5×
    slower from global-dict access, which would swamp the signal."""
    start = time.time() + 0.8
    procs = [
        subprocess.Popen(
            [sys.executable, "-S", "-c", _WIDE_CHILD, repr(start)],
            stdout=subprocess.PIPE,
            stderr=subprocess.DEVNULL,
            text=True,
        )
        for _ in range(n_procs)
    ]
    vals = []
    for p in procs:
        try:
            out, _ = p.communicate(timeout=60)
            vals.append(float(out.strip()))
        except (ValueError, subprocess.TimeoutExpired):
            p.kill()
    if not vals:
        return [-1.0, -1.0]
    vals.sort()
    return [round(vals[-1], 1), round(vals[len(vals) // 2], 1)]


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat — lets the bench report
    how much CPU the hypervisor withheld during the run. Round 2's 1.9×
    'regression' with zero code changes was exactly this: neighbor-VM
    contention, invisible without measuring it."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return vals[7] if len(vals) > 7 else 0, sum(vals)
    except OSError:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf") or "0.1")
    ticks0 = _cpu_ticks()
    probe0 = _cpu_probe_ms()
    probes_wide = [_cpu_probe_wide_ms()]

    from sql_cdc_spark.session import get_spark

    # progress bars / console chatter must never land on stdout: the
    # driver parses the JSON line out of a 2000-char stdout tail
    spark = get_spark(
        "bench", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    import __spark_entry__ as entrymod

    qs = entrymod.queries()

    # JVM/codegen warm-up so q1 doesn't pay session-start costs
    spark.range(1000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()

    # best of 3 INTERLEAVED passes per query: the first pass pays
    # codegen/scan-cache warm-up, and this box's neighbor-VM contention
    # comes in multi-second windows — consecutive repeats of one query
    # would all land inside one window, so each pass runs the whole list
    # before repeating, spreading every query's samples minutes apart
    all_names = HEADLINE + EXTENDED + DOMAIN_GROUPED
    dfs = {name: qs[name](spark, sf_dir) for name in all_names}
    timings: dict[str, float] = {name: float("inf") for name in all_names}
    # probe-gated retry (VERDICT r5 #4): r5's official recording opened
    # on a 149 ms probe and the re-run closed on 142.8 — one dirty edge
    # makes the whole headline an upper bound. If either edge probe of
    # an attempt reads > 2× the ~60 ms baseline, run ONE more 3-pass
    # attempt (min-accumulating, so a retry can only improve the
    # timings) and record every probe so a never-clean window is
    # visible as two dirty attempts rather than silence.
    probes = [probe0]
    for _attempt in range(2):
        for _ in range(3):
            for name in all_names:
                t0 = time.perf_counter()
                dfs[name].write.format("noop").mode("overwrite").save()
                timings[name] = min(timings[name], time.perf_counter() - t0)
        probes.append(_cpu_probe_ms())
        probes_wide.append(_cpu_probe_wide_ms())
        if probes[-2] <= 2 * PROBE_BASELINE_MS and probes[-1] <= 2 * PROBE_BASELINE_MS:
            break
    timings = {name: round(t, 3) for name, t in timings.items()}
    group_timings = {
        "extended": {name: timings.pop(name) for name in EXTENDED}
    }
    for name in DOMAIN_GROUPED:
        group = name.split("_", 1)[0]
        group_timings.setdefault(group, {})[name] = timings.pop(name)

    # Eager-construction queries (measurement-bug fix, OPTIMIZATION_r09):
    # these fns EXECUTE jobs while the DataFrame is being BUILT (the
    # dup_clusters contraction loop and the localCheckpoint-eager
    # maintenance-twin state builds), so the noop-only loop above times
    # just their final checkpointed scan. The original entries are kept
    # unchanged (cross-round comparable, and the warm read is itself the
    # documented amortization claim); this block ADDITIONALLY records the
    # full construction+action cost, DataFrame rebuilt inside the timed
    # region, best-of-2, detail-only (stdout stays under the 1900-char
    # driver budget).
    eager_full: dict[str, float] = {}
    eager_probe = [_cpu_probe_ms()]
    for _ in range(2):
        for name in EAGER_BUILD_QUERIES:
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = time.perf_counter() - t0
            eager_full[name] = min(eager_full.get(name, float("inf")), dt)
    eager_probe.append(_cpu_probe_ms())
    eager_full_block = {
        **{name: round(t, 3) for name, t in eager_full.items()},
        "probe_ms": eager_probe,
    }

    # pipeline throughput: best of 2 (same contention rationale; each run
    # writes 25k files so the pair is spread ~10s apart naturally)
    runs = [cdc_pipeline_throughput(spark, sf_dir) for _ in range(2)]
    cdc = max(runs, key=lambda r: r["invoices_per_second"])
    cdc["partitioned_sink_invoices_per_second"] = max(
        r["partitioned_sink_invoices_per_second"] for r in runs
    )

    # drop the timed queries' persisted residue (shared containment
    # base, near-dup shingle/sig caches) before the one-shot scale
    # blocks: pinned storage silently becomes execution spill in the
    # stress measurements (r5 measured containment-100x 647 s inside a
    # loaded session vs ~6-7 min standalone band)
    spark.catalog.clearCache()
    nd_passes, ct_passes, knn_passes, rt_passes = [], [], [], []
    r6_passes = []
    for _ in range(2):
        # one wide reading per block per pass: the stress stages are the
        # 32-wide work the single-thread probe cannot certify
        for passes, block in (
            (nd_passes, dedup_10x_stress),
            (ct_passes, containment_10x_stress),
            (knn_passes, knn_10x_stress),
            (rt_passes, retrieval_10x_stress),
            (r6_passes, round6_10x_stress),
        ):
            r = block(spark, sf_dir)
            r["probe_wide_ms"] = _cpu_probe_wide_ms()
            passes.append(r)
    # per-metric best-of for the round-6 block (same rationale as knn:
    # one pass can be clean for one sub-block and contended for another)
    r6_stress = {
        **best_of(r6_passes, {
            "passage_seconds": [
                "passage_input_docs", "passage_sources", "passage_seconds",
                "passage_docs_per_second",
            ],
            "fuzzy_seconds": [
                "fuzzy_input_rows", "fuzzy_pairs", "fuzzy_seconds",
            ],
            "power_seconds_3_iters": [
                "power_input_vecs", "power_seconds_3_iters",
                "power_last_cosine",
            ],
        }),
        "probe_ms": [
            [p["passage_probe_ms"], p["fuzzy_probe_ms"], p["power_probe_ms"]]
            for p in r6_passes
        ],
        "probe_wide_ms": [p["probe_wide_ms"] for p in r6_passes],
    }

    total = round(sum(timings.values()), 3)
    detail = {
        # per-query timings for every non-headline group; stdout carries
        # only the folded groups_total (VERDICT r6 #7 — the per-group
        # totals were growing the driver line toward its 1900-char cap)
        "group_queries": group_timings,
        "group_totals": {
            g: round(sum(t.values()), 3) for g, t in group_timings.items()
        },
        "cdc_pipeline": cdc,
        "eager_full": eager_full_block,
        # best-of-2 for the one-shot scale blocks: a single pass landing
        # in a host-contention window (probe 2×+ baseline) would record a
        # bogus 2-4× scale number; per-pass probes make each attributable.
        # INTERLEAVED best-of-2: back-to-back passes of one block can both
        # land inside a single multi-minute contention window (measured:
        # 51.9 s twice in one run vs 5.5 s clean); alternating the blocks
        # spreads each block's two samples minutes apart.
        "round6_10x": r6_stress,
        "dd_near_dup_pairs_10x": {
            **min(nd_passes, key=lambda r: r["seconds"]),
            "probe_wide_ms": [p["probe_wide_ms"] for p in nd_passes],
        },
        "dd_containment_pairs_10x": {
            **min(ct_passes, key=lambda r: r["seconds"]),
            "probe_wide_ms": [p["probe_wide_ms"] for p in ct_passes],
        },
        # per-metric best-of: one pass can be clean for the scaled run
        # and contended for the fixed run; selecting the whole dict by a
        # single key would publish the other metric's contaminated value
        "sim_knn_join_10x": {
            **best_of(knn_passes, {
                "fixed_seconds": [
                    "input_vecs", "fixed_bits", "fixed_seconds",
                    "fixed_matched_vecs", "fixed_vecs_per_second",
                ],
                "scaled_seconds": [
                    "scaled_bits", "scaled_seconds",
                    "scaled_matched_vecs", "scaled_vecs_per_second",
                ],
            }),
            "probe_ms": [p["probe_ms"] for p in knn_passes],
            "probe_wide_ms": [p["probe_wide_ms"] for p in knn_passes],
        },
        # retrieval family, per-metric best-of (same rationale as knn):
        # one pass can be clean for the search and contended for the
        # index build
        "retrieval_10x": {
            **best_of(rt_passes, {
                "bm25_seconds": [
                    "input_docs", "bm25_rows", "bm25_seconds",
                    "bm25_docs_per_second",
                ],
                "index_build_seconds": ["index_postings", "index_build_seconds"],
                "apply_seconds": ["apply_postings", "apply_seconds"],
                "query_seconds": ["query_rows", "query_seconds"],
            }),
            "probe_ms": [p["probe_ms"] for p in rt_passes],
            "probe_wide_ms": [p["probe_wide_ms"] for p in rt_passes],
        },
        "incremental_apply_scaling": incremental_apply_scaling(spark, sf_dir),
        # r10 additions (VERDICT r9 #3/#8), detail-only: cold-vs-warm
        # cost per session-cached family base, and the event-time
        # micro-batch latency point. cold_build runs LAST in this dict
        # so it measures after-reset cold builds without disturbing the
        # interleaved loops above (it resets the cache registry itself).
        "event_stream_latency": event_stream_latency(spark, sf_dir),
        "cold_build": cold_build_block(spark, sf_dir),
    }
    if os.environ.get("SPARK_GRAFT_STRESS_100X") == "1":
        spark.catalog.clearCache()
        detail["dedup_100x"] = stress_100x(spark, sf_dir)
        spark.catalog.clearCache()
        detail["graph_100x"] = graph_100x(spark, sf_dir)
        spark.catalog.clearCache()
        detail["cluster_100x"] = cluster_100x(spark)
        spark.catalog.clearCache()
        detail["winnow_10x"] = winnow_10x_stress(spark, sf_dir)

    # the driver-facing line: headline per-query + group TOTALS only,
    # kept well under the 2000-char stdout tail the driver records
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        # ONE folded total for all non-headline groups (extended + the
        # domain groups); the per-group breakdown lives in
        # BENCH_DETAIL group_totals/group_queries (VERDICT r6 #7)
        "groups_total": round(
            sum(sum(t.values()) for t in group_timings.values()), 3
        ),
        "cdc_invoices_per_second": cdc["invoices_per_second"],
        "cdc_partitioned_per_second": cdc[
            "partitioned_sink_invoices_per_second"
        ],
        "detail_file": "BENCH_DETAIL.json",
        # leading probe, one per headline attempt edge, then the
        # closing probe after the stress blocks
        "cpu_probe_ms": probes + [_cpu_probe_ms()],
    }
    ticks1 = _cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        out["cpu_steal_pct"] = round(
            100.0 * (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1]), 1
        )
    # wide probes stay off stdout (the 1900-char driver-line budget):
    # BENCH_DETAIL carries the full [max, median] series — leading edge,
    # one per headline attempt, then the closing edge after the stress
    # blocks (each stress block additionally records per-pass readings)
    probes_wide.append(_cpu_probe_wide_ms())
    detail["cpu_probe_wide_ms"] = probes_wide
    detail["cpu_probe_wide_contaminated"] = all(
        med > 2 * WIDE_PROBE_BASELINE_MS for _mx, med in probes_wide
    )
    detail.update(
        {k: out[k] for k in ("cpu_probe_ms",) if k in out}
    )
    detail["headline"] = dict(out)
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    line = json.dumps(out)
    # hard guard on the driver contract: the tail capture is 2000 chars
    assert len(line) < 1900, f"stdout line too long ({len(line)} chars)"
    print(line)


if __name__ == "__main__":
    main()
