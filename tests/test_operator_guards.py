"""Contract guards on operators whose misuse silently corrupts results."""

import pytest
from pyspark.sql import functions as F

from sql_cdc_spark.operators.skew import salted_agg, salted_join


def test_salted_join_rejects_replication_breaking_how(spark):
    df = spark.range(10).select(F.col("id").alias("k"), F.lit(1).alias("v"))
    dim = spark.range(5).select(F.col("id").alias("k"), F.lit("d").alias("d"))
    for how in ("right", "full", "outer", "left_semi", "left_anti", "cross"):
        with pytest.raises(ValueError, match="salted_join supports"):
            salted_join(df, dim, "k", how=how)


def test_salted_join_matches_unsalted_inner_and_left(spark):
    fact = spark.range(100).select(
        (F.col("id") % 7).alias("k"), F.col("id").alias("v")
    )
    dim = spark.range(5).select(F.col("id").alias("k"), (F.col("id") * 10).alias("d"))
    for how in ("inner", "left"):
        got = salted_join(fact, dim, "k", n_salt=4, how=how)
        want = fact.join(dim, "k", how)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_registry_window_holds_all_round10_queries():
    """Driver contract: only the first 50 registry entries are
    hash-checked per round, so every query added or changed this round
    must sit inside that window — silently rotating one out would skip
    its verification the very round it changed. Per VERDICT r8 #7 the
    published list is pinned by POSITION, not just membership: a module
    reorder that silently swaps the window now fails here."""
    from sql_cdc_spark.queries import _registry

    window = list(_registry())[:50]
    published_round10 = [
        # changed this round (r10 optimization): ann-recall probe
        # kernel; family shingle-frame shares; winnow base share; dsir
        # census fusion (see queries/__init__.py rotation note)
        "sim_ann_recall_eval",
        "dd_jaccard_pairs",
        "dd_source_overlap",
        "crp_fuzzy_contamination",
        "crp_dsir_select",
        "txt_winnow_pairs",
        "txt_winnow_fingerprints",
        # rotation debt: the 13 remaining r5 greens (staleness 4)
        "rel_semi_join_big_spenders",
        "rel_top_revenue_orders",
        "rel_topn_other_rollup",
        "rel_union_all_segments",
        "scl_salted_pricing",
        "sim_bucketed_topk",
        "sim_lsh_buckets",
        "txt_quality_gate",
        "txt_token_stats",
        "win_lag_delta",
        "win_latest_n_per_user",
        "win_moving_avg",
        "win_running_total",
        # rotation debt: the r6 cohort (staleness 3), alphabetical
        "cdc_changes_scan",
        "cdc_flagship_documents",
        "cdc_net_changes_enriched",
        "cdc_replica_sync",
        "crp_domain_reweight",
        "crp_ngram_lm_score",
        "dd_dedup_impact",
        "dd_exact",
        "dd_minhash_signatures",
        "evt_late_data_filter",
        "evt_session_windows",
        "evt_sliding_windows",
        "evt_top_users_per_day",
        "evt_value_percentiles",
        "mm_decode_features",
        "mm_frame_sample",
        "mm_resize_digest",
        "rel_fuzzy_match_block",
        "rel_grouping_sets",
        "scl_compaction_plan",
        "scl_group_zscore",
        "scl_salted_join_segments",
        "scl_skew_census",
        "sim_centroid_assign",
        "sim_embedding_quantize",
        "sim_hybrid_search",
        "sim_ivf_topk",
        "sim_multiprobe_topk",
        "sim_power_iteration",
        "sim_topk_cosine",
    ]
    assert len(published_round10) == 50
    mismatches = [
        (i, got, want)
        for i, (got, want) in enumerate(zip(window, published_round10))
        if got != want
    ]
    assert not mismatches, (
        "driver window deviates from the published round-10 list "
        f"(slot, got, expected): {mismatches[:5]}"
    )


def test_refresh_aggregate_groups_matches_full_recompute(spark):
    """Incremental rollup maintenance == full re-aggregation through a
    CDC round containing an update, a delete (incl. a fully-emptied
    group), an insert into an existing group, and a brand-new group."""
    from sql_cdc_spark.operators.cdc import refresh_aggregate_groups

    rows = [  # (invoice, customer, total)
        (1, 10, 100.0), (2, 10, 50.0), (3, 20, 70.0), (4, 30, 10.0),
    ]
    base = spark.createDataFrame(rows, "inv long, cust long, total double")
    exprs = [
        F.count(F.lit(1)).alias("n_inv"),
        F.sum(F.round(F.col("total") * 100).cast("long")).alias("cents"),
    ]
    view = base.groupBy("cust").agg(*exprs)

    # CDC round: inv2 price update, inv4 deleted (empties cust 30),
    # inv5 inserted for existing cust 20, inv6 opens new cust 40
    new_rows = [
        (1, 10, 100.0), (2, 10, 75.0), (3, 20, 70.0),
        (5, 20, 5.0), (6, 40, 9.0),
    ]
    new_base = spark.createDataFrame(new_rows, "inv long, cust long, total double")
    changed_invoices = {2, 4, 5, 6}
    # affected groups: the changed invoices' customers in old ∪ new state
    affected = (
        base.filter(F.col("inv").isin(changed_invoices))
        .select("cust")
        .union(
            new_base.filter(F.col("inv").isin(changed_invoices)).select("cust")
        )
    )
    got = refresh_aggregate_groups(view, new_base, affected, ["cust"], exprs)
    want = new_base.groupBy("cust").agg(*exprs)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # cust 30's group is gone, cust 40's appeared
    custs = {r.cust for r in got.collect()}
    assert 30 not in custs and 40 in custs


def test_refresh_join_view_matches_full_recompute(spark):
    """Incremental join-view maintenance == full re-join through a CDC
    round containing a left-side update, a right-side update, a delete
    that removes the key from one side (row must vanish from the view),
    and an insert that creates a brand-new join row."""
    from sql_cdc_spark.operators.cdc import refresh_join_view

    hdr = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "k long, cust long"
    )
    agg = spark.createDataFrame(
        [(1, 2, 100), (2, 1, 50), (3, 3, 70), (4, 1, 10)],
        "k long, n long, cents long",
    )
    view = hdr.join(agg, "k")

    # CDC round: k=2 header update (cust 20→21), k=3 line-agg update,
    # k=4 lines all deleted (no agg row → view row vanishes), k=5 insert
    new_hdr = spark.createDataFrame(
        [(1, 10), (2, 21), (3, 30), (4, 40), (5, 50)], "k long, cust long"
    )
    new_agg = spark.createDataFrame(
        [(1, 2, 100), (2, 1, 50), (3, 4, 99), (5, 2, 7)],
        "k long, n long, cents long",
    )
    affected = spark.createDataFrame([(2,), (3,), (4,), (5,)], "k long")
    got = refresh_join_view(view, new_hdr, new_agg, affected, "k")
    want = new_hdr.join(new_agg, "k")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    ks = {r.k for r in got.collect()}
    assert 4 not in ks and 5 in ks


def test_histogram_bins_are_true_lower_edges_for_negatives(spark):
    """ADVICE r3: c - (c % B) made bin_lo the UPPER edge for negative
    cents. The floor-division form (c - pmod(c, B)) must yield the true
    lower edge on both engines for the same inputs."""
    import duckdb

    from sql_cdc_spark.queries.events_q import HIST_BIN_CENTS as B

    cents = [-5000, -2501, -2500, -1, 0, 1, 2499, 2500, 5001]
    want = [(c // B) * B for c in cents]  # python // is floor division
    df = spark.createDataFrame([(c,) for c in cents], "c long")
    got = [
        r.b
        for r in df.select(
            (F.col("c") - F.pmod(F.col("c"), F.lit(B))).alias("b")
        ).collect()
    ]
    assert got == want
    # the DuckDB oracle twin expression agrees bit-for-bit
    con = duckdb.connect()
    oracle = [
        con.execute(
            f"SELECT CAST({c} AS BIGINT) - ((CAST({c} AS BIGINT) % {B} + {B}) % {B})"
        ).fetchone()[0]
        for c in cents
    ]
    assert oracle == want


def _scd2_rows(spark, rows):
    return spark.createDataFrame(
        rows, "key string, change_version long, op string, payload long"
    )


def test_scd2_apply_matches_full_recompute(spark):
    """Incremental SCD2 merge == full history rebuild through every edge:
    a mid-timeline delete with re-insert, a key untouched by the batch,
    a key born in the batch, a key whose history ENDS in a delete (no
    open row to close), and a batch whose FIRST op for a key is a delete
    (closes the open row, opens nothing)."""
    from sql_cdc_spark.operators.cdc import scd2_apply, scd2_history

    feed = [
        ("A", 1, "U", 10), ("A", 3, "U", 11), ("A", 5, "D", 0), ("A", 7, "U", 12),
        ("B", 2, "U", 20),                      # untouched by the batch
        ("C", 6, "U", 30),                      # born in the batch
        ("D", 2, "U", 40), ("D", 4, "D", 0), ("D", 8, "U", 41),  # ends-in-D history
        ("E", 1, "U", 50), ("E", 6, "D", 0), ("E", 9, "U", 51),  # batch opens with D
    ]
    split = 5
    full = scd2_history(_scd2_rows(spark, feed), ["key"])
    hist = scd2_history(
        _scd2_rows(spark, [r for r in feed if r[1] <= split]), ["key"]
    )
    batch = _scd2_rows(spark, [r for r in feed if r[1] > split])
    merged = scd2_apply(hist, batch, ["key"])
    cols = ["key", "valid_from", "valid_to", "is_current", "payload"]
    got = sorted(tuple(r) for r in merged.select(*cols).collect())
    want = sorted(tuple(r) for r in full.select(*cols).collect())
    assert got == want
    # sanity on the semantics themselves, not just the identity:
    by_key = {}
    for k, vf, vt, cur, _ in want:
        by_key.setdefault(k, []).append((vf, vt, cur))
    assert by_key["A"] == [(1, 3, 0), (3, 5, 0), (7, None, 1)]  # gap at D@5
    assert by_key["D"] == [(2, 4, 0), (8, None, 1)]             # re-insert after D
    assert by_key["E"] == [(1, 6, 0), (9, None, 1)]             # batch D closes @6


def test_snapshot_diff_classification(spark):
    """I/U/D classification and the winner-unmoved drop rule, with a
    presence function keyed on the winning version's parity (odd = D)."""
    from sql_cdc_spark.operators.cdc import snapshot_diff

    feed = [
        ("ins", 6, ), ("ins", 8),              # absent@5 (no change), present@10 → I
        ("upd", 2), ("upd", 10),               # moved winner, present both → U
        ("del", 4), ("del", 7),                # present@5, odd winner @10 → D
        ("static", 4),                         # present both, winner unmoved → dropped
        ("ghost", 1), ("ghost", 9),            # odd@5 absent, odd@10 absent → dropped
        ("late", 11),                          # outside v_high → not in universe
    ]
    df = spark.createDataFrame(feed, "key string, change_version long")
    out = snapshot_diff(
        df, "key", 5, 10,
        lambda k, v: v % 2 == 0,
    )
    got = {r["key"]: (r["diff_op"], r["v_low_winner"], r["v_high_winner"])
           for r in out.collect()}
    assert got == {
        "ins": ("I", -1, 8),
        "upd": ("U", 2, 10),
        "del": ("D", 4, 7),
    }


def test_pps_sample_mass_proportional_and_partition_stable(spark):
    """The PPS draw's guarantees: (a) heavy rows are certainty
    inclusions, (b) the drawn count is within ±1 of the grid size, (c)
    the exact same rows are drawn regardless of input partitioning."""
    from sql_cdc_spark.functions.sampling import pps_systematic_sample

    n = 20
    # heavy-tailed corpus: rows heavier than the grid step are certainty
    # inclusions (drawn once — they absorb several grid points, so the
    # distinct-row count undershoots n; that's systematic PPS, not a bug)
    rows = [(i, 10 if i % 50 else 5000) for i in range(1, 401)]
    df = spark.createDataFrame(rows, "id long, w long")
    picked = pps_systematic_sample(df, "id", "w", n)
    ids = sorted(r["id"] for r in picked.collect())
    step = sum(w for _, w in rows) // n
    heavy = [i for i, w in rows if w > step]
    assert set(heavy) <= set(ids)
    # (c) repartitioning must not change the draw
    ids2 = sorted(
        r["id"]
        for r in pps_systematic_sample(df.repartition(13), "id", "w", n).collect()
    )
    assert ids == ids2
    # flat corpus (every w << step): the drawn count hits the grid size
    # exactly (±1 for edge alignment)
    flat = spark.createDataFrame(
        [(i, 10 + i % 7) for i in range(1, 401)], "id long, w long"
    )
    n_flat = len(pps_systematic_sample(flat, "id", "w", n).collect())
    assert abs(n_flat - n) <= 1


def test_bloom_probe_never_drops_members_and_prunes(spark):
    """Bloom semi-join reduction guarantees: zero false negatives (every
    dim key survives the probe), genuine pruning (most non-members die at
    the scan), and the pruned join equals the plain join exactly."""
    from sql_cdc_spark.functions import sketches as SK

    dim = spark.range(0, 5000, 7).select(F.col("id").alias("k"))
    fact = spark.range(100_000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("v")
    )
    bitmap = SK.bloom_bitmap(dim, "k")
    probe = SK.bloom_probe(F.col("k"), bitmap)
    passed = fact.filter(probe)
    n_members = fact.join(dim, "k", "left_semi").count()
    # no false negatives: every true member passes the probe
    assert passed.join(dim, "k", "left_semi").count() == n_members
    # genuine pruning: non-member pass-through (FP rate) stays tiny
    n_passed = passed.count()
    fp_rate = (n_passed - n_members) / (100_000 - n_members)
    assert fp_rate < 0.05, fp_rate
    # exactness: pruned join == plain join
    got = sorted(map(tuple, passed.join(dim, "k").collect()))
    want = sorted(map(tuple, fact.join(dim, "k").collect()))
    assert got == want


def test_expectations_one_pass_and_null_as_violation(spark):
    """functions/quality.expectations: every rule folded into one
    aggregate pass (single scan), null rule verdicts count as
    violations, and the gate form raises listing exactly the failed
    rules with counts."""
    import pytest as _pytest

    from sql_cdc_spark.functions import quality as Q

    df = spark.createDataFrame(
        [(1, 10.0, "A"), (2, -3.0, "B"), (3, None, "A"), (4, 7.0, None)],
        "id long, amount double, seg string",
    )
    rules = {
        "amount_positive": F.col("amount") > 0,       # row 2 fails, row 3 null
        "seg_known": F.col("seg").isin("A", "B"),     # row 4 null
        "id_present": F.col("id").isNotNull(),        # all pass
    }
    got = {r.rule: r.n_violations for r in Q.expectations(df, rules).collect()}
    assert got == {"amount_positive": 2, "seg_known": 1, "id_present": 0}

    # one pass: the plan contains exactly one Aggregate over the input
    plan = Q.expectations(df, rules)._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1, plan

    with _pytest.raises(ValueError, match="amount_positive"):
        Q.assert_expectations(df, rules)
    Q.assert_expectations(df, {"id_present": F.col("id").isNotNull()})
    with _pytest.raises(ValueError, match="alphanumeric"):
        Q.expectations(df, {"bad'name": F.col("id").isNotNull()})


# Every registry name that existed BEFORE round 7 — frozen so the
# in-round-registration invariant is STRUCTURAL, not transcriptional:
# any name in the live registry but not in this set was added this
# round and MUST sit inside the 50-slot driver window. The round-6
# review found the transcriptional guard's failure mode live
# (sim_pagerank_step landed in the registry but missed the window and
# the hand-maintained round6_new list until a later commit); this set
# makes that class of gap a test failure the moment the operator is
# registered. Next round: rename to the new round's frozen set by
# folding the round-7 names in.
REGISTRY_FROZEN_PRE_R9 = {
    # round-8 registrations (folded in at the r9 roll-over)
    "txt_winnow_pairs",
    # round-7 registrations (folded in at the r8 roll-over)
    "sim_pagerank_fixed3", "sim_kmeans_fixed", "sim_semdedup_sweep",
    "txt_winnow_fingerprints", "crp_global_shuffle",
    "scl_range_partition_plan", "evt_out_of_order_census",
    "sim_knn_join_arrow",
    # round-6 registrations (folded in at the r7 roll-over)
    "txt_bm25_search", "txt_bpe_pair_census", "sim_hybrid_search",
    "scl_skew_census", "txt_tfidf_topterms", "txt_ngram_novelty",
    "dd_dedup_impact", "scl_compaction_plan", "sim_mutual_knn",
    "sim_kmeans_step", "crp_domain_reweight", "sim_ann_recall_eval",
    "dd_lsh_recall_eval", "rel_grouping_sets", "sim_pagerank_step",
    "txt_pmi_collocations", "txt_dup_passage_census",
    "rel_fuzzy_match_block", "sim_power_iteration",
    "cdc_bounded_batch", "cdc_changes_scan",
    "cdc_flagship_changed_invoices", "cdc_flagship_documents",
    "cdc_incremental_join_view", "cdc_keyset_resume",
    "cdc_latest_event_per_user", "cdc_net_changes_enriched",
    "cdc_replica_as_of", "cdc_replica_sync", "cdc_scd2_history",
    "cdc_scd2_incremental", "cdc_scd2_temporal_join", "cdc_snapshot_diff",
    "cdc_union_distinct_keys", "cdc_version_watermark",
    "crp_chunk_documents", "crp_contamination", "crp_corpus_clean",
    "crp_dsir_select", "crp_filter_funnel", "crp_fuzzy_contamination",
    "crp_length_buckets", "crp_manifest", "crp_mixture_sample",
    "crp_ngram_lm_score", "crp_pack_sequences", "crp_pps_sample",
    "crp_repetition_filter", "crp_source_mixture", "crp_stratified_sample",
    "crp_train_test_split", "dd_cluster_canonical", "dd_containment_pairs",
    "dd_containment_sweep", "dd_dup_clusters", "dd_duplicate_spans",
    "dd_embedding_dup_pairs", "dd_exact", "dd_incremental_containment",
    "dd_incremental_near_dup", "dd_jaccard_pairs", "dd_lsh_candidate_pairs",
    "dd_minhash_signatures", "dd_near_dup_pairs", "dd_simhash",
    "dd_simhash_pairs", "dd_source_overlap", "evt_asof_last_purchase",
    "evt_collapse_runs", "evt_daily_user_activity", "evt_funnel_conversion",
    "evt_gap_fill_locf", "evt_heavy_hitters_cms", "evt_histogram",
    "evt_interval_join_buckets", "evt_join_size_estimate",
    "evt_late_data_filter", "evt_percentile_sketch", "evt_props_topk",
    "evt_rate_anomaly", "evt_retention_cohorts", "evt_rolling_actives",
    "evt_session_windows", "evt_sketch_setops", "evt_sliding_windows",
    "evt_top_users_per_day", "evt_tumbling_hourly", "evt_type_transitions",
    "evt_user_cardinality_sketch", "evt_value_percentiles",
    "fn_bson_roundtrip", "fn_date_arithmetic", "fn_hash_bucket",
    "fn_invoice_numbering", "fn_json_extract", "fn_string_ops",
    "fn_timestamp_format", "mm_audio_features", "mm_decode_features",
    "mm_frame_sample", "mm_media_catalog", "mm_resize_digest",
    "rel_above_avg_orders", "rel_anti_join_no_orders",
    "rel_cross_join_small", "rel_cube_status_flag",
    "rel_customer_order_stats", "rel_derived_columns", "rel_distinct_flags",
    "rel_dq_audit", "rel_except_lost_customers", "rel_filter_composite",
    "rel_header_line_view", "rel_intersect_buyers",
    "rel_invoice_view_rollup", "rel_multi_hop_dims", "rel_pivot_status",
    "rel_pricing_summary", "rel_rollup_lineitem", "rel_sample_avg",
    "rel_semi_join_big_spenders", "rel_top_revenue_orders",
    "rel_topn_other_rollup", "rel_union_all_segments",
    "rel_unpivot_measures", "scl_bloom_pruned_join", "scl_group_zscore",
    "scl_salted_join_segments", "scl_salted_pricing", "scl_zorder_key",
    "sim_bucketed_topk", "sim_centroid_assign", "sim_embedding_quantize",
    "sim_ivf_topk", "sim_label_centroids",
    "sim_lsh_buckets", "sim_multiprobe_topk", "sim_norm_stats",
    "sim_pq_topk", "sim_quantized_topk", "sim_random_projection",
    "sim_semantic_dedup", "sim_topk_cosine", "tpch_q10_returned_items",
    "tpch_q11_important_stock", "tpch_q12_priority_by_status",
    "tpch_q13_customer_distribution", "tpch_q14_promo_revenue",
    "tpch_q15_top_supplier", "tpch_q16_supplier_part_counts",
    "tpch_q17_small_quantity_revenue", "tpch_q18_large_orders",
    "tpch_q19_discounted_revenue", "tpch_q1_pricing_summary",
    "tpch_q20_excess_suppliers", "tpch_q21_waiting_suppliers",
    "tpch_q22_global_sales_opportunity", "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping_priority", "tpch_q4_late_order_priority",
    "tpch_q5_local_supplier_volume", "tpch_q6_forecast_revenue",
    "tpch_q7_nation_volume", "tpch_q8_market_share",
    "tpch_q9_product_type_profit", "txt_bigram_topk", "txt_bpe_tokens",
    "txt_doc_frequency", "txt_language_id", "txt_pii_redact",
    "txt_quality_gate", "txt_quality_score", "txt_rolling_fingerprint",
    "txt_token_stats", "win_lag_delta", "win_latest_n_per_user",
    "win_moving_avg", "win_ntile_quartiles", "win_order_ranks",
    "win_percent_rank", "win_running_total", "win_time_range_sum",
}


def test_every_new_registration_sits_in_the_driver_window():
    """STRUCTURAL in-round-check guard: any registry name not in the
    frozen pre-round set was registered this round and must be inside
    the 50-slot driver window — no hand-maintained list to forget."""
    from sql_cdc_spark.queries import _registry

    reg = list(_registry())
    window = set(reg[:50])
    new_this_round = [n for n in reg if n not in REGISTRY_FROZEN_PRE_R9]
    outside = [n for n in new_this_round if n not in window]
    assert not outside, (
        f"registered this round but driver-unchecked: {outside}"
    )
    # and the frozen set never references a name the registry dropped
    dropped = [n for n in REGISTRY_FROZEN_PRE_R9 if n not in reg]
    assert not dropped, f"frozen names no longer registered: {dropped}"


def test_no_two_registered_queries_share_an_oracle():
    """One elected implementation per query: two registry names on the
    same oracle text are two strategies for one answer, so the second
    belongs in a test, not the registry. The one exception is SCD2,
    whose incremental merge must equal the full history build by
    design."""
    from collections import defaultdict

    from sql_cdc_spark.queries import _registry

    by_oracle = defaultdict(list)
    for name, entry in _registry().items():
        if entry.oracle is not None:
            by_oracle[entry.oracle].append(name)
    shared = [
        sorted(names)
        for names in by_oracle.values()
        if len(names) > 1
        and set(names) != {"cdc_scd2_history", "cdc_scd2_incremental"}
    ]
    assert not shared, f"registry names sharing one oracle: {shared}"
