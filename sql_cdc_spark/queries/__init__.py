"""Named query registry — the driver contract surface.

Each domain module exports ``QUERIES: dict[str, QueryEntry]`` where a
QueryEntry pairs the Spark callable ``(spark, sf_dir) -> DataFrame`` with
its DuckDB oracle SQL (or None for non-SQL-expressible ops, which the
driver checks rows-only).

Column-name discipline: the driver's comparator sorts columns by name
before hashing, so every computed column is aliased identically in the
Spark plan and the oracle SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class QueryEntry(NamedTuple):
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None


def _registry() -> dict[str, QueryEntry]:
    # imports deferred so `import sql_cdc_spark.queries` stays cheap and a
    # syntax error in one domain module is easy to localize
    from . import (
        cdc_q,
        corpus_q,
        dedup_q,
        events_q,
        functions_q,
        multimodal_q,
        relational_q,
        scale_q,
        similarity_q,
        text_q,
        tpch_q,
        windows_q,
    )

    reg: dict[str, QueryEntry] = {}
    for mod in (
        relational_q,
        functions_q,
        windows_q,
        tpch_q,
        events_q,
        cdc_q,
        dedup_q,
        similarity_q,
        text_q,
        multimodal_q,
        scale_q,
        corpus_q,
    ):
        overlap = reg.keys() & mod.QUERIES.keys()
        if overlap:
            raise ValueError(f"duplicate query names: {overlap}")
        reg.update(mod.QUERIES)
    # Registry ORDER is part of the driver contract: the driver
    # hash-checks the FIRST 50 entries only, top to bottom, so the window
    # below is explicit and order-significant. Every query added or
    # changed in a round must sit inside it; the rest stay covered by the
    # full-tier oracle suite. Membership and position are pinned by
    # tests/test_operator_guards.py::test_registry_window_holds_all_round10_queries.
    window = [
        "sim_ann_recall_eval",
        "dd_jaccard_pairs",
        "dd_source_overlap",
        "crp_fuzzy_contamination",
        "crp_dsir_select",
        "txt_winnow_pairs",
        "txt_winnow_fingerprints",
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
    assert len(window) == 50, f"window must fill all 50 slots: {len(window)}"
    missing = [n for n in window if n not in reg]
    assert not missing, f"window names absent from registry: {missing}"
    ordered = {n: reg[n] for n in window}
    for n, e in reg.items():
        if n not in ordered:
            ordered[n] = e
    return ordered


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: entry.fn for name, entry in _registry().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: entry.oracle
        for name, entry in _registry().items()
        if entry.oracle is not None
    }
