"""Golden-oracle gate: every registered query with an oracle must match
DuckDB at sf0.01 — the same comparison the driver runs (row count, column
names, order-insensitive normalized values)."""

import pytest

from sql_cdc_spark.queries import _registry
from tests.conftest import SF_DIR, assert_matches_oracle

REG = _registry()
ORACLE_CASES = sorted(name for name, e in REG.items() if e.oracle)
ROWS_ONLY_CASES = sorted(name for name, e in REG.items() if e.oracle is None)

# r10 tiering (VERDICT r9 #1): the driver core gate runs the CORE slice
# of the oracle sweep — every query CHANGED in the current round (the
# changed⇒checked invariant, gated fast and locally) plus one
# representative per domain family; the full 191-query parametrization
# stays in the slow tier (`-m "slow or not slow"`), which the builder
# runs before every round lands.
CORE_ORACLE = {
    # changed this round (r10): session-cache shares, the ann-recall
    # probe kernel, the dsir census fusion
    "sim_ann_recall_eval",
    "dd_lsh_recall_eval",
    "dd_jaccard_pairs",
    "dd_source_overlap",
    "crp_fuzzy_contamination",
    "crp_dsir_select",
    "txt_winnow_pairs",
    "txt_winnow_fingerprints",
    "dd_near_dup_pairs",
    # one representative per domain family (heaviest machinery first)
    "cdc_flagship_documents",
    "crp_manifest",
    "dd_containment_pairs",
    "evt_tumbling_hourly",
    "fn_hash_bucket",
    "mm_media_catalog",
    "rel_pricing_summary",
    "scl_range_partition_plan",
    "sim_topk_cosine",
    "tpch_q5_local_supplier_volume",
    "txt_quality_score",
    "win_order_ranks",
}


def _tiered(names):
    return [
        pytest.param(
            n, marks=[] if n in CORE_ORACLE else [pytest.mark.slow]
        )
        for n in names
    ]


def test_core_oracle_names_are_registered_oracles():
    """A renamed or de-oracled query must not silently drop out of the
    core tier."""
    assert CORE_ORACLE <= set(ORACLE_CASES), sorted(
        CORE_ORACLE - set(ORACLE_CASES)
    )


@pytest.mark.parametrize("name", _tiered(ORACLE_CASES))
def test_query_matches_oracle(spark, oracle, name):
    entry = REG[name]
    df = entry.fn(spark, SF_DIR)
    assert_matches_oracle(df, oracle, entry.oracle)


@pytest.mark.parametrize("name", ROWS_ONLY_CASES)
def test_rows_only_query_runs(spark, name):
    df = REG[name].fn(spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0


def test_topn_other_rollup_matches_oracle(spark, oracle):
    """Oracle-parity gate for rel_topn_other_rollup ahead of its round-5
    driver-window entry — the driver comparison at sf0.01, plus the
    report's defining invariant: per nation, the top rows and the OTHER
    row reconcile exactly to the nation's total revenue (integer cents)."""
    from sql_cdc_spark.queries.relational_q import (
        _TOPN_OTHER_SQL,
        TOPN_N,
        rel_topn_other_rollup,
    )

    df = rel_topn_other_rollup(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _TOPN_OTHER_SQL)

    rows = df.collect()
    by_nation = {}
    for r in rows:
        by_nation.setdefault(r.n_name, []).append(r)
    totals = {
        r.n_name: r.t
        for r in oracle.execute(
            """SELECT n.n_name,
                      SUM(CAST(ROUND(o.o_totalprice * 100, 0) AS BIGINT)) AS t
               FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
               JOIN nation n ON c.c_nationkey = n.n_nationkey
               GROUP BY 1"""
        ).fetchdf().itertuples(index=False, name="R")
    }
    assert set(by_nation) == set(totals)
    for nation, members in by_nation.items():
        assert sum(m.revenue_cents for m in members) == totals[nation]
        tops = [m for m in members if m.member != "OTHER"]
        assert 1 <= len(tops) <= TOPN_N
        assert sorted(m.rnk for m in tops) == list(range(1, len(tops) + 1))


def test_collapse_runs_matches_oracle(spark, oracle):
    """Oracle-parity gate for evt_collapse_runs ahead of its round-5
    driver-window entry, plus the islands invariants: runs tile each
    user's stream exactly (n_events sums to the user's event count) and
    adjacent runs never share an event_type."""
    from sql_cdc_spark.queries.events_q import (
        _COLLAPSE_RUNS_SQL,
        evt_collapse_runs,
    )

    df = evt_collapse_runs(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _COLLAPSE_RUNS_SQL)

    rows = df.collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r)
    totals = dict(
        oracle.execute(
            "SELECT user_id, COUNT(*) FROM events GROUP BY 1"
        ).fetchall()
    )
    assert set(per_user) == set(totals)
    for uid, runs in per_user.items():
        runs.sort(key=lambda r: r.run_seq)
        assert [r.run_seq for r in runs] == list(range(1, len(runs) + 1))
        assert sum(r.n_events for r in runs) == totals[uid]
        for a, b in zip(runs, runs[1:]):
            assert a.event_type != b.event_type
            assert a.end_us <= b.start_us


def test_rolling_actives_matches_oracle(spark, oracle):
    """Oracle-parity gate for evt_rolling_actives ahead of its round-5
    driver-window entry, plus the sliding-distinct invariants: WAU7
    dominates DAU everywhere, equals DAU on the first observed day, and
    never exceeds the true distinct-user count."""
    from sql_cdc_spark.queries.events_q import (
        _ROLLING_ACTIVES_SQL,
        evt_rolling_actives,
    )

    df = evt_rolling_actives(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _ROLLING_ACTIVES_SQL)

    rows = sorted(df.collect(), key=lambda r: r.day_start)
    assert rows, "rolling-actives report is vacuously empty"
    n_users = oracle.execute(
        "SELECT COUNT(DISTINCT user_id) FROM events"
    ).fetchone()[0]
    assert rows[0].wau7 == rows[0].dau
    for r in rows:
        assert r.dau <= r.wau7 <= n_users


def test_props_topk_matches_oracle(spark, oracle):
    """Oracle-parity gate for evt_props_topk ahead of its round-5
    driver-window entry, plus top-k shape invariants: every event_type
    present, ranks contiguous from 1, frequency non-increasing down the
    ranks (ties broken by ascending k)."""
    from sql_cdc_spark.queries.events_q import (
        _PROPS_TOPK_SQL,
        PROPS_TOPK,
        evt_props_topk,
    )

    df = evt_props_topk(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _PROPS_TOPK_SQL)

    by_type = {}
    for r in df.collect():
        by_type.setdefault(r.event_type, []).append(r)
    n_types = oracle.execute(
        "SELECT COUNT(DISTINCT event_type) FROM events"
    ).fetchone()[0]
    assert len(by_type) == n_types
    for rows in by_type.values():
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == list(range(1, len(rows) + 1))
        assert len(rows) <= PROPS_TOPK
        for a, b in zip(rows, rows[1:]):
            assert (a.n, -a.k) >= (b.n, -b.k)


def test_props_topk_predicate_drops_bigint_overflow(spark, oracle):
    """The shared pre-cast predicate must reject integer STRINGS that
    overflow BIGINT on both engines identically: Spark's non-ANSI
    cast('long') turns them into NULL (row silently kept) while
    DuckDB's CAST raises — the {1,18} length bound keeps the oversized
    payload from ever reaching either cast (ADVICE r4)."""
    import duckdb
    from pyspark.sql import functions as F

    overflow = "12345678901234567890123"  # 23 digits ≫ int64
    ok = "42"
    vals = [overflow, "-" + overflow, ok, "-7", "9" * 18, "9" * 19]
    pred = r"^-?[0-9]{1,18}$"
    df = spark.createDataFrame([(v,) for v in vals], ["raw_k"])
    kept_spark = sorted(
        r.raw_k
        for r in df.filter(F.col("raw_k").rlike(pred)).collect()
    )
    con = duckdb.connect()
    values = ", ".join(f"('{v}')" for v in vals)
    kept_duck = sorted(
        r[0]
        for r in con.execute(
            f"SELECT raw_k FROM (VALUES {values}) t(raw_k) "
            f"WHERE regexp_matches(raw_k, '^-?[0-9]{{1,18}}$')"
        ).fetchall()
    )
    assert kept_spark == kept_duck == sorted([ok, "-7", "9" * 18])
    # and the survivors cast cleanly on the DuckDB side (no raise)
    con.execute(
        f"SELECT CAST(raw_k AS BIGINT) FROM (VALUES {values}) t(raw_k) "
        f"WHERE regexp_matches(raw_k, '^-?[0-9]{{1,18}}$')"
    ).fetchall()


def test_bm25_search_matches_oracle(spark, oracle):
    """Oracle-parity gate for txt_bm25_search ahead of its round-6
    driver-window entry, plus ranking invariants: scores strictly
    ordered (desc, doc_id tiebreak), every score non-negative, the
    report non-vacuous (the idf floor exists so a frequent-term corpus
    cannot zero the whole ranking), and a doc matching the RARE term
    ('dup', df≈25 of 500) outranks rows that matched only common
    terms."""
    from sql_cdc_spark.queries.text_q import (
        BM25_TOPK,
        _bm25_sql,
        txt_bm25_search,
    )

    df = txt_bm25_search(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _bm25_sql())
    rows = df.collect()
    assert 0 < len(rows) <= BM25_TOPK
    assert all(r.score_milli >= 0 for r in rows)
    assert len({r.score_milli for r in rows}) > 1, "degenerate flat scores"
    for a, b in zip(rows, rows[1:]):
        assert (a.score_milli, -a.doc_id) >= (b.score_milli, -b.doc_id)
    # the rare term dominates: the top row must contain 'dup'
    top_text = (
        oracle.execute(
            f"SELECT lower(text) FROM documents WHERE doc_id = {rows[0].doc_id}"
        ).fetchone()[0]
    )
    assert "dup" in top_text.split()


def test_bpe_pair_census_matches_oracle(spark, oracle):
    """Oracle-parity gate for txt_bpe_pair_census (round-6 queue), plus
    shape invariants: counts non-increasing, (left, right) tiebreak
    total order, and every reported pair actually adjacent somewhere
    (spot-check the top pair via a string scan)."""
    from sql_cdc_spark.queries.text_q import (
        BPE_PAIR_TOPK,
        _BPE_PAIR_SQL,
        txt_bpe_pair_census,
    )

    df = txt_bpe_pair_census(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _BPE_PAIR_SQL)
    rows = df.collect()
    assert 0 < len(rows) <= BPE_PAIR_TOPK
    for a, b in zip(rows, rows[1:]):
        assert (a.n, (b.left, b.right)) >= (b.n, (a.left, a.right)) or a.n > b.n
    # adjacency check against the SAME tokenization the census uses —
    # a LIKE '%left right%' scan would miss intra-word adjacent pairs
    # (no space between a letter run and the punctuation run that
    # follows it) and would need wildcard escaping (ADVICE r5); bound
    # parameters sidestep quoting entirely
    from sql_cdc_spark.functions import text as TX

    top = rows[0]
    n_docs = oracle.execute(
        f"""
        SELECT COUNT(*) FROM (
          SELECT regexp_extract_all(lower(text), '{TX.BPE_RE}') AS t
          FROM documents
        )
        WHERE len(list_filter(range(1, len(t)),
                              i -> t[i] = ? AND t[i + 1] = ?)) > 0
        """,
        [top.left, top.right],
    ).fetchone()[0]
    assert n_docs > 0


def test_hybrid_search_matches_oracle(spark, oracle):
    """Oracle-parity gate for sim_hybrid_search (round-6 queue), plus
    fusion invariants: RRF totals strictly ordered with doc_id
    tiebreak, every rank within its branch depth, and BOTH branches
    actually contribute (some result carries two non-null ranks, and
    the two branches retrieve non-identical lists — otherwise the
    fusion is vacuous)."""
    from sql_cdc_spark.queries.similarity_q import (
        HYBRID_L,
        HYBRID_TOPK,
        _hybrid_sql,
        sim_hybrid_search,
    )

    df = sim_hybrid_search(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _hybrid_sql())
    rows = df.collect()
    assert 0 < len(rows) <= HYBRID_TOPK
    for a, b in zip(rows, rows[1:]):
        assert (a.rrf_micro, -a.doc_id) >= (b.rrf_micro, -b.doc_id)
    for r in rows:
        assert r.lex_rank is None or 1 <= r.lex_rank <= HYBRID_L
        assert r.dense_rank is None or 1 <= r.dense_rank <= HYBRID_L
        assert r.lex_rank is not None or r.dense_rank is not None
    assert any(
        r.lex_rank is not None and r.dense_rank is not None for r in rows
    ), "no doc retrieved by both branches — fusion vacuous"
    assert any(r.lex_rank != r.dense_rank for r in rows)


def test_skew_census_matches_oracle(spark, oracle):
    """Oracle-parity gate for scl_skew_census (round-6 queue), plus
    distribution invariants: p50 ≤ p90 ≤ p99 ≤ max per key,
    Σ per-key rows == n_rows (cross-checked against the raw table),
    and the census is non-degenerate (events is genuinely skewed:
    max_per_key > p50)."""
    from sql_cdc_spark.queries.scale_q import (
        SKEW_KEYS,
        _skew_census_sql,
        scl_skew_census,
    )

    df = scl_skew_census(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _skew_census_sql())
    rows = {r.rel: r for r in df.collect()}
    assert set(rows) == {f"{t}.{k}" for t, k in SKEW_KEYS}
    for rel, r in rows.items():
        assert 1 <= r.p50 <= r.p90 <= r.p99 <= r.max_per_key
        table = rel.split(".")[0]
        n = oracle.execute(f"SELECT COUNT(*) FROM {table}").fetchone()[0]
        assert r.n_rows == n
        assert 0 < r.top_share_ppm <= 1_000_000
    assert rows["events.user_id"].max_per_key > rows["events.user_id"].p50


def test_quality_gate_matches_oracle(spark, oracle):
    """Oracle-parity gate for txt_quality_gate ahead of its round-5
    driver-window entry. The median is independently recomputed with
    DuckDB's quantile_disc (discrete lower median — the same ceil(n/2)
    rank the histogram pass selects), and the gate must keep at least
    half of every language's documents."""
    from sql_cdc_spark.queries.text_q import (
        _QUALITY_EXPR_SQL,
        _QUALITY_GATE_SQL,
        txt_quality_gate,
    )

    df = txt_quality_gate(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _QUALITY_GATE_SQL)

    medians = dict(
        oracle.execute(
            f"""SELECT lang,
                       quantile_disc(CAST(ROUND({_QUALITY_EXPR_SQL} * 1e6, 0)
                                     AS BIGINT), 0.5)
                FROM documents GROUP BY 1"""
        ).fetchall()
    )
    rows = df.collect()
    assert {r.lang for r in rows} == set(medians)
    for r in rows:
        assert r.median_micro == medians[r.lang]
        assert 2 * r.n_kept >= r.n_docs
        assert r.n_kept <= r.n_docs


def test_quality_score_rounds_like_duckdb_at_decimal_ties(spark):
    """Texts whose unrounded score prints as an exact 7th-decimal tie
    (0.5123125, 0.5186875) while the binary double sits just below it.
    DuckDB's ROUND(x, 6) keeps the binary value and rounds down; a
    HALF_UP round of the decimal string would round up."""
    import duckdb
    from pyspark.sql import functions as F

    from sql_cdc_spark.functions import text as TX
    from sql_cdc_spark.queries.text_q import _QUALITY_EXPR_SQL

    texts = [
        # 48 tokens, 417 chars, one " the ": unrounded 0.5123125
        "the " + " ".join(["x" * 8] * 38 + ["x" * 7] * 9),
        # 16 tokens, 129 chars, two " the ": unrounded 0.5186875
        "the " + "x" * 8 + " the " + " ".join(["x" * 8] * 9 + ["x" * 7] * 4),
    ]
    rows = list(enumerate(texts))
    got = [
        r.quality
        for r in spark.createDataFrame(rows, "doc_id long, text string")
        .select("doc_id", TX.quality_score(F.col("text")).alias("quality"))
        .orderBy("doc_id")
        .collect()
    ]
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
        want = [
            q
            for (q,) in con.execute(
                f"SELECT {_QUALITY_EXPR_SQL} FROM documents ORDER BY doc_id"
            ).fetchall()
        ]
    finally:
        con.close()
    assert want == [0.512312, 0.518687]
    assert got == want


def test_ngram_lm_score_matches_oracle(spark, oracle):
    """Oracle-parity gate for crp_ngram_lm_score ahead of its round-5
    driver-window entry, plus the LM invariants: unseen ≤ total n-grams,
    novelty_pct is the exact integer ratio, and both score sides are
    non-vacuous on this corpus (some unseen, some seen)."""
    from sql_cdc_spark.queries.corpus_q import (
        _ngram_lm_sql,
        crp_ngram_lm_score,
    )

    df = crp_ngram_lm_score(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _ngram_lm_sql())

    rows = df.collect()
    assert rows, "LM report is vacuously empty"
    assert any(r.n_unseen > 0 for r in rows), (
        "no test doc has any novel n-gram — novelty side is vacuous"
    )
    assert any(r.lm_bits > 0 for r in rows)
    for r in rows:
        assert 0 <= r.n_unseen <= r.n_ngrams
        assert r.novelty_pct == 100 * r.n_unseen // r.n_ngrams
        assert r.lm_bits >= 0
        assert (r.n_unseen == r.n_ngrams) <= (r.lm_bits == 0)


def test_filter_funnel_matches_oracle(spark, oracle):
    """Oracle-parity gate for crp_filter_funnel ahead of its round-5
    driver-window entry, plus the funnel's defining monotone chain."""
    from sql_cdc_spark.queries.corpus_q import (
        _FILTER_FUNNEL_SQL,
        crp_filter_funnel,
    )

    df = crp_filter_funnel(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _FILTER_FUNNEL_SQL)

    r = df.collect()[0]
    assert (
        r.n_docs
        >= r.n_after_length
        >= r.n_after_quality
        >= r.n_after_repetition
        >= r.n_after_dedup
        > 0
    )
    assert 0 <= r.n_fail_multi <= r.n_docs


def test_filter_funnel_planted_fixture(spark):
    """Every funnel counter exercised: the sf0.01 corpus drops docs only
    at the quality stage, so plant a corpus where each stage drops
    exactly one document and one doc fails multiple gates — and check
    the Spark funnel against the DuckDB twin on the SAME fixture."""
    import duckdb
    import pandas as pd

    from sql_cdc_spark.queries.corpus_q import (
        _FILTER_FUNNEL_SQL,
        filter_funnel,
    )

    good = (
        "the quick brown fox jumps over a lazy dog near the river bank "
        "while the tall trees sway gently in a warm summer breeze today"
    )
    fixture = pd.DataFrame(
        {
            "doc_id": [1, 2, 3, 4, 5, 6],
            "text": [
                good,                                  # passes everything
                good + " and the birds sing softly",   # passes everything
                good,                                  # exact dup of 1 → dedup drop
                "xy zz qq",                            # short: fails len+qual+rep
                "the cat " * 20,                       # fails repetition only
                " ".join(f"q{i}zk7f" for i in range(30)),  # fails quality only
            ],
        }
    )
    sdf = spark.createDataFrame(fixture)
    row = filter_funnel(sdf).collect()[0]

    con = duckdb.connect()
    con.register("documents", fixture)
    orow = con.execute(_FILTER_FUNNEL_SQL).fetchall()[0]
    assert tuple(row) == orow

    assert row.n_docs == 6
    assert row.n_after_length == 5       # the 3-token doc fails
    assert row.n_after_quality == 4      # the stopword-free hex doc fails
    assert row.n_after_repetition == 3   # the "the cat"*20 doc fails
    assert row.n_after_dedup == 2        # dup pair collapses
    assert row.n_fail_multi == 1         # only the short doc fails ≥2 gates


# (spark simpleString, duckdb type) pairs the driver's type-sensitive
# value-hash is KNOWN to tolerate: int32-vs-BIGINT is proven tolerated
# (win_order_ranks was hash-green in round 1 with exactly that split).
# HUGEINT is proven NOT tolerated (the tpch_q12 round-3 red row), so a
# DuckDB aggregate must be CAST to BIGINT rather than whitelisted here.
_TYPE_COMPAT = {
    ("bigint", "BIGINT"), ("int", "INTEGER"), ("int", "BIGINT"),
    ("bigint", "INTEGER"), ("double", "DOUBLE"), ("float", "FLOAT"),
    ("string", "VARCHAR"), ("date", "DATE"), ("boolean", "BOOLEAN"),
    ("timestamp", "TIMESTAMP"), ("timestamp_ntz", "TIMESTAMP"),
    ("smallint", "SMALLINT"), ("tinyint", "TINYINT"), ("binary", "BLOB"),
    # JSON fetches as str — proven tolerated (cdc_flagship_documents'
    # lines_json column was hash-green in the round-3 driver run)
    ("string", "JSON"),
}


def _types_ok(spark_t: str, duck_t: str) -> bool:
    if (spark_t, duck_t) in _TYPE_COMPAT:
        return True
    if spark_t.startswith("array<") and duck_t.endswith("[]"):
        return (spark_t[6:-1], duck_t[:-2]) in _TYPE_COMPAT
    return False


@pytest.mark.parametrize("name", _tiered(ORACLE_CASES))
def test_oracle_column_types_compatible(spark, oracle, name):
    """Authoring-time guard for the driver's TYPE-SENSITIVE value hash:
    every oracle column's DuckDB type must be hash-compatible with the
    Spark column's type. This is the check that would have caught the
    tpch_q12 HUGEINT red row (DuckDB's bare SUM over integers) before it
    reached a driver round — analysis only, nothing executes."""
    entry = REG[name]
    stypes = {
        f.name: f.dataType.simpleString()
        for f in entry.fn(spark, SF_DIR).schema.fields
    }
    rel = oracle.sql(entry.oracle)
    dtypes = dict(zip(rel.columns, (str(t) for t in rel.types)))
    bad = {
        c: (st, dtypes.get(c, "MISSING"))
        for c, st in stypes.items()
        if not _types_ok(st, dtypes.get(c, "MISSING"))
    }
    assert not bad, f"{name}: hash-incompatible column types {bad}"


def test_dsir_select_matches_oracle(spark, oracle):
    """Oracle-parity gate for crp_dsir_select ahead of its round-5
    driver-window entry, plus the selection invariants: only raw-pool
    (below-gate) docs are scored, the rate is the exact rounded ratio of
    the two integer bit sums, and the budgeted result is the TOP of the
    (rate, doc_id) total order — re-derived here from the full unlimited
    ranking."""
    from sql_cdc_spark.queries.corpus_q import (
        DSIR_K,
        MIN_QUALITY,
        _dsir_sql,
        crp_dsir_select,
    )
    from sql_cdc_spark.queries.text_q import _QUALITY_EXPR_SQL

    df = crp_dsir_select(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _dsir_sql())

    rows = df.collect()
    assert rows, "DSIR selection is vacuously empty"
    assert len(rows) <= DSIR_K
    for r in rows:
        assert r.n_grams > 0
        assert 0 <= r.tgt_bits
        assert 0 <= r.raw_bits
        # tolerance, not equality: Spark ROUND is HALF_UP while
        # Python's round() is banker's — they diverge on exact 6-dp ties
        assert abs(r.imp_rate - (r.tgt_bits - r.raw_bits) / r.n_grams) < 1e-6
    # the scored pool is exactly the below-gate docs; the kept set is the
    # top-K of the total order over that pool
    pool = {
        d for (d,) in oracle.execute(
            f"""SELECT doc_id FROM (
                  SELECT doc_id, ({_QUALITY_EXPR_SQL}) AS q
                  FROM documents) WHERE q < {MIN_QUALITY}"""
        ).fetchall()
    }
    assert {r.doc_id for r in rows} <= pool
    ranked = sorted(rows, key=lambda r: (-r.imp_rate, r.doc_id))
    assert [r.doc_id for r in ranked] == [r.doc_id for r in rows]


def test_semantic_dedup_matches_oracle(spark, oracle):
    """Oracle-parity gate for sim_semantic_dedup ahead of its round-5
    driver-window entry, plus the election invariants: every keeper has
    a smaller id than the row it displaces, keepers share the dropped
    row's bucket, the threshold really binds, and at least one KEPT
    vector shares a bucket with a dropped one (the election is
    non-vacuous — it kept a representative, not an empty bucket)."""
    from sql_cdc_spark.queries.similarity_q import (
        SEMDEDUP_T,
        _semantic_dedup_sql,
        sim_semantic_dedup,
    )

    df = sim_semantic_dedup(spark, SF_DIR)
    assert_matches_oracle(df, oracle, _semantic_dedup_sql())

    rows = df.collect()
    assert rows, "semantic dedup dropped nothing — threshold is vacuous"
    dropped = {r.vec_id for r in rows}
    for r in rows:
        assert r.keeper_id < r.vec_id
        assert r.cos_sim >= SEMDEDUP_T
    # keepers that are themselves never dropped exist (a representative
    # survives per redundancy group under the smaller-id rule)
    keepers = {r.keeper_id for r in rows}
    assert keepers - dropped, "every keeper was itself dropped"


def test_out_of_order_census_planted_lateness(spark):
    """The driver corpus is fully in-order, so the registered census is
    one row; plant a stream with known per-band lateness and pin every
    band edge (inclusive upper bounds), the per-user scoping (one
    user's late event does not contaminate another's), and the
    first-event-per-user in-order rule."""
    import datetime as dt

    from sql_cdc_spark.queries.events_q import out_of_order_census

    t0 = dt.datetime(2025, 1, 1, 12, 0, 0)
    s = dt.timedelta(seconds=1)
    rows = [
        # user 1: in order, then exactly-60s late (lt_1m edge), then
        # 61s late (lt_1h), then 1-day late (lt_1d edge), then beyond
        (1, 1, t0),
        (1, 2, t0 + 1000 * s),
        (1, 3, t0 + 1000 * s - 60 * s),
        (1, 4, t0 + 1000 * s - 61 * s),
        (1, 5, t0 + 1000 * s - 86400 * s),
        (1, 6, t0 + 1000 * s - 86401 * s),
        # user 2: its first event is older than user 1's history but
        # must read in-order (per-user scoping + no-predecessor rule)
        (2, 7, t0 - 999999 * s),
        (2, 8, t0 - 999998 * s),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_id long, ts timestamp"
    )
    got = {r.band: (r.band_ord, r.n_events, r.share_ppm)
           for r in out_of_order_census(ev).collect()}
    assert got == {
        "in_order": (0, 4, 500000),
        "lt_1m": (1, 1, 125000),
        "lt_1h": (2, 1, 125000),
        "lt_1d": (3, 1, 125000),
        "ge_1d": (4, 1, 125000),
    }


def test_semdedup_sweep_ties_to_election(spark):
    """The sweep's row at the registered SEMDEDUP_T must count exactly
    the vectors the registered election drops (the sweep is the tuning
    measurement FOR that constant — if they disagree, the sweep is
    measuring a different decision than the one shipped), sweep counts
    must be monotone non-increasing in the threshold, and drop_ppm must
    be the integer ppm of n_dropped over the corpus count."""
    from sql_cdc_spark.queries.similarity_q import (
        SEMDEDUP_T,
        sim_semantic_dedup,
        sim_semdedup_sweep,
    )

    rows = sim_semdedup_sweep(spark, SF_DIR).collect()
    assert [r.threshold_micro for r in rows] == sorted(
        r.threshold_micro for r in rows
    )
    drops = [r.n_dropped for r in rows]
    assert drops == sorted(drops, reverse=True), "sweep not monotone"
    mid = {r.threshold_micro: r for r in rows}[round(SEMDEDUP_T * 1e6)]
    assert mid.n_dropped == sim_semantic_dedup(spark, SF_DIR).count()
    for r in rows:
        assert r.drop_ppm == 1_000_000 * r.n_dropped // r.n_total


def test_tfidf_topterms_invariants(spark, oracle):
    """Shape invariants for txt_tfidf_topterms beyond the parametrized
    parity row: per-doc rank contiguity, the score ordering the rank
    claims, and a ground-truth tf spot-check for one (doc, term)
    against a raw token scan."""
    from sql_cdc_spark.queries.text_q import TFIDF_TOPK, txt_tfidf_topterms

    rows = txt_tfidf_topterms(spark, SF_DIR).collect()
    assert rows
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, rs in by_doc.items():
        assert [r.rk for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TFIDF_TOPK
        for a, b in zip(rs, rs[1:]):
            assert (a.score_bits, b.term) >= (b.score_bits, a.term)
    probe = rows[0]
    n = oracle.execute(
        r"""
        SELECT COUNT(*) FROM (
          SELECT unnest(string_split_regex(
            trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+')) AS tk
          FROM documents WHERE doc_id = ?
        ) WHERE tk = ?
        """,
        [probe.doc_id, probe.term],
    ).fetchone()[0]
    assert n == probe.tf


def test_ngram_novelty_invariants(spark, oracle):
    """txt_ngram_novelty: probe set is exactly the mod class, bounds
    hold, and n_tri for one probe doc equals an independent distinct-
    trigram count."""
    from sql_cdc_spark.queries.text_q import NOVELTY_MOD, txt_ngram_novelty

    rows = txt_ngram_novelty(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.doc_id % NOVELTY_MOD == 0
        assert 0 <= r.n_novel <= r.n_tri
        assert 0 <= r.novelty_ppm <= 1_000_000
    probe = rows[0]
    n_tri = oracle.execute(
        r"""
        SELECT COUNT(DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2])
        FROM (SELECT string_split_regex(
                trim(regexp_replace(lower(text), '\s+', ' ', 'g')), '\s+') AS t
              FROM documents WHERE doc_id = ?),
             unnest(range(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 3
        """,
        [probe.doc_id],
    ).fetchone()[0]
    assert n_tri == probe.n_tri


def test_dedup_impact_invariants(spark, oracle):
    """dd_dedup_impact totals must reconcile with the corpus and with
    dd_exact's digest algebra: Σ n_docs == |documents| and Σ n_dup_docs
    == |documents| − |distinct digests|."""
    from sql_cdc_spark.queries.dedup_q import dd_dedup_impact

    rows = dd_dedup_impact(spark, SF_DIR).collect()
    n_docs_total = sum(r.n_docs for r in rows)
    n_dup_total = sum(r.n_dup_docs for r in rows)
    n_corpus, n_digests = oracle.execute(
        r"""
        SELECT COUNT(*),
               COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))))
        FROM documents
        """
    ).fetchone()
    assert n_docs_total == n_corpus
    assert n_dup_total == n_corpus - n_digests
    for r in rows:
        assert 0 <= r.n_dup_docs <= r.n_docs
        assert 0 <= r.n_dup_chars <= r.n_chars


def test_compaction_plan_invariants(spark, oracle):
    """scl_compaction_plan conservation and ordering: per source the
    plan's files and chars sum to the listing's, bins start at 0 and
    strictly increase (NOT necessarily contiguously — a file at least
    2× the target legally skips the bins it spans, per the offset-begin
    rule: a bin only exists if some file STARTS inside it), and bin
    contents are doc-ordered."""
    from collections import defaultdict

    from sql_cdc_spark.queries.scale_q import (
        COMPACTION_TARGET_CHARS,
        scl_compaction_plan,
    )

    rows = scl_compaction_plan(spark, SF_DIR).collect()
    per_src = defaultdict(list)
    for r in rows:
        per_src[r.source].append(r)
    truth = dict(
        (s, (n, c))
        for s, n, c in oracle.execute(
            "SELECT source, COUNT(*), SUM(n_chars) FROM documents GROUP BY 1"
        ).fetchall()
    )
    assert set(per_src) == set(truth)
    for s, rs in per_src.items():
        bins = [r.bin for r in rs]
        assert bins[0] == 0  # the first file starts at offset 0
        assert all(a < b for a, b in zip(bins, bins[1:]))
        assert sum(r.n_files for r in rs) == truth[s][0]
        assert sum(r.bin_chars for r in rs) == truth[s][1]
        # every non-final bin must have been filled past its start
        for r in rs[:-1]:
            assert r.bin_chars > 0
        # a bin's contents start inside it: first_doc ordering is
        # monotone across bins
        for a, b in zip(rs, rs[1:]):
            assert a.last_doc < b.first_doc


def test_mutual_knn_is_reciprocal_subset(spark):
    """Every mutual edge must appear in BOTH directions of the directed
    knn result with the same cosine, and directed edges without a
    reciprocal must be absent."""
    from sql_cdc_spark.queries.similarity_q import (
        sim_knn_join_arrow,
        sim_mutual_knn,
    )

    directed = {
        (r.vec_id, r.nn_id): r.cos_sim
        for r in sim_knn_join_arrow(spark, SF_DIR).collect()
    }
    mutual = sim_mutual_knn(spark, SF_DIR).collect()
    assert mutual
    seen = set()
    for r in mutual:
        assert r.id_a < r.id_b
        assert directed.get((r.id_a, r.id_b)) == r.cos_sim
        assert directed.get((r.id_b, r.id_a)) == r.cos_sim
        seen.add((r.id_a, r.id_b))
    # completeness: every reciprocal directed pair is reported
    expect = {
        (a, b)
        for (a, b) in ((min(x, y), max(x, y)) for (x, y) in directed)
        if (a, b) in directed and (b, a) in directed
    }
    assert seen == expect


def test_kmeans_step_invariants(spark, oracle):
    """sim_kmeans_step conservation: assignment counts sum to the
    corpus, every seed's own cluster contains at least the seed itself
    with dist² 0 (so inertia of a singleton seed cluster is 0), and
    clusters are the seed id space."""
    from sql_cdc_spark.queries.similarity_q import KMEANS_K, sim_kmeans_step

    rows = sim_kmeans_step(spark, SF_DIR).collect()
    n_vecs = oracle.execute("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    assert sum(r.n for r in rows) == n_vecs
    assert {r.cluster_id for r in rows} <= set(range(KMEANS_K))
    for r in rows:
        assert r.n >= 1 and r.inertia >= 0 and r.drift >= 0
        # a singleton cluster holds exactly its seed: zero inertia and
        # zero drift by definition
        if r.n == 1:
            assert r.inertia == 0 and r.drift == 0


def test_domain_reweight_invariants(spark, oracle):
    """crp_domain_reweight: weights renormalize (Σ weight_ppm ≤ 1e6 with
    only integer-division loss), only harder-than-reference domains
    boost, the boost is capped, and the per-domain gram totals reconcile
    with the shared per-doc LM scores (the _lm_doc_scores contract)."""
    from sql_cdc_spark.queries.corpus_q import (
        DOREMI_MAX_BITS,
        DOREMI_MILLI_PER_BIT,
        crp_domain_reweight,
        crp_ngram_lm_score,
    )

    rows = crp_domain_reweight(spark, SF_DIR).collect()
    assert rows
    n_domains = len(rows)
    total_ppm = sum(r.weight_ppm for r in rows)
    assert 1_000_000 - n_domains <= total_ppm <= 1_000_000
    for r in rows:
        assert 0 <= r.boost_bits <= DOREMI_MAX_BITS
        assert r.boost_bits == min(
            r.excess_milli // DOREMI_MILLI_PER_BIT, DOREMI_MAX_BITS
        )
        assert r.weight_ppm > 0
    # harder domains (positive excess) must never weigh less than an
    # easier domain (zero excess)
    boosted = [r.weight_ppm for r in rows if r.boost_bits > 0]
    flat = [r.weight_ppm for r in rows if r.boost_bits == 0]
    if boosted and flat:
        assert min(boosted) > max(flat)
    # gram totals reconcile with the per-doc report both operators share
    per_doc = crp_ngram_lm_score(spark, SF_DIR).collect()
    assert sum(r.n_grams for r in rows) == sum(d.n_ngrams for d in per_doc)


def test_ann_recall_eval_invariants(spark, oracle):
    """sim_ann_recall_eval: one row per panel probe, hit counts bounded
    by both sides, recall_pct consistent with the counts, and the exact
    side always retrieves the full k (corpus ≫ k)."""
    from sql_cdc_spark.queries.similarity_q import (
        ANN_EVAL_PROBES,
        TOP_K,
        sim_ann_recall_eval,
    )

    rows = sim_ann_recall_eval(spark, SF_DIR).collect()
    assert [r.probe_id for r in rows] == list(range(ANN_EVAL_PROBES))
    for r in rows:
        assert r.n_exact == TOP_K
        assert 0 <= r.n_ann <= TOP_K
        assert 0 <= r.n_hits <= min(r.n_exact, r.n_ann)
        assert r.recall_pct == 100 * r.n_hits // r.n_exact
    # the panel must be informative: not all-zero and not vacuously
    # perfect (single-probe LSH genuinely trades recall)
    recalls = [r.recall_pct for r in rows]
    assert any(v > 0 for v in recalls)


def test_lsh_recall_eval_invariants(spark, oracle):
    """dd_lsh_recall_eval: counts bounded, recall consistent, the total
    truth mass reconciles with dd_jaccard_pairs, and every caught pair
    is a genuine LSH candidate (n_caught never exceeds the candidate
    join's possibilities)."""
    from sql_cdc_spark.queries.dedup_q import (
        JACCARD_THRESHOLD,
        dd_jaccard_pairs,
        dd_lsh_recall_eval,
    )

    rows = dd_lsh_recall_eval(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.band_lo in range(int(JACCARD_THRESHOLD * 100), 100, 10)
        assert 0 <= r.n_caught <= r.n_exact
        assert r.recall_pct == 100 * r.n_caught // r.n_exact
    assert sum(r.n_exact for r in rows) == dd_jaccard_pairs(
        spark, SF_DIR
    ).count()


def test_grouping_sets_invariants(spark, oracle):
    """rel_grouping_sets: the four set shapes present with the right
    gid bitmasks, per-set row counts and revenue mass all reconcile to
    the grand total, and subtotal NULLs appear exactly where gid says
    they must."""
    from sql_cdc_spark.queries.relational_q import rel_grouping_sets

    rows = rel_grouping_sets(spark, SF_DIR).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    assert set(by_gid) == {0, 1, 2, 3}
    grand = by_gid[3]
    assert len(grand) == 1 and grand[0].l_returnflag is None
    total_rows, total_rev = grand[0].n_rows, grand[0].revenue_cents
    for gid, members in by_gid.items():
        assert sum(m.n_rows for m in members) == total_rows
        assert sum(m.revenue_cents for m in members) == total_rev
        for m in members:
            assert (m.l_linestatus is None) == bool(gid & 1)
            assert (m.l_returnflag is None) == bool(gid & 2)


def test_pagerank_step_matches_python_recompute(spark):
    """sim_pagerank_step: independent integer recompute of one power
    iteration from the directed knn result — degrees, floor-division
    contributions, inflow, and the damped rank must match the report
    bit-for-bit, and the top-50 cut must be the true (rank desc, id)
    order over ALL nodes, not just agree on membership."""
    from sql_cdc_spark.queries.similarity_q import (
        PR_RANK_UNIT,
        PR_TOPN,
        sim_knn_join_arrow,
        sim_pagerank_step,
    )

    directed_raw = sim_knn_join_arrow(spark, SF_DIR).collect()
    und = {
        (min(r.vec_id, r.nn_id), max(r.vec_id, r.nn_id)) for r in directed_raw
    }
    deg: dict[int, int] = {}
    for a, b in und:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    inflow: dict[int, int] = {}
    for a, b in und:
        inflow[b] = inflow.get(b, 0) + PR_RANK_UNIT // deg[a]
        inflow[a] = inflow.get(a, 0) + PR_RANK_UNIT // deg[b]
    rank = {
        n: PR_RANK_UNIT * 15 // 100 + (85 * inflow[n]) // 100 for n in deg
    }
    expect = sorted(deg, key=lambda n: (-rank[n], n))[:PR_TOPN]

    rows = sim_pagerank_step(spark, SF_DIR).collect()
    assert [r.vec_id for r in rows] == expect
    for r in rows:
        assert r.degree == deg[r.vec_id]
        assert r.rank_ppm == rank[r.vec_id]
    # the graph must be non-trivial for the operator to mean anything:
    # hubs exist (degree spread) and rank is not a monotone function of
    # degree somewhere in the full node set (it depends on neighbor
    # degrees, which is the point of running the iteration at all)
    assert max(deg.values()) > min(deg.values())
    nodes = sorted(deg)
    assert any(
        deg[x] < deg[y] and rank[x] > rank[y]
        for x in nodes
        for y in nodes
        if x != y
    )


def test_pmi_collocations_invariants(spark, oracle):
    """txt_pmi_collocations: every reported pair meets the support
    floor, the staged-ppm lift recomputes exactly from the reported
    counts, marginals reconcile against an independent DuckDB bigram
    count, and the report is the true top-k (no pair outside the report
    outranks its tail)."""
    from sql_cdc_spark.queries.text_q import (
        PMI_MIN_SUPPORT,
        PMI_TOPK,
        txt_pmi_collocations,
    )

    rows = txt_pmi_collocations(spark, SF_DIR).collect()
    assert 0 < len(rows) <= PMI_TOPK
    n_bi = oracle.execute(
        r"""SELECT SUM(len(string_split(
                 trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) - 1)
            FROM documents
            WHERE length(trim(text)) > 0"""
    ).fetchone()[0]
    for r in rows:
        assert r.n_xy >= PMI_MIN_SUPPORT
        assert r.n_xy <= min(r.n_x, r.n_y)
        assert r.lift_ppm == (r.n_xy * 1_000_000) // r.n_x * n_bi // r.n_y
    # independent marginal check for the top pair
    top = rows[0]
    got = oracle.execute(
        r"""
        WITH d AS (SELECT string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ws
             FROM documents),
        bg AS (SELECT ws[i] AS l, ws[i+1] AS r
               FROM d, UNNEST(generate_series(1, len(ws)-1)) AS t(i))
        SELECT COUNT(*) FILTER (l = ? AND r = ?),
               COUNT(*) FILTER (l = ?), COUNT(*) FILTER (r = ?)
        FROM bg
        """,
        [top.left_w, top.right_w, top.left_w, top.right_w],
    ).fetchone()
    assert (top.n_xy, top.n_x, top.n_y) == got


def test_dup_passage_census_invariants(spark, oracle):
    """txt_dup_passage_census: per-source passage totals reconcile with
    the corpus token counts (disjoint tiling ⇒ Σ floor(len/W) per
    source), dup mass is bounded by the total, the ppm recomputes, and
    a planted-duplicate sanity: sources containing exact-duplicate docs
    (digest groups from dd_exact) must show nonzero dup mass."""
    from sql_cdc_spark.queries.text_q import (
        PASSAGE_WORDS,
        txt_dup_passage_census,
    )

    rows = txt_dup_passage_census(spark, SF_DIR).collect()
    assert rows
    expect = dict(
        oracle.execute(
            rf"""SELECT source, SUM(len(string_split(
                   trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))
                   // {PASSAGE_WORDS})
                FROM documents GROUP BY 1"""
        ).fetchall()
    )
    for r in rows:
        assert r.n_passages == expect[r.source]
        assert 0 <= r.n_dup_passages <= r.n_passages
        assert r.dup_ppm == r.n_dup_passages * 1_000_000 // r.n_passages
    dup_sources = {
        s
        for (s,) in oracle.execute(
            """SELECT DISTINCT source FROM documents
               WHERE md5(text) IN (
                 SELECT md5(text) FROM documents
                 GROUP BY 1 HAVING COUNT(*) > 1)"""
        ).fetchall()
    }
    by_source = {r.source: r for r in rows}
    for s in dup_sources:
        assert by_source[s].n_dup_passages > 0


def test_fuzzy_match_block_invariants(spark, oracle):
    """rel_fuzzy_match_block: pairs are canonical (key_a < key_b),
    distances are true Levenshtein within the threshold (spot-recomputed
    in Python), every pair shares its block, and completeness: a planted
    exhaustive in-block scan finds no accepted pair the operator
    missed."""
    from sql_cdc_spark.queries.relational_q import (
        FUZZY_MAX_EDIT,
        rel_fuzzy_match_block,
    )

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    rows = rel_fuzzy_match_block(spark, SF_DIR).collect()
    assert rows
    for r in rows[:50]:
        assert r.key_a < r.key_b
        assert 0 <= r.edit_dist <= FUZZY_MAX_EDIT
        assert lev(r.name_a, r.name_b) == r.edit_dist
    got_pairs = {(r.key_a, r.key_b) for r in rows}
    parts = oracle.execute(
        "SELECT p_partkey, p_name, p_brand, p_type FROM part"
    ).fetchall()
    blocks: dict[tuple, list] = {}
    for k, n, b, t in parts:
        blocks.setdefault((b, t), []).append((k, n))
    expect = set()
    for members in blocks.values():
        for i, (ka, na) in enumerate(members):
            for kb, nb in members[i + 1 :]:
                if abs(len(na) - len(nb)) <= FUZZY_MAX_EDIT and lev(
                    na, nb
                ) <= FUZZY_MAX_EDIT:
                    expect.add((min(ka, kb), max(ka, kb)))
    assert got_pairs == expect


def test_power_iteration_matches_python_recompute(spark):
    """sim_power_iteration: bit-exact recompute of y = Xᵀ(X·v₀) in the
    integer-milli domain from the raw parquet, plus the non-degeneracy
    statement that makes the step meaningful: y is not a scalar multiple
    of v₀ (one iteration genuinely rotates the direction)."""
    import pyarrow.parquet as pq

    from sql_cdc_spark.queries.similarity_q import (
        POWER_SEED_ID,
        POWER_UNIT,
        sim_power_iteration,
    )

    tbl = pq.read_table(f"{SF_DIR}/embeddings.parquet").to_pydict()

    def q(x: float) -> int:  # half-away-from-zero, the engines' ROUND
        import math

        v = float(x) * POWER_UNIT
        return math.floor(v + 0.5) if v >= 0 else math.ceil(v - 0.5)

    vecs = {
        vid: [q(x) for x in emb]
        for vid, emb in zip(tbl["vec_id"], tbl["embedding"])
    }
    seed = vecs[POWER_SEED_ID]
    dims = len(seed)
    y = [0] * dims
    for v in vecs.values():
        dot = sum(a * b for a, b in zip(v, seed))
        for d in range(dims):
            y[d] += dot * v[d]
    rows = sim_power_iteration(spark, SF_DIR).collect()
    assert [r.dim_id for r in rows] == list(range(1, dims + 1))
    assert [r.y for r in rows] == y
    # not collinear with the seed: cross-ratios differ somewhere
    assert any(
        y[i] * seed[j] != y[j] * seed[i]
        for i in range(dims)
        for j in range(i + 1, dims)
    )


def test_passage_census_short_docs_tile_to_zero(spark):
    """Regression (review finding): documents under PASSAGE_WORDS words
    must contribute ZERO passages — the unguarded tiling emitted two
    phantom tiles via Spark's descending sequence(0, -1), one of them
    '', which made unrelated short docs count as cross-source
    duplicates and diverged from the DuckDB oracle."""
    from sql_cdc_spark.queries.text_q import passage_census

    docs = spark.createDataFrame(
        [
            (1, "a", "one two three"),                      # 3 words
            (2, "b", ""),                                   # empty
            (3, "b", "   "),                                # whitespace
            (4, "c", " ".join(["w"] * 8)),                  # exactly 8
            (5, "d", " ".join(["w"] * 8)),                  # its twin
        ],
        "doc_id long, source string, text string",
    )
    rows = {r.source: r for r in passage_census(docs).collect()}
    assert set(rows) == {"c", "d"}  # short/empty sources absent entirely
    for s in ("c", "d"):
        assert rows[s].n_passages == 1
        assert rows[s].n_dup_passages == 1  # the planted twin, not ''
        assert rows[s].dup_ppm == 1_000_000

def test_range_partition_plan_empty_sample_degrades_to_single_bucket(
    spark, tmp_path
):
    """ADVICE r7: a degenerate input whose deterministic 5% sample is
    EMPTY made every target rank 0 (which row_number never emits) and
    crashed the Spark side with KeyError while the oracle degraded
    gracefully to one bucket. Both engines must now agree: zero bounds,
    a single bucket 0 holding the whole table."""
    import hashlib

    import duckdb

    from sql_cdc_spark.queries import scale_q

    keys, k = [], 1
    while len(keys) < 5:  # keys the salted md5 draw does NOT sample
        h = int(
            hashlib.md5(f"{scale_q.RANGE_SALT}{k}".encode()).hexdigest()[:15],
            16,
        )
        if h % 100 >= scale_q.RANGE_SAMPLE_PCT:
            keys.append(k)
        k += 1
    spark.createDataFrame(
        [(kk, 100.0 + kk) for kk in keys],
        "o_orderkey long, o_totalprice double",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = scale_q.scl_range_partition_plan(spark, str(tmp_path))
    rows = out.collect()
    assert [(r.bucket_id, r.n_rows, r.fill_permille) for r in rows] == [
        (0, 5, 1000 * 5 * scale_q.RANGE_BUCKETS // 5)
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW orders AS SELECT * FROM "
        f"read_parquet('{tmp_path}/orders.parquet/*.parquet')"
    )
    assert_matches_oracle(out, con, scale_q._RANGE_PLAN_SQL)
