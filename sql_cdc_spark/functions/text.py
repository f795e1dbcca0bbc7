"""Text-analysis functions for LLM training-data pipelines: tokenization,
normalization, fingerprinting, quality scoring, language ID.

All column expressions are built-in pyspark.sql.functions (JVM-side,
whole-stage-codegen'd) — no Python UDFs in any hot path, so these run at
scan speed over a 100 TB documents table. Every function has an exact
DuckDB-SQL twin (same operations, same constants) used by the oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_RE = r"\s+"

# marker words per language for the n-gram/stopword language-ID heuristic;
# ordered dict — CASE evaluation order is the deterministic tie-break
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " die ", " und "],
    "fr": [" le ", " la ", " et "],
    "es": [" el ", " los ", " y "],
    "zh": [" de ", " shi ", " le "],
}


def tokens(col: Column) -> Column:
    """Whitespace tokenization (the BPE-ish regex split baseline)."""
    return F.split(F.trim(col), TOKEN_RE)


def token_count(col: Column) -> Column:
    return F.size(tokens(col))


def normalize_text(col: Column) -> Column:
    """Canonical form for near-dup detection: lowercase + collapse runs of
    whitespace + trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def normalize_words(col: Column) -> Column:
    """Word array of the canonical lowercased form — the n-gram unit for
    vocabulary counting (single-space split is exact because
    normalize_text collapsed every whitespace run)."""
    return F.split(normalize_text(col), " ")


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text —
    the exact-dedup key. (Content-defined rolling-hash chunking would sit
    here for partial-dup detection; md5-of-normalized is the whole-doc
    variant.)"""
    return F.md5(normalize_text(col))


BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"

ROLLING_BASE = 31
ROLLING_MOD = 1_000_000_007


def bpe_tokens(col: Column) -> Column:
    """BPE-ish sub-word split of the lowercased text: letter runs, digit
    runs, punctuation runs — the pre-tokenization pass of byte-pair
    encoders, as one scan-speed regex."""
    return F.regexp_extract_all(F.lower(col), F.lit(BPE_RE), 0)


def passage_chunks(words: Column, width: int) -> Column:
    """Disjoint ``width``-word passage tiles of a token array — the ONE
    tiling expression behind the duplicated-passage census (batch query,
    streaming maintenance state, bench stress), shared so the consumers
    cannot drift. Documents shorter than ``width`` words tile to ZERO
    passages: the guard matters because Spark's sequence(0, -1) yields
    the DESCENDING [0, -1] (two phantom tiles, one of them '' — and ''
    tiles from unrelated short docs would count as cross-source
    duplicates), while the DuckDB oracle's generate_series(0, -1) is
    empty."""
    # blank text: Spark's split('') yields [''] (one empty token) while
    # DuckDB's string_split('') yields [] — treat the single-''-token
    # array as zero words so width=1 cannot tile a phantom '' passage
    # (found by the family-13 width fuzz, seed 1)
    n = F.when(
        (F.size(words) == 1) & (F.element_at(words, 1) == F.lit("")),
        F.lit(0),
    ).otherwise(F.size(words))
    tiles = F.transform(
        F.sequence(F.lit(0), F.floor(n / width) - 1),
        lambda i: F.concat_ws(" ", F.slice(words, i * width + 1, width)),
    )
    return F.when(n >= width, tiles).otherwise(
        F.array().cast("array<string>")
    )


BPE_MERGE_MIN = 2  # stop training when the best pair is this rare


def merge_pair(tokens: Column, left: str, right: str) -> Column:
    """One BPE merge applied to a token array: every LEFT-TO-RIGHT
    NON-OVERLAPPING adjacent (left, right) occurrence fuses into one
    token (the standard BPE convention: in 'a a a' the first two fuse,
    the third survives). Implemented as a scan-local F.aggregate left
    fold carrying (emitted-so-far, pending token) — no UDF, no join, no
    regex on re-joined strings (token text may contain any punctuation,
    so string-level replace would need fragile escaping)."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("pend"),
    )

    def step(acc: Column, t: Column) -> Column:
        return (
            F.when(
                acc.pend.isNull(),
                F.struct(acc.out.alias("out"), t.alias("pend")),
            )
            .when(
                (acc.pend == F.lit(left)) & (t == F.lit(right)),
                F.struct(
                    F.concat(acc.out, F.array(F.lit(left + right))).alias(
                        "out"
                    ),
                    F.lit(None).cast("string").alias("pend"),
                ),
            )
            .otherwise(
                F.struct(
                    F.concat(acc.out, F.array(acc.pend)).alias("out"),
                    t.alias("pend"),
                )
            )
        )

    return F.aggregate(
        tokens,
        init,
        step,
        lambda acc: F.when(acc.pend.isNull(), acc.out).otherwise(
            F.concat(acc.out, F.array(acc.pend))
        ),
    )


def bpe_train(
    docs, n_merges: int = 10
) -> tuple[list[tuple[str, str, int]], "object"]:
    """Distributed BPE tokenizer training — the full loop whose census
    step is the registered txt_bpe_pair_census shape: each round counts
    adjacent pairs over the CURRENT token sequences (one map-side-
    combined groupBy — the round's only shuffle), elects the most
    frequent pair ((n desc, left, right) total order, so the learned
    merge table is deterministic on any engine), applies the merge with
    the scan-local fold above, and repeats on the rewritten corpus.
    Stops early when the best pair drops under BPE_MERGE_MIN.

    Returns (merge table [(left, right, count)], final tokenized frame
    (doc_id, t)). Driver state per round is ONE collected row; the
    token table is localCheckpoint'ed and the superseded snapshot
    released each round (the dup_clusters lineage discipline). Cost per
    round is one corpus scan + one pair groupBy — the reason real BPE
    trainers batch merges; this is the exact, unbatched reference
    semantics."""
    from sql_cdc_spark.functions.dedup import release_local_checkpoint

    toks = docs.select(
        "doc_id", bpe_tokens(F.col("text")).alias("t")
    ).localCheckpoint()
    pairs_expr = F.expr(
        "transform(slice(t, 1, greatest(size(t) - 1, 0)), "
        "(x, i) -> struct(x AS left, element_at(t, i + 2) AS right))"
    )
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        top = (
            toks.select(F.explode(pairs_expr).alias("p"))
            .groupBy("p.left", "p.right")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or int(top[0]["n"]) < BPE_MERGE_MIN:
            break
        left, right, n = top[0]["left"], top[0]["right"], int(top[0]["n"])
        merges.append((left, right, n))
        nxt = toks.select(
            "doc_id", merge_pair(F.col("t"), left, right).alias("t")
        ).localCheckpoint()
        release_local_checkpoint(toks)
        toks = nxt
    return merges, toks


def bpe_encode(docs, merges: list[tuple[str, str, int]]):
    """Tokenizer INFERENCE: apply a learned merge table to fresh text —
    pre-tokenize, then chain every merge in learned order as nested
    scan-local folds. The whole encode is ONE shuffle-free projection
    (|merges| nested aggregates in a single expression), so cost is
    corpus-LINEAR with zero exchanges — deployable inside the ingest
    pipeline. Per-document the fold is O(tokens²) per merge (each
    append rebuilds the accumulated array), fine at ordinary document
    lengths; book-length token sequences want a chunked pre-split
    first. By construction bpe_encode(docs, merges) equals the training
    loop's final token table when run on the training corpus (each fold
    IS the loop's merge step, applied in the same order)."""
    t = bpe_tokens(F.col("text"))
    for left, right, _ in merges:
        t = merge_pair(t, left, right)
    return docs.select("doc_id", t.alias("t"))


def rolling_hash(col: Column) -> Column:
    """Polynomial (Rabin–Karp) rolling hash of the full text:
    h = Σ c_i·B^(n−i) mod M, folded left-to-right with built-in
    higher-order functions — all-integer, so bit-identical in any engine.
    The same recurrence windowed over k chars is the content-defined
    chunking primitive; the whole-doc fold is its fingerprint form."""
    codes = F.transform(F.split(col, ""), F.ascii)
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * ROLLING_BASE + c) % ROLLING_MOD,
    )


WINNOW_K = 4  # words per k-gram (the fingerprint granularity)
WINNOW_W = 3  # winnowing window: one fingerprint per W consecutive grams


def gram_hashes(words: Column, k: int = WINNOW_K) -> Column:
    """Rabin–Karp hash of every k-word gram of a token array →
    array<long> (one hash per position). ``words`` MUST be a bound
    column attribute, not an inline expression: the gram transform
    references it once per position, and an inline subtree would
    re-evaluate per reference. Guards (the documented cross-engine
    blank hazards): blank text's [''] token array counts as zero
    words, and the position sequence is when()-gated so a sub-width
    document yields ZERO grams rather than Spark's descending phantom
    sequence(0, -1)."""
    n = F.when(
        (F.size(words) == 1) & (F.element_at(words, 1) == F.lit("")),
        F.lit(0),
    ).otherwise(F.size(words))
    m = n - k + 1  # gram count
    return F.when(
        m >= 1,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda i: rolling_hash(F.concat_ws(" ", F.slice(words, i, k))),
        ),
    ).otherwise(F.array().cast("array<long>"))


def window_mins(hashes: Column, w: int = WINNOW_W) -> Column:
    """The winnowing selection over a gram-hash array: the DISTINCT
    minimum of each window of w consecutive hashes. ``hashes`` MUST be
    a bound column attribute — round 7 measured the inline form at
    350 s vs 3.4 s staged at sf0.1, because each of the m−w+1 window
    slices re-evaluated the whole O(m·len) gram-hash subtree
    (O(m²·len) per document). Tie handling: the fingerprint is the
    hash VALUE, so equal-hash ties inside a window select the same
    value regardless of position — position choice (rightmost in the
    paper) only matters when fingerprints carry positions, and the
    distinct fold erases it."""
    nw = F.size(hashes) - w + 1
    fps = F.when(
        nw >= 1,
        F.transform(
            F.sequence(F.lit(1), nw),
            lambda j: F.array_min(F.slice(hashes, j, w)),
        ),
    ).otherwise(F.array().cast("array<long>"))
    return F.array_distinct(fps)


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    SIGMOD 2003 — the MOSS algorithm) → one (id, fp) row per DISTINCT
    selected fingerprint per document: hash every k-word gram with the
    shared Rabin–Karp recurrence, then keep the MINIMUM hash of each
    window of w consecutive gram hashes. Guarantees: any shared run of
    ≥ k+w−1 words between two documents shares at least one selected
    fingerprint, while only ~1/w of the gram hashes are kept — the
    sub-sampling that makes partial-overlap detection affordable where
    full k-gram posting would not be.

    Pure scan-local array algebra (no UDF, no shuffle), all-integer
    polynomial hashing — bit-identical on any engine. STAGED as three
    projections so each array binds as a column attribute between
    stages (words → gram hashes → window mins); see window_mins for
    the measured quadratic hazard of the single-expression form."""
    ws = docs.select(F.col(id_col), normalize_words(F.col(text_col)).alias("__ws"))
    hs = ws.select(id_col, gram_hashes(F.col("__ws"), k).alias("__hs"))
    return hs.select(
        F.col(id_col), F.explode(window_mins(F.col("__hs"), w)).alias("fp")
    )


def occurrence_count(col: Column, needle: str) -> Column:
    """Count non-overlapping occurrences of a literal via the
    length-difference trick — identical semantics in Spark and DuckDB
    (regexp_count implementations differ on overlaps; this does not)."""
    return (
        (F.length(col) - F.length(F.replace(col, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def quality_score(col: Column) -> Column:
    """Heuristic quality score in [0,1]: blends token count (length
    prior), mean token length, and stopword ratio. Deterministic scalar
    arithmetic — same expression tree as the DuckDB twin."""
    n_tok = token_count(col).cast("double")
    n_char = F.length(col).cast("double")
    mean_tok_len = (n_char - n_tok + 1) / n_tok  # chars excl. single spaces
    stop_hits = (
        occurrence_count(F.concat(F.lit(" "), F.lower(col), F.lit(" ")), " the ")
        + occurrence_count(F.concat(F.lit(" "), F.lower(col), F.lit(" ")), " a ")
    ).cast("double")
    stop_ratio = stop_hits / n_tok
    length_component = F.least(n_tok / 100.0, F.lit(1.0))
    toklen_component = F.least(mean_tok_len / 8.0, F.lit(1.0))
    stop_component = F.least(stop_ratio * 5.0, F.lit(1.0))
    raw = 0.4 * length_component + 0.3 * toklen_component + 0.3 * stop_component
    # DuckDB's ROUND(x, 6) is round(x * 1e6) / 1e6 on the binary double;
    # F.round(x, 6) rounds HALF_UP on x's decimal string and so disagrees
    # at exact decimal ties (0.5123125 -> 0.512313 vs 0.512312). A
    # scale-0 round of x * 1e6 sees the same binary value DuckDB does.
    return F.round(raw * 1e6) / 1e6


def language_scores(col: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over the padded lowercase text."""
    padded = F.concat(F.lit(" "), F.lower(col), F.lit(" "))
    return {
        lang: sum(
            (occurrence_count(padded, m) for m in markers), start=F.lit(0)
        ).alias(f"score_{lang}")
        for lang, markers in LANG_MARKERS.items()
    }


def language_id(col: Column) -> Column:
    """Deterministic argmax over language scores; first language in
    LANG_MARKERS order wins ties (mirrors the CASE chain in the oracle)."""
    scores = language_scores(col)
    langs = list(scores)
    expr = F.lit(langs[-1])
    # build CASE from the back so earlier languages take precedence
    for lang in reversed(langs[:-1]):
        cond = None
        for other in langs:
            if other == lang:
                continue
            # strictly greater than later langs, >= than earlier handled by order
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


# the context-window chunk grid — single source of truth for the batch
# query (queries/corpus_q.py::crp_chunk_documents) and the streaming
# chunk-table maintenance (streaming/chunk_maintenance.py)
CHUNK_CHARS = 200   # chunk window (chars — the char-domain stand-in for tokens)
CHUNK_STRIDE = 150  # stride; CHUNK_CHARS - CHUNK_STRIDE chars of overlap


def chunk_spans(
    docs, chunk_chars: int = CHUNK_CHARS, stride: int = CHUNK_STRIDE,
    text_col: str = "text", id_col: str = "doc_id",
):
    """Overlapping fixed-window chunk spans per document: windows of
    ``chunk_chars`` chars every ``stride`` chars. Emits one row per chunk
    with (id, chunk_index, chunk_start, chunk_len, chunk_digest); an
    empty text yields a single zero-length chunk, and the final chunk is
    short when the text doesn't fill the window. Pure per-row explode of
    an arithmetic sequence — zero shuffles, scan-speed at any corpus
    size. The md5 digest stands in for the chunk payload so comparisons
    never move chunk text."""
    n = F.length(text_col)
    starts = F.sequence(
        F.lit(0), F.greatest(n - F.lit(1), F.lit(0)), F.lit(stride)
    )
    return (
        docs.select(id_col, text_col, F.explode(starts).alias("cs"))
        .select(
            id_col,
            F.expr(f"cs DIV {stride}").cast("bigint").alias("chunk_index"),
            F.col("cs").cast("bigint").alias("chunk_start"),
            F.least(F.lit(chunk_chars), F.length(text_col) - F.col("cs"))
            .cast("bigint")
            .alias("chunk_len"),
            F.md5(F.expr(f"substring({text_col}, cs + 1, {chunk_chars})")).alias(
                "chunk_digest"
            ),
        )
    )


def quality_gate_from_hist(hist):
    """Per-language (n_docs, median_micro, n_kept) from a (lang, q_u,
    cnt) quality value-histogram — the single source of the median-gate
    derivation shared by the batch query (queries/text_q.py::
    txt_quality_gate builds its histogram in one scan) and the streaming
    state (streaming/quality_maintenance.py maintains the same histogram
    incrementally). A running sum over the compact histogram; 2·cum ≥
    tot picks the ceil(n/2)-th value — the discrete LOWER median (what
    quantile_disc/percentile_disc at 0.5 return). Changing the rule here
    changes BOTH gates, so they cannot drift."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("lang").orderBy("q_u")
    cum = hist.select(
        "lang",
        "q_u",
        "cnt",
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("cnt")
        .over(
            Window.partitionBy("lang").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("tot"),
    )
    reach = F.lit(2) * F.col("cum") >= F.col("tot")
    return (
        cum.groupBy("lang")
        .agg(
            F.sum("cnt").alias("n_docs"),
            F.min(F.when(reach, F.col("q_u"))).alias("median_micro"),
            F.sum(F.when(reach, F.col("cnt")).otherwise(F.lit(0))).alias(
                "n_kept"
            ),
        )
        .orderBy("lang")
    )


def bm25_rank(tf, census, k: int = 10):
    """Integer-exact BM25 ranking over a prepared term-frequency frame —
    the ONE scoring derivation shared by the batch query
    (queries/text_q.py::txt_bm25_search) and the maintained search index
    (streaming/search_maintenance.py::score_query), so the two surfaces
    cannot drift.

    ``tf``: (doc_id, dl, term, tf) — one row per (matched doc, query
    term); ``census``: one row (N, A) where A = 1000·total_tokens div N
    (milli-scaled average doc length). k1 = 6/5 and b = 3/4 multiplied
    out over 20·A keep every product under int64 at corpus scale; the
    idf surrogate is the bin-length floor(log2) trick, floored at 1 so
    a frequent-term corpus cannot zero the whole ranking. Returns the
    top-``k`` (doc_id, n_terms, score_milli), total-ordered."""
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "term")
        .crossJoin(F.broadcast(census))
        .select(
            "doc_id",
            F.greatest(
                F.lit(1).cast("long"),
                (
                    (F.length(F.bin(2 * (F.col("N") - F.col("df")) + 1)) - 1)
                    - (F.length(F.bin(2 * F.col("df") + 1)) - 1)
                ).cast("long"),
            ).alias("idf_bits"),
            F.expr(
                "(44000 * tf * A) div (20 * tf * A + 6 * A + 18000 * dl)"
            ).alias("sat_milli"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum(F.col("idf_bits") * F.col("sat_milli")).alias("score_milli"),
        )
        .orderBy(F.col("score_milli").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def tfidf_rank(postings, n_census, k: int = 3):
    """Integer-exact per-document TF-IDF top-k over a postings frame —
    the ONE derivation shared by the batch query
    (queries/text_q.py::txt_tfidf_topterms) and the maintained inverted
    index (streaming/search_maintenance.py::topterms_from_index), so
    the two surfaces cannot drift.

    ``postings``: (doc_id, term, tf) — all terms, live docs (empty-
    string tokens from empty documents are dropped HERE so both
    surfaces agree); ``n_census``: one row (N,). idf is the bin-length
    log2 surrogate UNFLOORED — corpus-dominant terms score negative,
    the suppression keyword extraction wants (BM25's floor is a
    matched-query contract, not a keyword one). The df join is a
    pinned shuffle-hash: the vocabulary is corpus-scale and
    integer-dense (the documented broadcast-abort band); the ranking
    window partitions by doc_id (bounded by per-doc vocabulary)."""
    from pyspark.sql import Window

    postings = postings.filter(F.col("term") != "")
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf_bits = (
        (F.length(F.bin(2 * (F.col("N") - F.col("df")) + 1)) - 1)
        - (F.length(F.bin(2 * F.col("df") + 1)) - 1)
    ).cast("long")
    scored = (
        postings.join(dfreq.hint("shuffle_hash"), "term")
        .crossJoin(F.broadcast(n_census))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            (F.col("tf") * idf_bits).alias("score_bits"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_bits").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("doc_id", "rk", "term", "tf", "df", "score_bits")
        .orderBy("doc_id", "rk")
    )
