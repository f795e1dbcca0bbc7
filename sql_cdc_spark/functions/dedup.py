"""Near-duplicate detection for LLM training data: exact (hash groupBy),
MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.

Everything is built-in-function column algebra (no Python UDFs) with
integer arithmetic chosen to be overflow-safe and bit-identical in DuckDB,
so each stage is oracle-gated.

Scale notes (100 TB corpus):
- exact dedup: one groupBy on a 128-bit digest — map-side combine, one
  shuffle of (digest, min_id, count).
- MinHash/LSH: shingle explode is the big intermediate (|docs| × |doc
  shingles|); signatures reduce it to k ints per doc, and the band join
  shuffles only (band_key → doc_id) pairs. Never materializes all-pairs.
- SimHash: one 64-int signature per doc; candidate pairs via banding the
  signature halves (multi-probe extends recall); verification is xor +
  bit_count — pure integer codegen.
- n-gram Jaccard verification only runs on candidate pairs.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from sql_cdc_spark.functions.text import fingerprint, normalize_text, tokens
from sql_cdc_spark.streaming.feed import ckpt

# MinHash parameters — shared constants for the Spark and DuckDB sides.
MINHASH_MOD = 1_000_003          # prime; keeps a*h+b within int64
MINHASH_PARAMS = [(2, 1), (3, 7), (5, 13), (7, 31), (11, 101), (13, 257), (17, 991), (19, 1203)]
MINHASH_K = len(MINHASH_PARAMS)
LSH_BAND_ROWS = 2                # 4 bands × 2 rows

SIMHASH_BITS = 32


def _grouped_pairs(df: DataFrame, key_col: str, id_col: str) -> DataFrame:
    """Every a<b id pair within each key group, generated IN-ROW from a
    sorted per-key array instead of a self-join: groupBy(key) →
    sort_array(collect_list(id)) → element i paired with every LATER
    element. The (element, index) transform lambda is the repo-rule
    footgun used on purpose: the 1-based slice from i+2 yields each
    unordered pair exactly once. Emits one row per (key, pair)
    OCCURRENCE — the LSH caller .distinct()s across bands, the
    containment caller counts multiplicity as the intersection size.
    The single source of the subtlest expression in this file; measured
    faster than the equivalent self-join (SURVEY.md §2 containment row)."""
    grouped = df.groupBy(key_col).agg(
        F.sort_array(F.collect_list(id_col)).alias("__ids")
    )
    return grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(__ids, (a, i) -> "
                "transform(slice(__ids, i + 2, size(__ids)), "
                "b -> struct(a AS id_a, b AS id_b))))"
            )
        ).alias("__p")
    ).select("__p.id_a", "__p.id_b")


SHINGLE_K = 3  # shared by the JVM expression path and the Arrow kernel


def shingles(text_col: Column, k: int = SHINGLE_K) -> Column:
    """k-token shingles of the normalized text (array of strings).
    Documents shorter than k tokens yield their full token string."""
    toks = tokens(normalize_text(text_col))
    n = F.size(toks)
    full = F.array(F.concat_ws(" ", toks))
    sh = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k)),
    )
    return F.when(n >= k, sh).otherwise(full)


def exact_duplicates(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on the normalized-text digest: one row per distinct
    content with canonical (min) id and duplicate count."""
    return (
        docs.select(F.col(id_col), fingerprint(F.col(text_col)).alias("digest"))
        .groupBy("digest")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def balance_partitions(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the cluster parallelism — only when
    the scan produced fewer splits than cores. Shingling/minhashing is
    compute-dense per input byte, and Spark sizes scan partitions by
    BYTES (maxPartitionBytes), so a small-but-expensive corpus otherwise
    runs single-task (parquet can't split below a row group). At real
    corpus scale the input already has ≥cores splits and this is a no-op
    — the shuffle only fires exactly when the layout starves the CPUs."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def doc_shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, sh64) distinct-per-doc — the shared input of MinHash,
    Jaccard and containment, as an ELECTED Arrow kernel (r9
    optimization; guide §4.2). The normalize/tokenize/3-gram/md5 scan is
    string-heavy and was measured at ~74% of the containment pipeline;
    the kernel runs it through C-backed re/hashlib over Arrow batches
    and dedups per doc IN-KERNEL — each doc occupies exactly one batch
    row, so the output is already (id, sh64)-distinct and the JVM
    path's full distinct EXCHANGE of the shingle table disappears.
    Same-window A/B on the bench 10× corpus: scan 3.55 → 0.92 s (3.8×),
    scan+minhash 3.48 → 1.08 s; bit-identical to the JVM-expression
    reference (tests/test_llm_ops.py::doc_shingles_exact) at sf0.01
    (26,136 rows), sf0.1 (260,388 rows) and on planted
    Unicode/whitespace/blank edge cases (Java regex \\s is ASCII-only —
    mirrored by re.ASCII; Spark trim strips 0x20 only — mirrored by
    strip(' '); str.lower() matched UTF8String.toLowerCase on every
    planted case incl. Turkish İ, ß, final sigma, titlecase digraphs).

    PRECONDITION (replaces the reference path's defensive global
    distinct): the input frame is keyed by ``id_col`` — one row per
    document. Every caller in this repo feeds keyed frames (base
    corpora, exact-dedup survivors, latest-per-key collapsed change
    batches), and the DuckDB oracle CTEs assume the same. A frame with
    duplicate id rows would double-count n_sh downstream
    (tests/test_llm_ops.py::test_doc_shingles_registry_inputs_are_keyed
    spot-checks every registry feed)."""
    from pyspark.sql.types import LongType, StructField, StructType

    id_field = docs.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("sh64", LongType(), True),
        ]
    )

    return (
        balance_partitions(docs)
        .select(F.col(id_col), F.col(text_col))
        .mapInArrow(_shingle_kernel(id_col), out_schema)
    )


# Per-task output-buffer bound for the shingling kernel (ADVICE r9 /
# VERDICT r9 #4): the r9 kernel buffered one OUTPUT RecordBatch per
# INPUT batch as Python lists — at Arrow's default 10k rows/batch a
# long-document corpus holds every doc's full shingle fan-out at once
# (a multi-GB per-task heap spike the streamed JVM path never had).
# Flushing every ~64k shingle rows bounds the buffer at a few MB; the
# residual worst case is max(FLUSH, one doc's own distinct shingles),
# which is the irreducible per-doc working set. 64k keeps batches large
# enough that the Arrow framing cost stays noise (measured: 10× scan
# unchanged within the ±10% done-criterion).
SHINGLE_FLUSH_ROWS = 1 << 16


def _shingle_kernel(id_col: str, flush_rows: int = SHINGLE_FLUSH_ROWS):
    """mapInArrow generator for doc_shingles — module-level factory so
    tests can drive the kernel directly over synthetic Arrow batches
    (batch-size bound, long-doc flush behavior). Semantics mirrored
    from the JVM reference are documented in doc_shingles."""
    k = SHINGLE_K

    def kernel(batches):
        import hashlib
        import re

        import pyarrow as pa

        ws = re.compile(r"\s+", re.ASCII)
        md5 = hashlib.md5
        out_ids: list = []
        out_sh: list = []
        id_type = None

        def flush():
            b = pa.RecordBatch.from_arrays(
                [pa.array(out_ids, id_type), pa.array(out_sh, pa.int64())],
                [id_col, "sh64"],
            )
            out_ids.clear()
            out_sh.clear()
            return b

        for batch in batches:
            id_arr = batch.column(0)
            id_type = id_arr.type
            ids = id_arr.to_pylist()
            texts = batch.column(1).to_pylist()
            for did, t in zip(ids, texts):
                norm = ws.sub(" ", (t or "").lower()).strip(" ")
                toks = norm.split(" ")
                if len(toks) >= k:
                    # two-level dedup: distinct shingle STRINGS first (so
                    # md5 runs once per distinct shingle), then distinct
                    # over the HASHED 60-bit ints — the (id, sh64) domain
                    # the exact path and the DuckDB oracle dedup on, so a
                    # within-doc md5-prefix collision collapses here too
                    # (ADVICE r9: string-domain dedup broke the '60-bit
                    # collisions included' contract in that corner)
                    shs = {
                        int(md5(s.encode()).hexdigest()[:15], 16)
                        for s in {
                            " ".join(toks[i : i + k])
                            for i in range(len(toks) - k + 1)
                        }
                    }
                else:
                    shs = {int(md5(norm.encode()).hexdigest()[:15], 16)}
                out_sh.extend(shs)
                out_ids.extend([did] * len(shs))
                if len(out_sh) >= flush_rows:
                    yield flush()
        if out_sh:
            yield flush()

    return kernel


def minhash_signatures(
    shingled: DataFrame, id_col: str = "doc_id", with_sizes: bool = False
) -> DataFrame:
    """k-permutation MinHash signature per document: h_i = min over
    shingles of (a_i * H + b_i) mod P, H = the pre-hashed shingle int
    mod P. One groupBy with k min-aggregates — map-side combined.

    ``with_sizes`` adds the per-doc distinct-shingle count ``n_sh`` to the
    same aggregate: callers that need set sizes later (Jaccard
    verification) get them from this one pass over the exploded shingle
    table instead of paying a second groupBy over it."""
    h = F.col("sh64") % MINHASH_MOD
    aggs = [
        F.min((F.lit(a) * h + F.lit(b)) % MINHASH_MOD).alias(f"mh{i}")
        for i, (a, b) in enumerate(MINHASH_PARAMS)
    ]
    if with_sizes:
        aggs.append(F.count(F.lit(1)).alias("n_sh"))
    return shingled.groupBy(id_col).agg(*aggs)


def band_keys(signatures: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, bkey): one bigint bucket key per LSH band — fold (band_index,
    row values) with base MINHASH_MOD, a bijection since every mh <
    MINHASH_MOD. Self-joins and the skew cap then key on a single 8-byte
    int instead of a (int, concatenated-string) pair: cheaper to build,
    hash, shuffle, and compare, with identical bucket membership."""
    n_bands = MINHASH_K // LSH_BAND_ROWS
    # the base-MINHASH_MOD fold below is only a bijection while every
    # folded key fits a signed 64-bit int; 2 rows at MOD≈2^31 is fine,
    # 4 rows would overflow silently — guard against constant drift
    assert n_bands * MINHASH_MOD**LSH_BAND_ROWS < 2**63, (
        "band-key fold overflows int64 — shrink LSH_BAND_ROWS/MINHASH_MOD"
    )

    def band_key(bi: int) -> Column:
        k: Column = F.lit(bi).cast("long")
        for r in range(LSH_BAND_ROWS):
            k = k * MINHASH_MOD + F.col(f"mh{bi * LSH_BAND_ROWS + r}")
        return k

    bands = F.array(*[band_key(bi) for bi in range(n_bands)])
    return signatures.select(F.col(id_col), F.explode(bands).alias("bkey"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Band the signature (bands of LSH_BAND_ROWS rows) and emit distinct
    candidate pairs (a < b) sharing any band. The join key is a single
    folded bigint per band (``bkey`` below): only same-bucket docs ever
    meet.

    ``max_bucket_size`` drops band buckets holding more than that many
    documents BEFORE any pairing: one boilerplate-heavy bucket of m docs
    otherwise emits m·(m−1)/2 pairs — quadratic in the hot bucket, the
    classic LSH skew blowup at corpus scale. Dropped buckets are almost
    always templated boilerplate whose members exact-dedup catches anyway;
    the recall cost is the documented trade (a deliberate, deterministic
    cap — NOT silent truncation: both the Spark plan and the DuckDB oracle
    apply the same predicate).

    Pairing strategy: with the cap in force, the banded table shuffles
    ONCE by bkey into cap-bounded sorted id arrays and the i<j pairs are
    emitted in-row — one fewer full banded-table network pass than the
    bkey self-join, with byte-identical output (late-r4 interleaved A/B
    on the full near-dup pipeline at sf0.1: 2.12/2.56 s vs 2.42/2.91 s).
    Without a cap the self-join form is kept: an unbounded hot bucket
    would otherwise materialize as one giant in-row array."""
    banded = band_keys(signatures, id_col)
    if max_bucket_size is not None:
        # the oversized-bucket list is tiny (hot boilerplate buckets):
        # aggregate with map-side combine and anti-broadcast it — cheaper
        # than a window count, which would sort every partition of the
        # full banded set just to attach a per-bucket size
        big = (
            banded.groupBy("bkey")
            .agg(F.count(F.lit(1)).alias("__bsz"))
            .filter(F.col("__bsz") > max_bucket_size)
            .select("bkey")
        )
        banded = banded.join(F.broadcast(big), ["bkey"], "left_anti")
        return _grouped_pairs(banded, "bkey", id_col).distinct()
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"), F.col(f"r.{id_col}").alias("id_b")
        )
        .distinct()
    )


def _grouped_sized_pairs(
    df: DataFrame, key_col: str, id_col: str, n_col: str
) -> DataFrame:
    """_grouped_pairs carrying a per-id payload column through pair
    generation: groupBy(key) → sort_array(collect_list(struct(id, n)))
    → the i<j pairs emit (id_a, id_b, n_a, n_b) in-row. The struct sorts
    by its FIRST field, and ids are unique within a key group, so the
    pair enumeration order is identical to _grouped_pairs on the bare
    ids. This is how the containment path ships each doc's rare-set
    size THROUGH the pair table instead of joining it back on
    afterwards (the r8-measured in-row-sizes plan — see
    containment_base)."""
    grouped = df.groupBy(key_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(id_col).alias("i"), F.col(n_col).alias("n")
                )
            )
        ).alias("__e")
    )
    return grouped.select(
        F.explode(
            F.expr(
                "flatten(transform(__e, (a, i) -> "
                "transform(slice(__e, i + 2, size(__e)), "
                "b -> struct(a.i AS id_a, b.i AS id_b, "
                "a.n AS n_a, b.n AS n_b))))"
            )
        ).alias("__p")
    ).select("__p.id_a", "__p.id_b", "__p.n_a", "__p.n_b")


def _candidate_intersections(
    hashed: DataFrame, candidates: DataFrame, id_col: str
) -> DataFrame:
    """(id_a, id_b, n_inter) for the given candidate pairs only:
    candidate-first expansion by id_a's shingles, kept where id_b also
    has them — O(|candidates| × shingles/doc), never the full
    shared-shingle pair space. Shared by Jaccard and containment so the
    intersection path cannot diverge between the two measures."""
    fa = hashed.select(F.col(id_col).alias("id_a"), "sh64")
    fb = hashed.select(F.col(id_col).alias("id_b"), "sh64")
    return (
        candidates.join(fa, "id_a")
        .join(fb, ["id_b", "sh64"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )


def _attach_sizes(
    inter: DataFrame,
    hashed: DataFrame,
    id_col: str,
    sizes: DataFrame | None,
    pin_shuffle: bool = False,
) -> DataFrame:
    """Join per-doc distinct-shingle counts onto (id_a, id_b, n_inter)
    as n_a/n_b; ``sizes`` (id_col, n_sh) reuses a count already produced
    elsewhere (minhash_signatures with_sizes=True).

    ``pin_shuffle`` hints the sizes side as the shuffle-hash build side.
    Callers whose pair table is UNBOUNDED (the blocking paths — no
    candidate cap, pair count grows with shared-shingle density) must
    pin: AQE broadcasts whichever side's compressed shuffle output dips
    under the threshold, and integer pair triples compress so well that
    at a measured 100× stress point it chose the PAIR table, collecting
    ~1 GiB of deserialized rows to the driver and aborting on
    maxResultSize. Sizes is one row per doc (also not broadcastable at
    corpus scale), so the blocking paths' only 100 TB-viable plan is the
    id-keyed hash join. The LSH CANDIDATE path's inter is bucket-cap-
    bounded and stays unpinned — its broadcast is only ever chosen when
    genuinely small, and the heap-derived maxResultSize covers the
    mid-band."""
    if sizes is None:
        sizes = hashed.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    if pin_shuffle:
        sa, sb = sa.hint("shuffle_hash"), sb.hint("shuffle_hash")
    return inter.join(sa, "id_a").join(sb, "id_b")


def jaccard_pairs(
    shingled: DataFrame,
    candidates: DataFrame | None = None,
    id_col: str = "doc_id",
    threshold: float = 0.5,
    sizes: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for pairs. With ``candidates`` given,
    only verifies those (the LSH path — linear-ish work); without, blocks
    on shared shingles (still avoids the full cross join: pairs sharing
    zero shingles are never generated). Input is doc_shingles' hashed
    (id, sh64) form — joins compare 8-byte ints, never shingle strings.

    Tried, measured, REVERTED (r10, guide §1.2): porting the r9
    containment in-row-sizes pattern to the blocking path (sizes attach
    to postings, (n_a, n_b) ride the sh64 self-join into the pair
    aggregate, pair table joins nothing) measured SLOWER — same-window
    interleaved A/B at sf0.1 with a warm shingle base and clean probes:
    old 1.108/1.029/1.020 s vs in-row 1.556/1.405/1.514 s, values
    identical (260 pairs; 1,130,536 pre-threshold pair groups over
    260,388 posting rows). Unlike containment (whose pair table ran two
    pinned joins measured at ~21 s of a 32 s 10× pipeline), both size
    attachments here are cheap hash joins of a DOC-sized table, while
    the in-row form widens the sh64 self-join shuffle by the two size
    ints and triples the pair aggregate's per-group state. The pinned
    pair-table⨝sizes shape stays."""
    hashed = shingled.select(F.col(id_col), "sh64")
    if candidates is not None:
        inter = _candidate_intersections(hashed, candidates, id_col)
    else:
        a = hashed.select(F.col(id_col).alias("id_a"), "sh64")
        b = hashed.select(F.col(id_col).alias("id_b"), "sh64")
        inter = (
            a.join(b, ["sh64"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
    return (
        # blocking path (no candidates): the pair table is unbounded, pin
        # the shuffle-hash plan; candidate path: cap-bounded, leave AQE free
        _attach_sizes(
            inter, hashed, id_col, sizes, pin_shuffle=candidates is None
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    shingled: DataFrame,
    id_col: str = "doc_id",
    df_cap: int = 20,
    threshold: float = 0.2,
    rare: DataFrame | None = None,
    base: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric shingle containment — |R(A)∩R(B)| / min(|R(A)|, |R(B)|)
    over the RARE-shingle domain R (document frequency ≤ ``df_cap``) —
    the near-dup measure symmetric Jaccard structurally misses: a short
    doc fully embedded in a long one has Jaccard ≈ |A|/|B| (arbitrarily
    small) but containment ~1.0. This is the quote/excerpt/boilerplate-
    wrapper detector a training-corpus dedup runs alongside whole-doc
    MinHash (the reference has no dedup surface at all; extension per
    SURVEY §2 north star).

    The whole computation lives on the rare domain, deliberately: hot
    shingles (df > cap) are corpus boilerplate, and content copied
    along with boilerplate should be judged by its DISTINCTIVE
    shingles — a doc that shares only a template wrapper with another
    scores 0, not high. Scale shape: the hot list is small by
    construction (≤ occurrences/cap) and broadcast-anti-joins away (the
    same skew guard as lsh_candidate_pairs' bucket cap); pair
    generation groups the rare table by sh64 ONCE and emits ≤ df_cap²/2
    pairs per shingle from bounded in-row arrays, aggregating STRAIGHT
    to (id_a, id_b, n_inter) — no distinct candidate materialization,
    no second expansion over full shingle sets (the r4 bench caught
    that shape at 14.7 s for sf0.1; this runs the same data in ~2.4 s),
    and no self-join second shuffle (see containment_base's A/B). All
    joins compare 8-byte ints.

    ``rare``: optionally the already-derived rare-domain postings
    (id, sh64) — callers that materialize the df census anyway
    (``build_containment_state``) pass it so the corpus-wide groupBy
    and hot anti-join run once, not twice.

    ``base``: optionally the already-built unthresholded pair table
    from ``containment_base`` — a session running BOTH this and
    ``containment_sweep`` over the same corpus persists the base once
    and both consume it (the two queries differ only in their cheap
    final projection/aggregation; see queries/dedup_q.py's per-session
    cache, VERDICT r4 #5)."""
    if base is None:
        base = containment_base(shingled, id_col, df_cap, rare)
    return (
        base
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.round(
                F.col("n_inter") / F.least(F.col("n_a"), F.col("n_b")), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def containment_base(
    shingled: DataFrame,
    id_col: str,
    df_cap: int,
    rare: DataFrame | None = None,
) -> DataFrame:
    """The unthresholded containment pair table (id_a, id_b, n_a, n_b,
    n_inter) over the rare-shingle domain — the shared heavy stage of
    ``containment_pairs`` and ``containment_sweep``.

    Pair generation is grouped, not self-joined: the rare table shuffles
    ONCE by sh64 into per-shingle sorted id arrays (bounded by df_cap,
    so no array ever exceeds the cap — the skew guard doubles as the
    memory bound), and the i<j pairs are emitted by an in-row array
    comprehension. Versus the sh64 self-join this removes one full
    rare-table network pass (the join's second shuffle side); a late-r4
    A/B at sf0.1 measured 2.39 s vs 2.84 s best-of-3 on the same data
    (both passes in the same window, equal probe), with byte-identical
    output.

    Sizes are IN-ROW (landed r9, measured r8): each doc's rare-set
    count attaches to the POSTINGS — one postings⨝sizes join, linear in
    the rare table — before pair generation, and the (id, n) struct
    pairs carry n_a/n_b straight through the pair aggregate, so the
    pair table joins NOTHING. The previous shape aggregated bare pairs
    and then ran TWO pinned shuffle-hash joins of the corpus-scale pair
    table against the sizes table — the family's measured cost center
    (~21 s of a 32.2 s 10× pipeline; the pair table is the largest
    relation in the whole family, 11.2M rows at 10× vs 2.5M postings).
    A/B at 10×: 28.0 s → 17.2 s, bit-identical 8,420 pairs (full-tuple
    parity). The postings join itself stays pinned shuffle-hash: both
    sides scale with the corpus, and AQE's compressed-size broadcast
    election is the measured maxResultSize hazard (_attach_sizes doc,
    CLAUDE.md)."""
    if rare is not None:
        rare_sh = rare.select(F.col(id_col), "sh64")
    else:
        hashed = shingled.select(F.col(id_col), "sh64")
        hot = (
            hashed.groupBy("sh64")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > df_cap)
            .select("sh64")
        )
        rare_sh = hashed.join(F.broadcast(hot), ["sh64"], "left_anti")
    sizes = rare_sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("__n"))
    sized = rare_sh.join(sizes.hint("shuffle_hash"), [id_col])
    # one pair row per shared rare shingle: multiplicity IS the
    # intersection size, so no .distinct() here; n_a/n_b are constant
    # per (id_a, id_b) so widening the grouping key changes nothing
    pairs = _grouped_sized_pairs(sized, "sh64", id_col, "__n")
    return pairs.groupBy("id_a", "id_b", "n_a", "n_b").agg(
        F.count(F.lit(1)).alias("n_inter")
    )


def containment_sweep(
    shingled: DataFrame,
    id_col: str = "doc_id",
    df_cap: int = 20,
    thresholds_pct: tuple[int, ...] = (10, 20, 50),
    base: DataFrame | None = None,
) -> DataFrame:
    """Operating-point sweep for containment dedup: per integer-percent
    threshold, how many pairs fire and how many distinct docs they touch
    — the report a corpus owner reads to CHOOSE the threshold before
    committing a dedup pass, computed from ONE shared intersection table
    (the expensive rare-domain self-join runs once; each extra threshold
    adds only a literal row to a generator, never a second corpus scan).

    ``base``: optionally the prebuilt unthresholded pair table — see
    ``containment_pairs``; the sweep and the pair query share one
    persisted base when a session runs both.

    Thresholds are integer percents and the test is cleared of division
    — ``100·n_inter ≥ pct·min(n_a, n_b)`` — so pair membership is
    bit-identical integer arithmetic on any engine (no ROUND boundary,
    unlike the 6-dp rounded score ``containment_pairs`` emits for
    human consumption). Returns (threshold_pct, n_pairs, n_docs) sorted
    by threshold; a threshold matching zero pairs emits no row.

    Scale shape: everything after the shared base operates on the PAIR
    table (corpus-size independent); the sweep explode multiplies pairs
    by |thresholds|, and the single aggregation carries a count plus a
    distinct-doc count per threshold. No second shuffle of corpus data.
    """
    if base is None:
        base = containment_base(shingled, id_col, df_cap)
    sw = base.select(
        F.explode(
            F.array(*[F.lit(int(p)) for p in thresholds_pct])
        ).alias("threshold_pct"),
        "id_a",
        "id_b",
        "n_inter",
        F.least(F.col("n_a"), F.col("n_b")).alias("__m"),
    ).filter(F.col("n_inter") * 100 >= F.col("threshold_pct") * F.col("__m"))
    ids = sw.select(
        "threshold_pct", F.explode(F.array("id_a", "id_b")).alias("__d")
    )
    return (
        ids.groupBy("threshold_pct")
        .agg(
            # integer div, not float /: past 2^53 exploded rows a double
            # quotient rounds while the oracle's // stays exact
            F.expr("count(1) div 2").alias("n_pairs"),
            F.countDistinct("__d").alias("n_docs"),
        )
        .orderBy("threshold_pct")
    )


SPAN_W = 5  # tokens per exact-substring window


def duplicate_spans(
    docs: DataFrame,
    w: int = SPAN_W,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document exact-substring duplication census — the
    deduplicate-training-data primitive (Lee et al. 2022's suffix-array
    pass, re-expressed as distributed window hashing): every ``w``-token
    window of the normalized text is hashed; a window occurring in ≥ 2
    DISTINCT documents is a duplicated span. Per document this reports
    how much of its content is boilerplate shared with the rest of the
    corpus — the signal used to strip templated headers/footers and
    copy-pasted passages that whole-doc MinHash can't see (two long docs
    sharing one paragraph never reach Jaccard 0.5).

    Output: (doc_id, n_windows, n_dup_windows, dup_fraction) for docs
    with at least one duplicated span. Docs shorter than ``w`` tokens
    have no windows and are never emitted.

    Scale shape: the exploded window table is the big intermediate
    (|docs| × |windows/doc|) but windows are hashed to 8-byte ints AT
    THE SOURCE (one md5 per window occurrence) and deduped per doc, so
    both groupBys move only ints; the per-window doc-count and the
    per-doc rollup shuffle on the SAME whash key back-to-back, so AQE
    reuses the partitioning. A suffix array would find variable-length
    maximal repeats; fixed-w windows are the bounded-memory, shuffle-
    friendly form (any repeat ≥ w tokens is caught by construction)."""
    toks = tokens(normalize_text(F.col(text_col)))
    n = F.size(toks)
    win_strs = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, w)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    whash = F.conv(F.substring(F.md5(F.col("w")), 1, 15), 16, 10).cast("long")
    wins = (
        balance_partitions(docs)
        .select(F.col(id_col), F.explode(win_strs).alias("w"))
        .select(F.col(id_col), whash.alias("whash"))
        .distinct()
    )
    dup_w = (
        wins.groupBy("whash")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
    )
    return (
        wins.join(dup_w, "whash", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count(F.col("n_docs")).alias("n_dup_windows"),
        )
        .filter(F.col("n_dup_windows") > 0)
        .select(
            id_col,
            "n_windows",
            "n_dup_windows",
            F.round(F.col("n_dup_windows") / F.col("n_windows"), 6).alias(
                "dup_fraction"
            ),
        )
    )


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks behind a localCheckpoint-ed DataFrame.

    ``DataFrame.unpersist()`` cannot do this — localCheckpoint data lives
    as a persisted RDD inside the plan's LogicalRDD node, not in the SQL
    cache manager — so without this, every checkpoint in a long-lived
    session (dup_clusters label rounds, superseded NearDupStates)
    accumulates until JVM GC happens to collect the RDD reference.
    ONLY call on snapshots nothing will read again: the lineage is
    truncated, so a released checkpoint cannot recompute. No-op when the
    frame isn't checkpoint-backed or the py4j plan shape changes."""
    try:
        rid = int(df._jdf.queryExecution().analyzed().rdd().id())
    except Exception:
        return
    try:
        df.sparkSession.sparkContext._jsc.sc().unpersistRDD(rid, False)
    except Exception:
        pass


class NearDupState(NamedTuple):
    """Materialized incremental near-dup state — the local analog of the
    parquet state tables a 100 TB corpus pipeline maintains between daily
    CDC batches. All five frames are lineage-cut (localCheckpoint), so
    repeated ``apply_near_dup_changes`` rounds never replan the whole
    history (at cluster scale these are state tables written to storage
    between batches)."""

    shingles: DataFrame      # (doc_id, sh64) distinct hashed shingles
    sigs: DataFrame          # (doc_id, mh0..mh{k-1}, n_sh)
    banded: DataFrame        # (doc_id, bkey) LSH band membership
    bucket_sizes: DataFrame  # (bkey, bsz) — members per band bucket
    pairs: DataFrame         # (id_a, id_b, jaccard) verified near-dups

    def release(self, keep_pairs: bool = False) -> None:
        """Free this state's checkpoint blocks — for a state superseded
        by a newer one, or (``keep_pairs=True``) for the four non-result
        tables once only the pair set is still needed."""
        frames = [self.shingles, self.sigs, self.banded, self.bucket_sizes]
        if not keep_pairs:
            frames.append(self.pairs)
        for df in frames:
            release_local_checkpoint(df)


def build_near_dup_state(
    docs: DataFrame,
    max_bucket_size: int | None = None,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> NearDupState:
    """Full near-dup computation that ALSO materializes the intermediate
    tables ``apply_near_dup_changes`` maintains incrementally. Same
    semantics as the dd_near_dup_pairs pipeline (LSH candidates capped at
    ``max_bucket_size``, exact-Jaccard verification at ``threshold``)."""
    shingled = ckpt(doc_shingles(docs, text_col, id_col))
    sigs = ckpt(minhash_signatures(shingled, id_col, with_sizes=True))
    banded = ckpt(band_keys(sigs, id_col))
    bucket_sizes = ckpt(
        banded.groupBy("bkey").agg(F.count(F.lit(1)).alias("bsz"))
    )
    cands = lsh_candidate_pairs(sigs, id_col, max_bucket_size)
    pairs = ckpt(
        jaccard_pairs(
            shingled,
            cands,
            id_col,
            threshold,
            sizes=sigs.select(id_col, "n_sh"),
        )
    )
    return NearDupState(shingled, sigs, banded, bucket_sizes, pairs)


def _bucket_pairs(
    banded: DataFrame, ok_bkeys: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct candidate pairs among members of the given (small,
    broadcastable) bucket-key set."""
    members = banded.join(F.broadcast(ok_bkeys), ["bkey"])
    left, right = members.alias("l"), members.alias("r")
    return (
        left.join(
            right,
            (F.col("l.bkey") == F.col("r.bkey"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
        )
        .distinct()
    )


def apply_near_dup_changes(
    state: NearDupState,
    upserts: DataFrame,
    deletes: DataFrame,
    max_bucket_size: int | None = None,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> NearDupState:
    """Incremental near-dup maintenance through a CDC batch — the dedup
    analog of refresh_aggregate_groups (operators/cdc.py): re-shingle
    ONLY the touched documents, recompute candidate pairs ONLY in the
    affected band buckets, and keep everything else from the prior state.
    Result is guaranteed equal to a full recompute over the post-change
    corpus (tests/test_llm_ops.py proves it through insert / update /
    delete, including hot-band-cap flips).

    ``upserts`` is (id, text) — inserts and updates; ``deletes`` is a
    one-column id frame. A doc appearing in both ends up present with the
    upserted text.

    Work per batch (the 100 TB story): shingling is O(|batch|); the
    affected-bucket set is ≤ |touched| × n_bands keys (broadcastable by
    construction); candidate regeneration and Jaccard verification touch
    only those buckets' members; the untouched-pair carry-over is one
    anti-join of the prior (small) pair set. The corpus-sized state
    tables are each touched by exactly one anti-join + union — a linear
    rewrite, which at cluster scale is an incremental parquet/Delta
    write, never a re-shingle.

    Cap-flip exactness: the hot-band cap makes pair survival
    non-monotonic — an affected bucket crossing ``max_bucket_size`` in
    either direction can create or destroy candidacy for pairs of
    UNtouched docs. Pairs whose only generating buckets are affected are
    therefore re-derived from the new bucket state; pairs with at least
    one UNaffected under-cap witness bucket are kept (their membership,
    sizes, and Jaccard are provably unchanged)."""
    touched = (
        upserts.select(id_col).union(deletes.select(id_col)).distinct()
    )
    tb = F.broadcast(touched)
    # batch-only work: shingle/sign/band the upserted docs
    sh_u = doc_shingles(upserts, text_col, id_col)
    sig_u = minhash_signatures(sh_u, id_col, with_sizes=True)
    b_u = band_keys(sig_u, id_col)
    # affected buckets: every bucket holding a touched doc in old OR new
    # banding — small (≤ |touched| × n_bands), lineage-cut for reuse
    b_old_t = state.banded.join(tb, [id_col])
    aff = ckpt(b_old_t.select("bkey").union(b_u.select("bkey")).distinct())
    # new state membership: one anti-join + union per table
    sh_new = ckpt(
        state.shingles.join(tb, [id_col], "left_anti").unionByName(sh_u)
    )
    sig_new = ckpt(
        state.sigs.join(tb, [id_col], "left_anti").unionByName(sig_u)
    )
    b_new = ckpt(state.banded.join(tb, [id_col], "left_anti").unionByName(b_u))
    # incremental bucket sizes: only affected keys change. Old sizes of
    # affected buckets (small: inner-broadcast) full-outer the ±delta.
    rem = b_old_t.groupBy("bkey").agg(F.count(F.lit(1)).alias("n_rem"))
    add = b_u.groupBy("bkey").agg(F.count(F.lit(1)).alias("n_add"))
    aff_sizes_old = ckpt(state.bucket_sizes.join(F.broadcast(aff), ["bkey"]))
    upd_sizes = ckpt(
        aff_sizes_old.join(rem, ["bkey"], "full")
        .join(add, ["bkey"], "full")
        .select(
            "bkey",
            (
                F.coalesce(F.col("bsz"), F.lit(0))
                - F.coalesce(F.col("n_rem"), F.lit(0))
                + F.coalesce(F.col("n_add"), F.lit(0))
            ).alias("bsz"),
        )
        .filter(F.col("bsz") > 0)
    )
    sizes_new = ckpt(
        state.bucket_sizes.join(F.broadcast(aff), ["bkey"], "left_anti")
        .unionByName(upd_sizes)
    )
    # candidate pairs of affected buckets, old and new state, under the
    # cap as evaluated against that state's bucket sizes
    cap = F.lit(max_bucket_size) if max_bucket_size is not None else None
    ok_new = (
        upd_sizes.filter(F.col("bsz") <= cap) if cap is not None else upd_sizes
    ).select("bkey")
    ok_old = (
        aff_sizes_old.filter(F.col("bsz") <= cap)
        if cap is not None
        else aff_sizes_old
    ).select("bkey")
    cand_new_aff = _bucket_pairs(b_new, ok_new, id_col)
    cand_old_aff = ckpt(_bucket_pairs(state.banded, ok_old, id_col))
    # prior pairs split: untouched by any affected bucket → carry over
    p_keep = state.pairs.join(cand_old_aff, ["id_a", "id_b"], "left_anti")
    p_aff = state.pairs.join(cand_old_aff, ["id_a", "id_b"], "left_semi")
    # resurrect: affected-bucket pairs that ALSO share an unaffected,
    # under-cap bucket — membership/size/Jaccard provably unchanged, so
    # the old verified row stands. (Buckets holding a touched doc are all
    # affected, so any pair involving a touched doc finds no witness.)
    ba = b_new.select(F.col(id_col).alias("id_a"), "bkey")
    bb = b_new.select(F.col(id_col).alias("id_b"), "bkey")
    wit = (
        p_aff.join(ba, ["id_a"])
        .join(bb, ["id_b", "bkey"])
        .join(F.broadcast(aff), ["bkey"], "left_anti")
    )
    if max_bucket_size is not None:
        # unaffected over-cap buckets can't witness; the hot-bucket list
        # is small by nature (≤ rows/cap) — same broadcast anti-join as
        # lsh_candidate_pairs' cap
        over = state.bucket_sizes.filter(
            F.col("bsz") > max_bucket_size
        ).select("bkey")
        wit = wit.join(F.broadcast(over), ["bkey"], "left_anti")
    resurrected = wit.select("id_a", "id_b", "jaccard").distinct()
    # fresh verification only for the affected buckets' new candidates
    verified_new = jaccard_pairs(
        sh_new,
        cand_new_aff,
        id_col,
        threshold,
        sizes=sig_new.select(id_col, "n_sh"),
    )
    pairs_new = ckpt(
        p_keep.unionByName(resurrected).unionByName(verified_new).distinct()
    )
    # every consumer of the internal snapshots is now materialized —
    # free them so chained batches don't accumulate scratch blocks
    for scratch in (aff, aff_sizes_old, upd_sizes, cand_old_aff):
        release_local_checkpoint(scratch)
    return NearDupState(sh_new, sig_new, b_new, sizes_new, pairs_new)


class ContainmentState(NamedTuple):
    """Materialized incremental containment-dedup state — the
    containment analog of NearDupState. Four frames, lineage-cut (at
    cluster scale these are parquet state tables maintained between
    daily CDC batches)."""

    shingles: DataFrame  # (doc_id, sh64) distinct hashed shingles
    dfreq: DataFrame     # (sh64, df) corpus-wide document frequency
    sizes: DataFrame     # (doc_id, n_rare) rare-domain set size
    pairs: DataFrame     # (id_a, id_b, n_a, n_b, containment) ≥ threshold

    def release(self, keep_pairs: bool = False) -> None:
        frames = [self.shingles, self.dfreq, self.sizes]
        if not keep_pairs:
            frames.append(self.pairs)
        for df in frames:
            release_local_checkpoint(df)


def build_containment_state(
    docs: DataFrame,
    df_cap: int = 20,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> ContainmentState:
    """Full containment computation that ALSO materializes the tables
    ``apply_containment_changes`` maintains incrementally. Same
    semantics as ``containment_pairs`` (rare domain = df ≤ ``df_cap``,
    emit pairs with containment ≥ ``threshold``)."""
    shingled = ckpt(doc_shingles(docs, text_col, id_col))
    dfreq = ckpt(shingled.groupBy("sh64").agg(F.count(F.lit(1)).alias("df")))
    hot = dfreq.filter(F.col("df") > df_cap).select("sh64")
    rare = shingled.join(F.broadcast(hot), ["sh64"], "left_anti")
    sizes = ckpt(rare.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_rare")))
    pairs = ckpt(
        # thread the already-derived rare postings so the corpus-wide
        # df groupBy and hot anti-join run once, not twice per build
        containment_pairs(shingled, id_col, df_cap, threshold, rare=rare)
    )
    return ContainmentState(shingled, dfreq, sizes, pairs)


def apply_containment_changes(
    state: ContainmentState,
    upserts: DataFrame,
    deletes: DataFrame,
    df_cap: int = 20,
    threshold: float = 0.2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> ContainmentState:
    """Incremental containment-dedup maintenance through a CDC batch —
    the containment twin of ``apply_near_dup_changes``, with one extra
    wrinkle the LSH path doesn't have: the rare-shingle domain is
    GLOBAL state. A batch that adds or removes occurrences of a shingle
    can push its document frequency across ``df_cap`` in either
    direction, which changes intersection counts and rare-set sizes for
    pairs of documents the batch never touched. Result is guaranteed
    equal to a full recompute over the post-change corpus
    (tests/test_llm_ops.py proves it through insert / update / delete,
    including engineered rarity flips in both directions).

    Exactness argument. Let D* = touched docs ∪ holders of any shingle
    whose df crossed the cap this batch ("flipped"). For a pair (A, B)
    with BOTH endpoints outside D*: neither doc's shingle set changed
    (untouched) and none of their shingles flipped (a holder of a
    flipped shingle is in D*), so their rare sets, sizes, and
    intersection are all unchanged — the stored row stands. Every other
    pair has an endpoint in D*, and is re-derived from the new rare
    postings: joining the FULL new rare sets of D* docs against the
    whole rare table emits every shared rare shingle of every such
    pair, so the re-aggregated n_inter is complete, and sizes come from
    the maintained sizes table (changed only for D* docs). This also
    catches pairs that ENTER the result because an endpoint's rare set
    shrank (n_inter unchanged, min-size down, containment up) — a case
    pure pair-rescoring would miss.

    Work per batch (the 100 TB story): shingling is O(|batch|); the df
    delta, flip set, and D* are batch-bounded (a flipped shingle has
    df ≤ cap + |batch occurrences|, so its posting list is small by
    construction); pair regeneration touches only D* postings × the
    rare table on 8-byte int keys; the corpus-sized state tables are
    each rewritten by one broadcast anti-join + union — at cluster
    scale an incremental parquet/Delta write, never a re-shingle."""
    touched = (
        upserts.select(id_col).union(deletes.select(id_col)).distinct()
    )
    tb = F.broadcast(touched)
    sh_u = doc_shingles(upserts, text_col, id_col)
    sh_old_t = state.shingles.join(tb, [id_col])
    # df delta over the batch's shingle occurrences (batch-sized)
    rem = sh_old_t.groupBy("sh64").agg(F.count(F.lit(1)).alias("__rem"))
    add = sh_u.groupBy("sh64").agg(F.count(F.lit(1)).alias("__add"))
    delta = ckpt(
        rem.join(add, ["sh64"], "full").select(
            "sh64",
            F.coalesce(F.col("__rem"), F.lit(0)).alias("__rem"),
            F.coalesce(F.col("__add"), F.lit(0)).alias("__add"),
        )
    )
    dkeys = F.broadcast(delta.select("sh64"))
    # old df rows for the delta keys only (small: inner broadcast join)
    aff_df_old = state.dfreq.join(dkeys, ["sh64"])
    merged = ckpt(
        delta.join(aff_df_old, ["sh64"], "left").select(
            "sh64",
            F.coalesce(F.col("df"), F.lit(0)).alias("__old_df"),
            (
                F.coalesce(F.col("df"), F.lit(0))
                - F.col("__rem")
                + F.col("__add")
            ).alias("__new_df"),
        )
    )
    flipped = merged.filter(
        (F.col("__old_df") > df_cap) != (F.col("__new_df") > df_cap)
    ).select("sh64")
    dfreq_new = ckpt(
        state.dfreq.join(dkeys, ["sh64"], "left_anti").unionByName(
            merged.filter(F.col("__new_df") > 0).select(
                "sh64", F.col("__new_df").alias("df")
            )
        )
    )
    sh_new = ckpt(
        state.shingles.join(tb, [id_col], "left_anti").unionByName(sh_u)
    )
    # D*: touched docs + every holder of a flipped shingle
    d_star = ckpt(
        touched.unionByName(
            sh_new.join(F.broadcast(flipped), ["sh64"]).select(id_col)
        ).distinct()
    )
    db = F.broadcast(d_star)
    hot_new = dfreq_new.filter(F.col("df") > df_cap).select("sh64")
    rare_new = sh_new.join(F.broadcast(hot_new), ["sh64"], "left_anti")
    ra = ckpt(rare_new.join(db, [id_col]))
    sz_star = ra.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_rare"))
    sizes_new = ckpt(
        state.sizes.join(db, [id_col], "left_anti").unionByName(sz_star)
    )
    # re-derived pairs: every shared rare shingle between a D* doc and
    # ANY doc. Both-in-D* pairs generate once from each side — the
    # distinct on (id_a, id_b, sh64) collapses the double count.
    cand = (
        ra.select(F.col(id_col).alias("__ia"), "sh64")
        .join(
            rare_new.select(F.col(id_col).alias("__ib"), "sh64"), ["sh64"]
        )
        .filter(F.col("__ia") != F.col("__ib"))
        .select(
            F.least("__ia", "__ib").alias("id_a"),
            F.greatest("__ia", "__ib").alias("id_b"),
            "sh64",
        )
        .distinct()
    )
    inter = cand.groupBy("id_a", "id_b").agg(
        F.count(F.lit(1)).alias("__n_inter")
    )
    sa = sizes_new.select(
        F.col(id_col).alias("id_a"), F.col("n_rare").alias("n_a")
    )
    sb = sizes_new.select(
        F.col(id_col).alias("id_b"), F.col("n_rare").alias("n_b")
    )
    # both size attachments broadcast the batch-sized side, so the
    # corpus-sized sizes table is only ever scanned, never shuffled
    fresh = (
        sb.join(F.broadcast(sa.join(F.broadcast(inter), ["id_a"])), ["id_b"])
        .select(
            "id_a",
            "id_b",
            "n_a",
            "n_b",
            F.round(
                F.col("__n_inter") / F.least(F.col("n_a"), F.col("n_b")), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )
    d_a = d_star.select(F.col(id_col).alias("id_a"))
    d_b = d_star.select(F.col(id_col).alias("id_b"))
    pairs_new = ckpt(
        state.pairs.join(F.broadcast(d_a), ["id_a"], "left_anti")
        .join(F.broadcast(d_b), ["id_b"], "left_anti")
        # the second USING join moved id_b to the front — restore the
        # containment_pairs column order before the union
        .select(*state.pairs.columns)
        .unionByName(fresh.select(*state.pairs.columns))
    )
    # all consumers of the scratch snapshots are now materialized
    for scratch in (delta, merged, ra):
        release_local_checkpoint(scratch)
    return ContainmentState(sh_new, dfreq_new, sizes_new, pairs_new)


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star operation (Kiveris et al., "Connected Components
    in MapReduce and Beyond", MLG 2014): for every node u, connect each
    strictly-larger neighbor to m = min(Γ(u) ∪ {u}). Edges in/out are
    undirected (a, b) rows, a ≠ b, distinct. The min side is one row per
    node; both sides scale with the pair table, so the join is pinned
    shuffle-hash (the unbounded-pair-path rule, CLAUDE.md)."""
    sym = edges.union(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    mins = sym.groupBy("a").agg(F.min("b").alias("__mn")).select(
        "a", F.least("a", "__mn").alias("__m")
    )
    return (
        sym.filter(F.col("b") > F.col("a"))
        .join(mins.hint("shuffle_hash"), "a")
        .select(F.col("b").alias("a"), F.col("__m").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star operation: direct every edge high→low; for every
    node h, connect h and all its smaller neighbors to m = min of those
    neighbors. Output edges all point (bigger, smaller)."""
    d = edges.select(
        F.greatest("a", "b").alias("h"), F.least("a", "b").alias("l")
    )
    mins = d.groupBy("h").agg(F.min("l").alias("__m"))
    return (
        d.join(mins.hint("shuffle_hash"), "h")
        .select(F.col("l").alias("a"), F.col("__m").alias("b"))
        .union(mins.select(F.col("h").alias("a"), F.col("__m").alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )


def dup_clusters(
    pairs: DataFrame, max_iters: int = 20, stats: dict | None = None
) -> DataFrame:
    """Connected components over near-dup pairs → (doc_id, cluster_id)
    with cluster_id = the smallest doc_id in the component. This is the
    final step of corpus dedup: keep one representative per cluster
    (``filter(doc_id == cluster_id)``), drop the rest.

    Alternating large-star/small-star (Kiveris et al. 2014, rewrite r9
    per VERDICT r8 #5): each round applies large-star then small-star;
    the edge set monotonically contracts toward a star forest whose
    centers are the component minima, converging in O(log diameter)
    rounds — the previous min-label propagation needed O(diameter)
    rounds and SILENTLY returned partial labels past ``max_iters`` (a
    planted 100-hop chain truncated at 20 rounds; the star algorithm
    finishes it in 3). Convergence is detected by an edge-set signature
    (count + hash sum — one scalar per round read driver-side; the
    operator stays fully distributed), and exhaustion of ``max_iters``
    without convergence RAISES instead of returning wrong labels
    (2^max_iters-diameter components would need a deliberately
    adversarial graph). ``localCheckpoint`` per round truncates lineage
    so round k never replans k rounds deep; each superseded snapshot is
    freed eagerly.

    Expects ``pairs`` with columns (id_a, id_b); singleton documents
    (never paired) are not emitted — they are their own clusters.
    """
    snap = (
        pairs.select(
            F.greatest("id_a", "id_b").alias("a"),
            F.least("id_a", "id_b").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    sig = None
    converged = False
    rounds = 0
    for _ in range(max_iters):
        stars = _small_star(_large_star(snap)).localCheckpoint()
        release_local_checkpoint(snap)
        snap = stars
        rounds += 1
        # set signature: count + XOR of per-edge hashes (edges are
        # distinct, so XOR identifies the set; SUM would ANSI-overflow)
        new_sig = tuple(
            stars.agg(
                F.count(F.lit(1)), F.bit_xor(F.xxhash64("a", "b"))
            ).first()
        )
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if stats is not None:
        stats["rounds"] = rounds
        stats["edges_final"] = sig[0] if sig else 0
    if not converged:
        raise RuntimeError(
            f"dup_clusters: star-contraction did not converge within "
            f"{max_iters} rounds — refusing to emit partial labels"
        )
    # converged state is a star forest: (child, component-min) edges;
    # centers appear only on the b side, children exactly once on a
    return snap.select(
        F.col("a").alias("doc_id"), F.col("b").alias("cluster_id")
    ).union(
        snap.select("b").distinct().select(
            F.col("b").alias("doc_id"), F.col("b").alias("cluster_id")
        )
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """SIMHASH_BITS-bit SimHash per document from token counts: bit b is
    the sign of Σ_tokens count · (2·bit_b(hash(token)) − 1). All-integer
    arithmetic — exact cross-engine parity, no float knife edges."""
    tok = (
        balance_partitions(docs)
        .select(F.col(id_col), F.explode(tokens(normalize_text(F.col(text_col)))).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    h = F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    bit_sums = [
        F.sum(
            F.col("cnt") * (F.shiftright(h, b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"s{b}")
        for b in range(SIMHASH_BITS)
    ]
    per_doc = tok.groupBy(id_col).agg(*bit_sums)
    sim = sum(
        (
            F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            for b in range(SIMHASH_BITS)
        ),
        start=F.lit(0),
    )
    return per_doc.select(F.col(id_col), sim.cast("long").alias("simhash"))


def simhash_pairs(
    sims: DataFrame, id_col: str = "doc_id", max_hamming: int = 6
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, blocked on signature
    halves (a pair within hamming ≤ 6 usually agrees on one 16-bit half;
    full recall needs more bands — documented tradeoff). Verification is
    xor + bit_count, pure integer codegen."""
    half_lo = F.col("simhash").bitwiseAND(F.lit((1 << 16) - 1))
    half_hi = F.shiftright(F.col("simhash"), 16).bitwiseAND(F.lit((1 << 16) - 1))
    blocked = sims.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("half"), half_lo.alias("key")),
                F.struct(F.lit(1).alias("half"), half_hi.alias("key")),
            )
        ).alias("b"),
    ).select(id_col, "simhash", F.col("b.half").alias("half"), F.col("b.key").alias("key"))
    l, r = blocked.alias("l"), blocked.alias("r")
    pairs = (
        l.join(
            r,
            (F.col("l.half") == F.col("r.half"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(
            F.col(f"l.{id_col}").alias("id_a"),
            F.col(f"r.{id_col}").alias("id_b"),
            F.bit_count(
                F.col("l.simhash").bitwiseXOR(F.col("r.simhash"))
            ).alias("hamming"),
        )
        .distinct()
    )
    return pairs.filter(F.col("hamming") <= max_hamming)
